package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Serving path over the published star schema — SURVEY §3 E3.
  *
  * The reference dashboard (streamlit/app.py:90) loads the ENTIRE fact
  * table with `SELECT * … ORDER BY DateKey`, then filters client-side
  * in pandas (:106-110) — a full materialize + full sort per page view,
  * repeated for every user interaction. This module serves the same
  * widgets without running a Spark job per request.
  *
  * The endpoints answer from a driver-resident view of the published
  * snapshot ([[SnapshotView]]): per IndexCode, the fact rows' DateKey
  * epoch days in sorted order next to the `/series` and `/latest` JSON
  * of each row (rendered once by Spark's own JSON generator, so bodies
  * are byte-identical to the DataFrame accessors' `toJSON`) and the
  * chart values; the global DateKey bounds; and the `/indexes` body.
  * `chartSvg`, `factDateBounds`, `indexKeyFor`, `seriesJson`,
  * `latestJson` and `indexesJson` read only the view: a date range is a
  * binary search, a row cap is a count check.
  *
  *  - Built lazily, with one collect of the fact (plus one of the
  *    KB-sized index dimension, kept for the StarServe's lifetime — the
  *    dims never change under `refresh()`).
  *  - After that, `refresh()` builds the new snapshot's view BEFORE it
  *    returns and swaps it in through one `@volatile` reference. A
  *    reader takes that reference once per request, so it never mixes
  *    two snapshots and never waits on a reload; the first request
  *    after `refresh()` returns already sees the new snapshot.
  *  - Memory: per fact row, its two JSON renderings (one byte per
  *    character for ASCII; joined per IndexCode into one string each,
  *    so no per-row object) plus 20 bytes of day and chart values —
  *    about 360 bytes per row of the star fact, 7 MB for the ~20 k rows
  *    of the reference market since 2000. Two views coexist only while
  *    `refresh()` builds; `release()` drops the view.
  *
  * The DataFrame accessors (`fact`, `factSlice`, `chartSeries`,
  * `latest`) stay the composable Spark API over the cached fact:
  * filter-first plans (the filter executes below the sort; ServeSpec
  * gates the shape), top-k as TakeOrderedAndProject, never a full sort.
  */
class StarServe(spark: SparkSession, starDir: String,
    factSnapshotDir: Option[String] = None) {

  // The fact source is either the static star parquet (batch publish)
  // or — snapshot mode — whatever snapshot the streaming upsert sink's
  // `_LATEST` pointer names, closing the reference's daily-batch →
  // dashboard loop with the incremental pipeline instead. Cached
  // either way; in snapshot mode `refresh()` polls the pointer (one
  // metadata read) and swaps cache and view only when it moved.
  @volatile private var factPtr: Option[String] =
    factSnapshotDir.flatMap(d =>
      graft.streaming.StreamingPipeline.latestSnapshotName(spark, d))
  private var factCache: Option[DataFrame] = None
  // the view of the snapshot `factCache` holds; null until first use
  @volatile private var current: SnapshotView = null

  /** The pointer read and the cached frame it names. Callers record
    * the pointer ACTUALLY loaded: without this, a snapshot published
    * between construction and the first load makes the next refresh()
    * see a "moved" pointer and reload data it already holds. (A flip
    * between these two reads is benign — refresh() just reloads once.) */
  private def loadFact(): (Option[String], DataFrame) = factSnapshotDir match {
    case Some(d) =>
      (graft.streaming.StreamingPipeline.latestSnapshotName(spark, d),
        graft.streaming.StreamingPipeline.readLatestSnapshot(spark, d).cache())
    case None => (None, spark.read.parquet(s"$starDir/fact_table.parquet").cache())
  }

  /** Cached fact frame (reference reads the same objects,
    * app.py:75-95). */
  def fact: DataFrame = synchronized {
    factCache.getOrElse {
      val (p, f) = loadFact()
      factPtr = p
      factCache = Some(f)
      f
    }
  }

  private lazy val dims: DimView = DimView.build(dimStockIndex)

  /** The current snapshot's view, built on first use. */
  private def view: SnapshotView = {
    val v = current
    if (v != null) v
    else synchronized {
      if (current == null) current = SnapshotView.build(fact, dims)
      current
    }
  }

  /** Snapshot mode: re-read the `_LATEST` pointer; when it names a new
    * snapshot, load and cache it, build its view (if the view is in
    * use) and only then swap both in. Returns true when a swap
    * happened. Static mode (no snapshot dir) always returns false — the
    * star parquet is immutable by the publish contract. */
  def refresh(): Boolean = synchronized {
    factSnapshotDir match {
      case None => false
      case Some(d) =>
        if (graft.streaming.StreamingPipeline.latestSnapshotName(spark, d) == factPtr) false
        else {
          val (p, f) = loadFact()
          val v =
            if (current == null) null
            else try SnapshotView.build(f, dims)
            catch { case e: Throwable => f.unpersist(); throw e }
          factCache.foreach(_.unpersist())
          factCache = Some(f)
          factPtr = p
          current = v
          true
        }
    }
  }

  /** Cached star dimension frames. */
  lazy val dimStockIndex: DataFrame =
    spark.read.parquet(s"$starDir/dim_stock_index.parquet").cache()
  lazy val dimDate: DataFrame =
    spark.read.parquet(s"$starDir/dim_date.parquet").cache()
  lazy val dimCountry: DataFrame =
    spark.read.parquet(s"$starDir/dim_country.parquet").cache()

  /** IndexCode → IndexKey, the sidebar mapping (app.py:97-99). */
  def indexKeyFor(indexCode: String): Option[String] = dims.keyFor(indexCode)

  /** Date bounds for the range picker (app.py:101-103); nulls when no
    * fact row has a DateKey, as `min`/`max` over the fact give. */
  def factDateBounds(): (java.sql.Date, java.sql.Date) = view.bounds match {
    case Some((lo, hi)) => (DateTimeUtils.toJavaDate(lo), DateTimeUtils.toJavaDate(hi))
    case None => (null, null)
  }

  /** The Charts slice (app.py:106-110), filter-before-sort: index +
    * date-range predicates are Catalyst filters below the sort. */
  def factSlice(indexCode: String, start: String, end: String): DataFrame =
    fact
      .join(broadcast(dimStockIndex.filter(col("IndexCode") === indexCode)
        .select(col("IndexKey"))), Seq("IndexKey"))
      .filter(col("DateKey") >= lit(start).cast("date") &&
        col("DateKey") <= lit(end).cast("date"))
      .orderBy(col("DateKey"))

  /** The chart's two series (app.py:118-127). */
  def chartSeries(indexCode: String, start: String, end: String): DataFrame =
    factSlice(indexCode, start, end)
      .select(col("DateKey"), col("Close"), col("GDPGrowthRate"))

  /** One IndexCode's rows in [start, end] of view `v`, refused with
    * [[StarServe.SliceTooLarge]] beyond `maxRows` — a count, nothing
    * is materialized first. */
  private def slice(v: SnapshotView, indexCode: String, start: String, end: String,
      maxRows: Int): (IndexRows, Int, Int) = {
    val rows = v.rowsOf(indexCode)
    val (lo, hi) = rows.range(StarServe.parseDate(start), StarServe.parseDate(end))
    if (hi - lo > maxRows)
      throw new StarServe.SliceTooLarge(
        s"slice exceeds $maxRows rows; narrow the date range")
    (rows, lo, hi)
  }

  /** The rendered dual-axis chart (app.py:114-130) of the chartSeries
    * slice, drawn as deterministic SVG from the view; the title
    * resolves IndexCode → IndexName through the dimension, and an
    * empty slice renders the reference's warning banner (app.py:131).
    * A slice over `maxRows` rows throws [[StarServe.SliceTooLarge]]
    * (the HTTP facade maps it to 413); a malformed date throws
    * [[StarServe.BadDate]]. */
  def chartSvg(indexCode: String, start: String, end: String,
      maxRows: Int = Int.MaxValue): String = {
    val (rows, lo, hi) = slice(view, indexCode, start, end, maxRows)
    ChartRender.dualAxis(s"Close Price and GDP Growth - ${rows.name}",
      rows.chartRows(lo, hi))
  }

  /** `chartSeries(indexCode, start, end).toJSON` as one JSON array,
    * from the view; same cap and date errors as [[chartSvg]]. */
  def seriesJson(indexCode: String, start: String, end: String,
      maxRows: Int = Int.MaxValue): String = {
    val (rows, lo, hi) = slice(view, indexCode, start, end, maxRows)
    rows.series.array(lo, hi)
  }

  /** `latest(indexCode, k).toJSON` as one JSON array, from the view. */
  def latestJson(indexCode: String, k: Int): String = {
    val rows = view.rowsOf(indexCode).newestFirst
    rows.array(0, math.min(k, rows.size))
  }

  /** `dimStockIndex.toJSON` as one JSON array. */
  def indexesJson: String = dims.indexesJson

  /** Latest-k rows for a table widget: top-k plan
    * (TakeOrderedAndProject), never a full sort. */
  def latest(indexCode: String, k: Int): DataFrame =
    fact
      .join(broadcast(dimStockIndex.filter(col("IndexCode") === indexCode)
        .select(col("IndexKey"))), Seq("IndexKey"))
      .orderBy(col("DateKey").desc)
      .limit(k)

  /** Release the serve-layer cache pins and the view. */
  def release(): Unit = synchronized {
    factCache.foreach(_.unpersist())
    factCache = None
    current = null
    Seq(dimStockIndex, dimDate, dimCountry).foreach(_.unpersist())
  }
}

object StarServe {
  /** Serve dims from the published star, and the fact from a streaming
    * upsert snapshot directory (`StreamingPipeline.upsertSink` output):
    * the serving tier tracks the incremental pipeline via `refresh()`
    * instead of waiting for the next full star publish. */
  def fromStreamingSnapshots(spark: SparkSession, starDir: String,
      snapshotDir: String): StarServe =
    new StarServe(spark, starDir, Some(snapshotDir))

  /** A requested slice exceeds the serving-tier row cap — thrown
    * before the oversized slice is materialized; the HTTP facade maps
    * it to 413 Content Too Large. */
  final class SliceTooLarge(msg: String) extends RuntimeException(msg)

  /** A start/end that is no date; the HTTP facade maps it to 400. */
  final class BadDate(msg: String) extends IllegalArgumentException(msg)

  /** Epoch day of `s` under Spark's string → date cast rules, so a
    * date the DataFrame accessors' `cast("date")` accepts means the
    * same day here. */
  private[serve] def parseDate(s: String): Int =
    DateTimeUtils.stringToDate(UTF8String.fromString(s))
      .getOrElse(throw new BadDate(s"not a date: '$s'"))
}
