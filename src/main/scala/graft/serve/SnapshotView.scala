package graft.serve

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** JSON rows joined into one string, row i ending at `ends(i)` and
  * followed by a comma: one object per stored sequence instead of one
  * String per row, and any run of consecutive rows is one substring. */
private[serve] final class JsonRows private (text: String, ends: Array[Int]) {
  def size: Int = ends.length

  /** Rows [from, until) as a JSON array. */
  def array(from: Int, until: Int): String =
    if (from >= until) "[]"
    else "[" + text.substring(if (from == 0) 0 else ends(from - 1) + 1,
      ends(until - 1)) + "]"
}

private[serve] object JsonRows {
  def apply(rows: Iterator[String]): JsonRows = {
    val sb = new java.lang.StringBuilder
    val ends = Array.newBuilder[Int]
    rows.foreach { r =>
      if (ends.length > 0) sb.append(',')
      sb.append(r)
      ends += sb.length
    }
    new JsonRows(sb.toString, ends.result())
  }
}

/** One IndexCode's fact rows: DateKey epoch days ascending, next to
  * what `/series`, `/chart` and `/latest` return for them. Rows with a
  * null DateKey match no date range and sort last in `newestFirst`, as
  * in the DataFrame accessors. */
private[serve] final class IndexRows(val name: String, days: Array[Int],
    close: Array[Double], closeNull: java.util.BitSet,
    gdp: Array[Double], gdpNull: java.util.BitSet,
    val series: JsonRows, val newestFirst: JsonRows) {

  /** Row range [lo, hi) of the days in [from, to], by binary search. */
  def range(from: Int, to: Int): (Int, Int) = {
    def firstAtLeast(x: Long): Int = {
      var (lo, hi) = (0, days.length)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (days(mid) < x) lo = mid + 1 else hi = mid
      }
      lo
    }
    val lo = firstAtLeast(from.toLong)
    (lo, math.max(lo, firstAtLeast(to.toLong + 1)))
  }

  /** `ChartRender.dualAxis` input for rows [lo, hi). */
  def chartRows(lo: Int, hi: Int): Seq[(Long, Option[Double], Option[Double])] =
    (lo until hi).map { i =>
      (days(i).toLong,
        if (closeNull.get(i)) None else Some(close(i)),
        if (gdpNull.get(i)) None else Some(gdp(i)))
    }
}

private[serve] object IndexRows {
  val empty = new IndexRows("", Array.empty, Array.empty, new java.util.BitSet,
    Array.empty, new java.util.BitSet, JsonRows(Iterator.empty), JsonRows(Iterator.empty))

  /** From rows of (IndexKey, epoch day, Close, GDPGrowthRate, series
    * JSON, latest JSON), any order. */
  def apply(name: String, rows: Seq[Row]): IndexRows = {
    val (dated, undated) = rows.partition(!_.isNullAt(1))
    val sorted = dated.sortBy(_.getInt(1)).toArray
    val n = sorted.length
    val (close, gdp) = (new Array[Double](n), new Array[Double](n))
    val (closeNull, gdpNull) = (new java.util.BitSet(n), new java.util.BitSet(n))
    for (i <- 0 until n) {
      val r = sorted(i)
      if (r.isNullAt(2)) closeNull.set(i) else close(i) = r.getDouble(2)
      if (r.isNullAt(3)) gdpNull.set(i) else gdp(i) = r.getDouble(3)
    }
    new IndexRows(name, sorted.map(_.getInt(1)), close, closeNull, gdp, gdpNull,
      JsonRows(sorted.iterator.map(_.getString(4))),
      JsonRows(sorted.reverseIterator.map(_.getString(5)) ++ undated.iterator.map(_.getString(5))))
  }
}

/** The star's dim_stock_index as the serve layer answers from it: the
  * `/indexes` body and, per IndexCode, its IndexKeys in dim order (one
  * per matching dim row, as a join would match them) and the first
  * matching row's IndexName. */
private[serve] final class DimView(val indexesJson: String,
    val byCode: Seq[(String, Seq[String], String)]) {
  private val first = byCode.map { case (c, keys, name) => c -> (keys.head, name) }.toMap
  def keyFor(code: String): Option[String] = first.get(code).map(_._1)
}

private[serve] object DimView {
  /** One collect; each row rendered by Spark's JSON generator, as
    * `dimStockIndex.toJSON` renders it. */
  def build(dim: DataFrame): DimView = {
    val rows = dim.select(to_json(struct(dim.columns.map(col): _*)),
      col("IndexCode"), col("IndexKey"), col("IndexName")).collect()
    val byCode = rows.filterNot(_.isNullAt(1)).toSeq.groupBy(_.getString(1)).toSeq
      .map { case (code, rs) => (code, rs.map(_.getString(2)), rs.head.getString(3)) }
    new DimView(rows.map(_.getString(0)).mkString("[", ",", "]"), byCode)
  }
}

/** One published fact snapshot, held on the driver: per IndexCode its
  * [[IndexRows]], plus the global DateKey bounds (epoch days, None when
  * no row has a DateKey). Immutable; `StarServe` swaps whole views. */
private[serve] final class SnapshotView(byCode: Map[String, IndexRows],
    val bounds: Option[(Int, Int)]) {
  def rowsOf(indexCode: String): IndexRows = byCode.getOrElse(indexCode, IndexRows.empty)
}

private[serve] object SnapshotView {
  /** One collect of the fact. Each row is rendered twice by Spark's own
    * JSON generator — as `chartSeries` and as `latest` project it — so
    * bodies are byte-identical to those frames' `toJSON`. The dim join
    * happens here on the driver, through `dims`. */
  def build(fact: DataFrame, dims: DimView): SnapshotView = {
    val latestCols = col("IndexKey") +: fact.columns.filter(_ != "IndexKey").map(col)
    val rows = fact.select(col("IndexKey"), unix_date(col("DateKey")),
        col("Close"), col("GDPGrowthRate"),
        to_json(struct(col("DateKey"), col("Close"), col("GDPGrowthRate"))),
        to_json(struct(latestCols: _*)))
      .collect()
    val days = rows.iterator.filterNot(_.isNullAt(1)).map(_.getInt(1)).toSeq
    val byKey = rows.toSeq.filterNot(_.isNullAt(0)).groupBy(_.getString(0))
    val byCode = dims.byCode.map { case (code, keys, name) =>
      code -> IndexRows(name, keys.flatMap(byKey.getOrElse(_, Nil)))
    }.toMap
    new SnapshotView(byCode, if (days.isEmpty) None else Some((days.min, days.max)))
  }
}
