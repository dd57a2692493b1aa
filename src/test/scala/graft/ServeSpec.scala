package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.StarSchemaBuilder
import graft.serve.StarServe

/** E3 serving path: cached star frames, filter-below-sort plan gate
  * (the reference's sort-then-client-filter anti-pattern inverted),
  * top-k without a full sort. */
class ServeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val starDir: String = {
    val landing = Files.createTempDirectory("graft_serve_landing").toString
    val dates = Iterator.iterate(java.time.LocalDate.parse("2024-01-01"))(_.plusDays(1))
      .takeWhile(!_.isAfter(java.time.LocalDate.parse("2024-02-29"))).toSeq
    val rows = for {
      t <- Seq("^GSPC", "^DJI")
      (d, i) <- dates.zipWithIndex
    } yield {
      val base = if (t == "^GSPC") 4700.0 else 37000.0
      f"$d,$t,${base + i - 5}%.2f,${base + i + 5}%.2f,${base + i - 10}%.2f,${base + i}%.2f,${base + i}%.2f,${1000000 + i}"
    }
    Files.write(Paths.get(landing, "stocks_2024-02-29.csv"),
      ("Date,Ticker,Open,High,Low,Close,AdjClose,Volume" +: rows).mkString("\n").getBytes)
    Files.write(Paths.get(landing, "world_bank_2024-02-29.csv"),
      "date,GDPGrowthRate,InflationRate\n2024-01-01,2.5,3.1".getBytes)
    val out = Files.createTempDirectory("graft_serve_star").toString
    StarSchemaBuilder.build(spark, landing, out)
    out
  }

  test("chartSeries returns the filtered slice, ordered") {
    val serve = new StarServe(spark, starDir)
    val rows = serve.chartSeries("^GSPC", "2024-01-10", "2024-01-19").collect()
    assert(rows.length == 10)
    assert(rows.map(_.getDate(0).toString).toSeq == rows.map(_.getDate(0).toString).sorted.toSeq)
    // econ join carried through to the serve layer
    assert(rows.forall(_.getDouble(2) == 2.5))
    serve.release()
  }

  test("plan gate: filter sits BELOW the sort; scan is the cached fact") {
    val serve = new StarServe(spark, starDir)
    val plan = serve.factSlice("^GSPC", "2024-01-10", "2024-01-19")
      .queryExecution.executedPlan.toString
    val sortAt = plan.indexOf("Sort")
    val filterAt = plan.indexOf("Filter")
    assert(sortAt >= 0 && filterAt >= 0)
    // tree prints parent-first: Sort above means filter EXECUTES first
    assert(sortAt < filterAt,
      s"filter must execute below the sort:\n${plan.take(3000)}")
    assert(plan.contains("InMemoryTableScan"), "fact must serve from cache")
    serve.release()
  }

  test("plan gate: latest-k is top-k (TakeOrderedAndProject), not a full sort") {
    val serve = new StarServe(spark, starDir)
    val plan = serve.latest("^DJI", 5).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(serve.latest("^DJI", 5).collect().length == 5)
    serve.release()
  }

  test("dim lookup and date bounds match the data") {
    val serve = new StarServe(spark, starDir)
    assert(serve.indexKeyFor("^GSPC").isDefined)
    assert(serve.indexKeyFor("NOPE").isEmpty)
    val (lo, hi) = serve.factDateBounds()
    assert(lo.toString == "2024-01-01" && hi.toString == "2024-02-29")
    serve.release()
  }

  test("snapshot mode serves the latest upsert and swaps on refresh()") {
    import graft.streaming.StreamingPipeline
    val snapDir = Files.createTempDirectory("graft_serve_snap").toString
    // fact-shaped upsert batches keyed on (IndexKey, DateKey): the
    // round trip is upsert sink → _LATEST pointer → served slice
    val static = new StarServe(spark, starDir)
    val key = static.indexKeyFor("^GSPC").get
    static.release()
    def batch(close: Double, date: String) = {
      import spark.implicits._
      Seq((key, java.sql.Date.valueOf(date), close, 2.5))
        .toDF("IndexKey", "DateKey", "Close", "GDPGrowthRate")
    }
    StreamingPipeline.applyUpsertBatch(
      batch(100.0, "2024-03-01"), 0L, Seq("IndexKey", "DateKey"), snapDir, "serve")
    val serve = StarServe.fromStreamingSnapshots(spark, starDir, snapDir)
    val s0 = serve.chartSeries("^GSPC", "2024-03-01", "2024-03-31").collect()
    assert(s0.length == 1 && s0.head.getDouble(1) == 100.0)
    // a new upsert batch revises the close; the serve layer must NOT
    // see it until refresh() observes the pointer flip
    StreamingPipeline.applyUpsertBatch(
      batch(101.5, "2024-03-01"), 1L, Seq("IndexKey", "DateKey"), snapDir, "serve")
    assert(serve.chartSeries("^GSPC", "2024-03-01", "2024-03-31")
      .head.getDouble(1) == 100.0, "cached snapshot must serve until refresh")
    assert(serve.refresh(), "pointer moved — refresh must swap")
    assert(serve.chartSeries("^GSPC", "2024-03-01", "2024-03-31")
      .head.getDouble(1) == 101.5)
    assert(!serve.refresh(), "no pointer change — refresh must be a no-op")
    serve.release()
  }

  test("reader interleaving: pointer flips mid-query-stream never tear a read") {
    import graft.streaming.StreamingPipeline
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.AtomicInteger
    val snapDir = Files.createTempDirectory("graft_serve_race").toString
    val static = new StarServe(spark, starDir)
    val key = static.indexKeyFor("^GSPC").get
    static.release()
    def batch(close: Double) = {
      import spark.implicits._
      Seq((key, java.sql.Date.valueOf("2024-03-01"), close, 2.5))
        .toDF("IndexKey", "DateKey", "Close", "GDPGrowthRate")
    }
    val published = Seq(100.0, 101.5, 103.0)
    StreamingPipeline.applyUpsertBatch(
      batch(published(0)), 0L, Seq("IndexKey", "DateKey"), snapDir, "race")
    val serve = StarServe.fromStreamingSnapshots(spark, starDir, snapDir)

    // reader thread: a continuous query stream against the serve layer.
    // Each read must observe exactly one PUBLISHED state — one row,
    // value ∈ published. A torn read would surface as zero rows (swap
    // window exposed), two rows (mixed snapshots), an off-list value,
    // or an exception (cache dropped to a deleted snapshot — the sink's
    // grace-copy retention is what prevents that for one-behind reads).
    val seen = new ConcurrentLinkedQueue[Double]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val reads = new AtomicInteger(0)
    @volatile var writerDone = false
    val reader = new Thread(() => {
      while (!writerDone || reads.get() < 60) {
        try {
          val rows = serve.chartSeries("^GSPC", "2024-03-01", "2024-03-31").collect()
          if (rows.length != 1)
            errors.add(new AssertionError(s"torn read: ${rows.length} rows"))
          else seen.add(rows.head.getDouble(1))
        } catch { case t: Throwable => errors.add(t) }
        reads.incrementAndGet()
        ()
      }
    })
    reader.start()
    // writer: flip the pointer twice, each mid-stream (only after the
    // reader has demonstrably issued queries since the last flip)
    for ((v, i) <- published.drop(1).zipWithIndex) {
      val floor = (i + 1) * 20
      while (reads.get() < floor) Thread.sleep(10)
      StreamingPipeline.applyUpsertBatch(
        batch(v), (i + 1).toLong, Seq("IndexKey", "DateKey"), snapDir, "race")
      assert(serve.refresh(), s"flip ${i + 1} must be observed")
    }
    writerDone = true
    reader.join(60000)
    assert(!reader.isAlive, "reader wedged")
    assert(errors.isEmpty, s"reader failures: ${errors.peek()}")
    val distinct = seen.toArray(Array.empty[java.lang.Double]).map(_.doubleValue).toSet
    assert(distinct.subsetOf(published.toSet),
      s"read a value never published: $distinct")
    // after the last flip the stream converges on the newest snapshot
    assert(serve.chartSeries("^GSPC", "2024-03-01", "2024-03-31")
      .head.getDouble(1) == published.last)
    serve.release()
  }

  test("chartSvg renders the slice end-to-end with the dim-resolved title") {
    val serve = new StarServe(spark, starDir)
    val svg = serve.chartSvg("^GSPC", "2024-01-10", "2024-01-19")
    // title resolves IndexCode → IndexName through the dimension
    assert(svg.contains("Close Price and GDP Growth - S&amp;P 500"))
    // both axes drew: Close varies (polyline), GDP is constant 2.5 in
    // the fixture (still a polyline, horizontal)
    assert("<polyline".r.findAllIn(svg).length == 2)
    // deterministic: same slice, same bytes
    assert(svg == serve.chartSvg("^GSPC", "2024-01-10", "2024-01-19"))
    // the view draws exactly the chartSeries frame's rows
    val slice = serve.chartSeries("^GSPC", "2024-01-10", "2024-01-19").collect().toSeq
      .map(r => (r.getDate(0).toLocalDate.toEpochDay,
        Option(r.get(1)).map(_ => r.getDouble(1)), Option(r.get(2)).map(_ => r.getDouble(2))))
    assert(svg == graft.serve.ChartRender.dualAxis(
      "Close Price and GDP Growth - S&P 500", slice))
    // empty slice → the reference's warning banner
    assert(serve.chartSvg("^GSPC", "2031-01-01", "2031-01-02")
      .contains("No data found"))
    serve.release()
  }
}
