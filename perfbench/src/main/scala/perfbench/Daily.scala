package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, Phaser, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.etl.{IncrementalAgg, StarSchemaBuilder}
import graft.serve.{StarServe, StarServeHttp}
import graft.sources.ExternalAdapters
import graft.streaming.StreamingPipeline

/** The reference's own traffic: a daily batch publish of the star
  * schema while an interactive dashboard reads it.
  *
  * Set-up lands the seeded market history and publishes the first star.
  * Each simulated trading day then fetches the day's bars into the
  * landing CSVs, rebuilds the star, advances a per-ticker monthly
  * rollup, upserts the day's fact rows into the served snapshot and
  * refreshes the serve layer. Meanwhile an open-loop generator starts
  * the seeded dashboard interactions at a fixed rate and sends each
  * one's requests over loopback HTTP in order, as the dashboard page
  * does; each interaction is timed from the moment it was due. */
object Daily {
  final case class Bar(date: LocalDate, ticker: String, open: Double, high: Double,
      low: Double, close: Double, volume: Long)

  val Tickers: Seq[String] = Seq("^GSPC", "^DJI", "^NDX")
  private val Fields = Seq("Open", "High", "Low", "Close", "Adj Close", "Volume")

  /** One publish pipeline: landing dir, star outputs, rollup state,
    * stream source and the served snapshot, all under `root`. */
  final class Pipeline(val spark: SparkSession, val root: String, bars: Seq[Bar],
      econ: Seq[(LocalDate, Double, Double)]) {
    val landing = s"$root/landing"
    val starRoot = s"$root/star"
    val rollup = s"$root/rollup_monthly"
    val streamIn = s"$root/stream_in"
    val snapDir = s"$root/snapshot"
    val ckpt = s"$root/checkpoint"
    private val byDate = bars.groupBy(_.date)
    private var econDelivered = LocalDate.MIN
    private lazy val factSchema = spark.read.parquet(s"$starRoot/day_0/fact_table.parquet").schema

    /** The injected market client: the wide frame `stackYfinance`
      * expects for the business days in [start, end). */
    def fetchStocks(tickers: Seq[String], start: LocalDate, end: LocalDate): DataFrame = {
      val schema = StructType(StructField("Date", DateType) +: tickers.flatMap(t =>
        Fields.map(f => StructField(s"$t:$f", DoubleType))))
      val rows = byDate.keys.filter(d => !d.isBefore(start) && d.isBefore(end)).toSeq
        .sortBy(_.toEpochDay).map { d =>
          val day = byDate(d).map(b => b.ticker -> b).toMap
          Row.fromSeq(java.sql.Date.valueOf(d) +: tickers.flatMap { t =>
            val b = day(t)
            Seq(b.open, b.high, b.low, b.close, b.close, b.volume.toDouble)
          })
        }
      spark.createDataFrame(rows.asJava, schema)
    }

    /** The injected indicator client: annual rows published since the
      * previous fetch (see the benchmark's README on why it is
      * incremental). */
    def fetchEcon(today: LocalDate): DataFrame = {
      val fresh = econ.filter { case (d, _, _) => d.isAfter(econDelivered) && !d.isAfter(today) }
      if (fresh.nonEmpty) econDelivered = fresh.map(_._1).maxBy(_.toEpochDay)
      val schema = StructType(Seq(StructField("Date", DateType),
        StructField("GDP Growth", DoubleType),
        StructField("Inflation, Consumer Prices", DoubleType)))
      spark.createDataFrame(fresh.map { case (d, g, i) =>
        Row(java.sql.Date.valueOf(d), g, i) }.asJava, schema)
    }

    def fetch(today: LocalDate): Unit = {
      ExternalAdapters.fetchStocksIncrement(spark, landing, fetchStocks, today)
      ExternalAdapters.fetchWorldBank(spark, landing, () => fetchEcon(today), today)
    }

    def buildStar(k: Int): Unit = StarSchemaBuilder.build(spark, landing, s"$starRoot/day_$k")

    /** Fact rows of star `k` on or after `from` (all rows when None). */
    def factRows(k: Int, from: Option[LocalDate]): DataFrame = {
      val f = spark.read.parquet(s"$starRoot/day_$k/fact_table.parquet")
      from.fold(f)(d => f.filter(col("DateKey") >= lit(java.sql.Date.valueOf(d))))
    }

    def advanceRollup(delta: DataFrame): Long = IncrementalAgg.advance(spark, rollup,
      delta.select(col("IndexKey"), date_format(col("DateKey"), "yyyy-MM").as("Month"),
        col("Close")), Seq("IndexKey", "Month"), "Close")

    /** Publish fact rows through the streaming upsert sink: append them
      * to the stream source, then one availableNow run. Returns the
      * stream's run id, the job group of the jobs it ran. */
    def publishSnapshot(rows: DataFrame): String = {
      rows.write.mode("append").parquet(streamIn)
      val q = StreamingPipeline.upsertSink(spark.readStream.schema(factSchema).parquet(streamIn),
          Seq("IndexKey", "DateKey"), snapDir, ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.runId.toString
    }

    def pointer: Option[String] = StreamingPipeline.latestSnapshotName(spark, snapDir)
  }

  final case class Sent(interaction: Int, pos: Int, path: String, due: Long, var sent: Long = 0L,
      var end: Long = 0L, var status: Int = 0, var body: String = null, var err: String = null)

  def run(cfg: Main.Cfg): Map[String, Any] = {
    val in = Json.read(s"${cfg.work}/daily.json")
    val bars = Files.readAllLines(Paths.get(s"${cfg.work}/market.csv")).asScala.map { l =>
      val f = l.split(",")
      Bar(LocalDate.parse(f(0)), f(1), f(2).toDouble, f(3).toDouble, f(4).toDouble,
        f(5).toDouble, f(6).toLong)
    }.toList
    val econ = Files.readAllLines(Paths.get(s"${cfg.work}/econ.csv")).asScala.map { l =>
      val f = l.split(",")
      (LocalDate.parse(f(0)), f(1).toDouble, f(2).toDouble)
    }.toList
    val liveStart = LocalDate.parse(in.get("live_start").asText)
    val reps = in.get("setup_reps").asInt
    val interactions = in.get("interactions").elements().asScala.map(r =>
      (r.get(0).asDouble, r.get(1).elements().asScala.map(_.asText).toVector)).toVector
    val paths = interactions.flatMap(_._2)
    val replayN = in.get("direct_replay").asInt
    val days = bars.map(_.date).distinct.sortBy(_.toEpochDay)
    val histDays = days.filter(_.isBefore(liveStart))
    val liveDays = days.filterNot(_.isBefore(liveStart))
    val tr = new Trace

    // Set-up, `reps` times: a fresh session, the history landed and the
    // first star, rollup and snapshot published, the HTTP server up.
    var spark: SparkSession = null
    var pipe: Pipeline = null
    var serve: StarServe = null
    var http: StarServeHttp = null
    val setups = (1 to reps).map { r =>
      if (spark != null) { http.stop(0); serve.release(); spark.stop() }
      val s0 = tr.now()
      spark = Main.session(cfg)
      val s1 = tr.now()
      pipe = new Pipeline(spark, s"${cfg.work}/pipeline_$r", bars, econ)
      pipe.fetch(liveStart)
      pipe.buildStar(0)
      val hist = pipe.factRows(0, None)
      pipe.advanceRollup(hist)
      pipe.publishSnapshot(hist)
      serve = StarServe.fromStreamingSnapshots(spark, s"${pipe.starRoot}/day_0", pipe.snapDir)
      http = new StarServeHttp(serve, 0, 4).start()
      val s2 = tr.now()
      Map("session_s" -> Main.secs(s1 - s0),
        "prebuilt_s" -> Map("history_publish" -> Main.secs(s2 - s1)),
        "total_s" -> Main.secs(s2 - s0))
    }
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .executor(Executors.newFixedThreadPool(1)).build()
    def get(path: String): HttpResponse[String] = client.send(
      HttpRequest.newBuilder(URI.create(http.url + path)).build(),
      HttpResponse.BodyHandlers.ofString())

    // Warm-up: every endpoint of the request mix once, directly and
    // over HTTP.
    val w0 = tr.now()
    paths.groupBy(_.takeWhile(_ != '?')).values.map(_.head).foreach { p =>
      direct(serve, p); get(p)
    }
    val listener = new TaskListener

    /** Simulated trading day `k` (1-based), from fetch through the
      * serve-layer refresh; a day under way at the deadline is finished. */
    def runDay(k: Int, traced: Boolean): Map[String, Any] = {
      val d = liveDays(k - 1)
      val id = s"d$k"
      if (traced) spark.sparkContext.setJobGroup(id, id, false)
      val before = pipe.pointer
      val files0 = if (traced) listing(pipe.root) else Map.empty[String, Long]
      val s = tr.now()
      var err: String = null
      var publishStart = 0L
      var steps = Map.empty[String, (Long, Long)]
      var swapped = false
      def step(name: String)(f: => Unit): Unit = {
        val a = tr.now(); f; steps += name -> (a, tr.now())
      }
      try {
        step("ingest.fetch")(pipe.fetch(d.plusDays(1)))
        step("ingest.star_build")(pipe.buildStar(k))
        val rows = pipe.factRows(k, Some(d))
        step("ingest.rollup_publish")(pipe.advanceRollup(rows))
        publishStart = tr.now()
        step("ingest.snapshot_publish") {
          val runId = pipe.publishSnapshot(rows)
          if (traced) listener.alias(runId, id)
        }
        step("serve.refresh") { swapped = serve.refresh() }
      } catch { case NonFatal(e) => err = Main.errText(e) }
      val e = tr.now()
      if (traced) {
        spark.sparkContext.clearJobGroup()
        val root = tr.span(id, "day", 0, s, e)
        steps.foreach { case (n, (a, b)) => tr.span(id, n, root, a, b) }
      }
      val written = (if (traced) listing(pipe.root) else Map.empty[String, Long])
        .filter { case (f, sz) => !files0.get(f).contains(sz) }
      Map("k" -> k, "date" -> d.toString, "start" -> s, "end" -> e,
        "publish_start" -> publishStart, "ok" -> (err == null), "err" -> err,
        "warmup" -> (k == 1), "swapped" -> swapped, "pointer_before" -> before.orNull,
        "pointer_after" -> pipe.pointer.orNull,
        "steps" -> steps.map { case (n, (a, b)) => n -> (b - a) },
        "files_written" -> written.size, "bytes_written" -> written.values.sum)
    }
    // The first day is untimed: the update paths of the publish (an
    // incremental fetch, state merges) run for the first time there.
    val warmDay = runDay(1, traced = false)
    val warmupS = Main.secs(tr.now() - w0)

    if (cfg.trace) spark.sparkContext.addSparkListener(listener)
    val floorBefore = Main.floorProbeMs(spark)
    val sc = spark.sparkContext

    // The measured region: the request generator (one dispatching
    // thread plus the client's one callback thread) and the ingest loop
    // on this thread share the session's task slots. An interaction's
    // requests go out one after another, as the dashboard page issues
    // them; the interaction is timed from its due time to its last answer.
    val sent = new ConcurrentLinkedQueue[Sent]()
    val loop0 = tr.now()
    val firstOpEpochMs = System.currentTimeMillis()
    val deadline = loop0 + cfg.deadlineNs
    @volatile var ingestDone = false
    val inflight = new Phaser(1)
    def send(i: Int, pos: Int, chain: Seq[String], due: Long): Unit = {
      inflight.register()
      val rec = Sent(i, pos, chain(pos), due)
      rec.sent = tr.now()
      sent.add(rec)
      client.sendAsync(HttpRequest.newBuilder(URI.create(http.url + rec.path)).build(),
          HttpResponse.BodyHandlers.ofString())
        .whenComplete { (resp, err) =>
          rec.end = tr.now()
          if (err != null) rec.err = Main.errText(err)
          else { rec.status = resp.statusCode(); rec.body = resp.body() }
          // the page stops an interaction at its first failed request
          if (rec.status == 200 && pos + 1 < chain.size) send(i, pos + 1, chain, due)
          inflight.arriveAndDeregister()
        }
    }
    val dispatcher = new Thread(() => {
      val it = interactions.iterator.zipWithIndex
      var stop = false
      while (!stop && it.hasNext) {
        val ((dueMs, chain), i) = it.next()
        val due = loop0 + (dueMs * 1e6).toLong
        while (!ingestDone && tr.now() < due) Thread.sleep(1)
        stop = ingestDone
        if (!stop) send(i, 0, chain, due)
      }
    }, "perfbench-dispatch")
    dispatcher.setDaemon(true)
    dispatcher.start()

    // Days run until the deadline and at least `min_days` are done; a
    // day under way at the deadline is finished, and interactions start
    // until the last day ends.
    val minDays = in.get("min_days").asInt
    val dayRecs = mutable.ArrayBuffer[Map[String, Any]](warmDay)
    var k = 1
    while (k < liveDays.size && (tr.now() < deadline || k - 1 < minDays)) {
      k += 1
      dayRecs += runDay(k, cfg.trace)
    }
    ingestDone = true
    dispatcher.join()
    val drained = try {
      inflight.awaitAdvanceInterruptibly(inflight.arrive(), 60, TimeUnit.SECONDS); true
    } catch { case _: java.util.concurrent.TimeoutException => false }
    val loopEnd = tr.now()
    val floorAfter = Main.floorProbeMs(spark)
    val heap = Main.retainedHeapMb()

    // Correctness, outside the measured region.
    val published = dayRecs.filter(_("ok") == true).map(r => (LocalDate.parse(r("date").toString),
      r("publish_start").asInstanceOf[Long], r("end").asInstanceOf[Long])).toList
    val checker = new ServeCheck(bars, econ, histDays.last, published)
    val reqRecs = sent.asScala.toList.sortBy(r => (r.interaction, r.pos)).map { r =>
      val problem =
        if (r.err != null) r.err
        else if (r.end == 0L) "no response"
        else checker.check(r.path, r.status, r.body, r.sent, r.end).orNull
      Map("path" -> r.path, "interaction" -> r.interaction, "pos" -> r.pos, "due" -> r.due,
        "sent" -> r.sent, "end" -> r.end, "status" -> r.status, "ok" -> (problem == null),
        "problem" -> problem)
    }
    val problems = mutable.ArrayBuffer[String]()
    if (!drained) problems += "responses still in flight 60 s after the last request"
    dayRecs.foreach { r =>
      val b = Option(r("pointer_before")).map(_.toString)
      val a = Option(r("pointer_after")).map(_.toString)
      if (r("ok") == true && (a.isEmpty || a == b || snapId(a) != snapId(b).map(_ + 1)))
        problems += s"day ${r("k")}: _LATEST moved $b -> $a, not by one snapshot"
    }
    val expectRows = Tickers.size.toLong * (histDays.size + published.size)
    val snapRows = spark.read.parquet(s"${pipe.snapDir}/${pipe.pointer.get}").count()
    if (snapRows != expectRows)
      problems += s"snapshot holds $snapRows fact rows, expected $expectRows"
    dayRecs.filter(_("ok") == true).foreach { r =>
      val kk = r("k").asInstanceOf[Int]
      val n = pipe.factRows(kk, None).count()
      val want = Tickers.size.toLong * (histDays.size + kk)
      if (n != want) problems += s"star of day $kk holds $n fact rows, expected $want"
    }

    // Direct calls into StarServe on the same mix (traced run only), each
    // paired with the same request over HTTP; which of the two goes first
    // alternates, so neither always meets the warmer cache.
    val replay =
      if (!cfg.trace) Nil
      else paths.take(replayN).zipWithIndex.map { case (p, i) =>
        def timed(f: => Unit): Long = { val a = tr.now(); f; tr.now() - a }
        var (built, phases) = (0L, Map.empty[String, Long])
        def viaDirect() = timed { val r = direct(serve, p); built = r._1; phases = r._2 }
        def viaHttp() = timed(get(p))
        val (directNs, httpNs) =
          if (i % 2 == 0) { val d = viaDirect(); (d, viaHttp()) }
          else { val h = viaHttp(); (viaDirect(), h) }
        Map("endpoint" -> p.takeWhile(_ != '?').stripPrefix("/"), "build_ns" -> built,
          "direct_ns" -> directNs, "http_ns" -> httpNs, "phases" -> phases)
      }
    val cacheMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    if (cfg.trace) {
      listener.drain()
      listener.stages.foreach { case (g, sid, s, c) =>
        tr.span(g, "stage", -1, tr.fromEpochMs(s), tr.fromEpochMs(c)) }
    }
    http.stop(0)
    serve.release()
    spark.stop()
    Map(
      "setups" -> setups, "warmup_s" -> warmupS,
      "jvm_to_first_op_s" -> Main.sinceJvmStart(firstOpEpochMs),
      "floor_before_ms" -> floorBefore, "floor_after_ms" -> floorAfter,
      "loop_start" -> loop0, "loop_end" -> loopEnd,
      "days" -> dayRecs, "requests" -> reqRecs,
      "problems" -> problems, "retained_heap_mb" -> heap, "cache_mb" -> cacheMb,
      "swaps" -> dayRecs.count(_("swapped") == true), "replay" -> replay,
      "spans" -> tr.spans, "task_stats" -> listener.statsByGroup)
  }

  private def snapId(name: Option[String]): Option[Long] =
    name.map(_.stripPrefix("snapshot_").takeWhile(_.isDigit)).filter(_.nonEmpty).map(_.toLong)

  /** Every regular file under `dir` with its size. */
  private def listing(dir: String): Map[String, Long] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  /** Endpoint and decoded query parameters of a request path. */
  def parsePath(path: String): (String, Map[String, String]) = {
    val (ep, q) = path.span(_ != '?')
    ep -> q.stripPrefix("?").split("&").filter(_.nonEmpty).map { kv =>
      val (k, v) = kv.span(_ != '=')
      k -> java.net.URLDecoder.decode(v.drop(1), "UTF-8")
    }.toMap
  }

  /** Serve one request path by calling `StarServe` directly, as the HTTP
    * handler would. Returns the time to build the frame and the planning
    * phases of the frame that ran (empty for endpoints that build none). */
  def direct(serve: StarServe, path: String): (Long, Map[String, Long]) = {
    val (ep, p) = parsePath(path)
    def run(build: => DataFrame): (Long, Map[String, Long]) = {
      val t0 = System.nanoTime()
      val json = build.toJSON
      val built = System.nanoTime() - t0
      json.collect()
      built -> json.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }.toMap
    }
    ep match {
      case "/indexes" => run(serve.dimStockIndex)
      case "/series" => run(serve.chartSeries(p("index"), p("start"), p("end")))
      case "/latest" => run(serve.latest(p("index"), p("k").toInt))
      case "/chart" => serve.chartSvg(p("index"), p("start"), p("end"), 10000); (0L, Map.empty)
      case "/bounds" => serve.factDateBounds(); (0L, Map.empty)
    }
  }

  /** Checks a served response against the generator's market. A day is
    * visible to a request from the moment its refresh completed before
    * the request was sent, and may be visible from the moment its
    * snapshot publish began before the response arrived. */
  final class ServeCheck(bars: Seq[Bar], econ: Seq[(LocalDate, Double, Double)],
      lastHist: LocalDate, published: Seq[(LocalDate, Long, Long)]) {
    private val close = bars.map(b => (b.ticker, b.date) -> b.close).toMap
    private val gdp = econ.map { case (d, g, _) => d.getYear -> g }.toMap
    private val days = bars.map(_.date).distinct.sortBy(_.toEpochDay).toVector

    private def latestRange(sent: Long, end: Long): (LocalDate, LocalDate) = {
      val lo = published.filter(_._3 <= sent).map(_._1).lastOption.getOrElse(lastHist)
      val hi = published.filter(_._2 <= end).map(_._1).lastOption.getOrElse(lastHist)
      (lo, hi)
    }

    private def visible(lo: LocalDate, hi: LocalDate): Seq[LocalDate] =
      days.filter(d => !d.isBefore(lo) && !d.isAfter(hi))

    def check(path: String, status: Int, body: String, sent: Long, end: Long): Option[String] = {
      if (status != 200) return Some(s"HTTP $status")
      val (ep, p) = parsePath(path)
      val (lo, hi) = latestRange(sent, end)
      def rowsOf(s: String) = Json.parse(s).elements().asScala.map { n =>
        (LocalDate.parse(n.get("DateKey").asText), n.get("Close").asDouble,
          Option(n.get("GDPGrowthRate")).map(_.asDouble)) }.toVector
      def badValues(t: String, rows: Seq[(LocalDate, Double, Option[Double])]) =
        rows.find { case (d, c, g) =>
          !close.get((t, d)).contains(c) || g.exists(x => !gdp.get(d.getYear).contains(x)) }
          .map(r => s"served ${r._1} close ${r._2}, generator ${close.get((t, r._1))}")
      ep match {
        case "/series" =>
          val (t, start, stop) = (p("index"), LocalDate.parse(p("start")), LocalDate.parse(p("end")))
          val got = rowsOf(body)
          val fits = visible(lo, hi).exists(v => got.map(_._1) == days.filter(d =>
            !d.isBefore(start) && !d.isAfter(stop) && !d.isAfter(v)))
          if (!fits) Some(s"served ${got.size} days of [$start, $stop], newest visible day in [$lo, $hi]")
          else badValues(t, got)
        case "/latest" =>
          val t = p("index")
          val rows = rowsOf(body)
          if (rows.size != p("k").toInt) Some(s"${rows.size} rows for k=${p("k")}")
          else if (!visible(lo, hi).contains(rows.head._1))
            Some(s"latest day ${rows.head._1} outside [$lo, $hi]")
          else if (rows.map(_._1) != days.filter(!_.isAfter(rows.head._1)).takeRight(rows.size).reverse)
            Some("latest rows are not the most recent trading days")
          else badValues(t, rows)
        case "/indexes" =>
          val codes = Json.parse(body).elements().asScala.map(_.get("IndexCode").asText).toSet
          if (codes == Tickers.toSet) None else Some(s"indexes $codes")
        case "/bounds" =>
          val n = Json.parse(body)
          val (s, e) = (LocalDate.parse(n.get("start").asText), LocalDate.parse(n.get("end").asText))
          if (s != days.head) Some(s"bounds start $s")
          else if (e.isBefore(lo) || e.isAfter(hi)) Some(s"bounds end $e outside [$lo, $hi]")
          else None
        case "/chart" =>
          if (body.startsWith("<svg")) None else Some("chart body is not SVG")
        case other => Some(s"unexpected endpoint $other")
      }
    }
  }
}
