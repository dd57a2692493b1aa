package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.StarSchemaBuilder
import graft.serve.{StarServe, StarServeHttp}

/** HTTP facade over the serve layer — the reference dashboard's
  * endpoints (`streamlit/app.py`) over plain HTTP. Exercised with the
  * JDK HttpClient against an ephemeral port: endpoint contracts,
  * error mapping, parity with the in-process serve path, and a
  * concurrent-client probe. */
class ServeHttpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val starDir: String = {
    val landing = Files.createTempDirectory("graft_http_landing").toString
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
    val out = Files.createTempDirectory("graft_http_star").toString
    StarSchemaBuilder.build(spark, landing, out)
    out
  }

  private val client = HttpClient.newHttpClient()

  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def withServer(f: (StarServeHttp, StarServe) => Unit): Unit = {
    val serve = new StarServe(spark, starDir)
    val http = StarServeHttp.serve(serve)
    try f(http, serve)
    finally { http.stop(0); serve.release() }
  }

  /** Spark jobs started while `f` runs. Counted between two marker jobs
    * on this thread: the listener bus delivers job starts in order, so
    * once the closing marker is seen every earlier job start is too. */
  private def jobsDuring(f: => Unit): Int = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    def marker(id: String): Unit = {
      sc.setJobGroup(id, id)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(id) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(groups.contains(id), s"marker job $id never reached the listener")
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-during-open")
      f
      marker("jobs-during-close")
      val seen = groups.asScala.toVector
      seen.indexOf("jobs-during-close") - seen.lastIndexOf("jobs-during-open") - 1
    } finally sc.removeSparkListener(listener)
  }

  private def toJsonArray(df: org.apache.spark.sql.DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  test("endpoint contracts: health, indexes, bounds, latest") {
    withServer { (http, _) =>
      assert(get(s"${http.url}/health").body().contains("\"ok\""))

      // "/" serves the self-contained dashboard page wired to the
      // JSON/SVG endpoints; only the exact root path matches
      val page = get(s"${http.url}/")
      assert(page.statusCode() == 200)
      assert(page.headers().firstValue("Content-Type").get()
        .startsWith("text/html"))
      Seq("<select", "/indexes", "/bounds", "/chart").foreach(tok =>
        assert(page.body().contains(tok), s"page missing $tok"))
      assert(get(s"${http.url}/favicon.ico").statusCode() == 404)

      val idx = get(s"${http.url}/indexes")
      assert(idx.statusCode() == 200)
      assert(idx.headers().firstValue("Content-Type").get()
        .startsWith("application/json"))
      assert(idx.body().contains("^GSPC") && idx.body().contains("^DJI"))
      assert(idx.body().startsWith("[") && idx.body().endsWith("]"))

      val b = get(s"${http.url}/bounds")
      assert(b.body() ==
        """{"start":"2024-01-01","end":"2024-02-29"}""")

      val latest = get(s"${http.url}/latest?index=%5EGSPC&k=5")
      assert(latest.statusCode() == 200)
      // 5 JSON objects, newest date first
      assert(latest.body().split("\\},\\{").length == 5)
      assert(latest.body().contains("2024-02-29"))
    }
  }

  test("series + chart match the in-process serve path byte-for-byte") {
    withServer { (http, serve) =>
      val s = get(s"${http.url}/series?index=%5EGSPC&start=2024-01-10&end=2024-01-19")
      assert(s.statusCode() == 200)
      val expected = serve.chartSeries("^GSPC", "2024-01-10", "2024-01-19")
        .toJSON.collect().mkString("[", ",", "]")
      assert(s.body() == expected)

      val c = get(s"${http.url}/chart?index=%5EGSPC&start=2024-01-10&end=2024-01-19")
      assert(c.statusCode() == 200)
      assert(c.headers().firstValue("Content-Type").get() == "image/svg+xml")
      assert(c.body() == serve.chartSvg("^GSPC", "2024-01-10", "2024-01-19"))

      // empty slice still renders (the app.py:131 warning banner), 200
      val empty = get(s"${http.url}/chart?index=%5EGSPC&start=2030-01-01&end=2030-01-02")
      assert(empty.statusCode() == 200 && empty.body().contains("<svg"))
    }
  }

  test("latest + indexes match the DataFrame accessors' toJSON byte-for-byte") {
    withServer { (http, serve) =>
      assert(get(s"${http.url}/indexes").body() == toJsonArray(serve.dimStockIndex))
      // k below, at and beyond the ticker's 60 rows; the fixture's
      // null DailyReturn/Volatility fields are omitted as toJSON omits them
      for (k <- Seq(1, 5, 60, 10000)) {
        val r = get(s"${http.url}/latest?index=%5EGSPC&k=$k")
        assert(r.statusCode() == 200)
        assert(r.body() == toJsonArray(serve.latest("^GSPC", k)), s"k=$k")
      }
      assert(get(s"${http.url}/latest?index=NOPE&k=5").body() ==
        toJsonArray(serve.latest("NOPE", 5)))
      // series edge ranges: whole fact, empty, reversed, unknown index,
      // and a date form Spark's cast accepts beyond yyyy-MM-dd
      for ((idx, start, end) <- Seq(("^DJI", "2023-01-01", "2025-01-01"),
          ("^GSPC", "2030-01-01", "2030-02-01"), ("^GSPC", "2024-02-01", "2024-01-01"),
          ("NOPE", "2024-01-01", "2024-02-01"), ("^GSPC", "2024-1-9", "2024-01-19 "))) {
        val q = s"index=${java.net.URLEncoder.encode(idx, "UTF-8")}" +
          s"&start=$start&end=${java.net.URLEncoder.encode(end, "UTF-8")}"
        assert(get(s"${http.url}/series?$q").body() ==
          toJsonArray(serve.chartSeries(idx, start, end)), q)
      }
    }
  }

  test("a malformed start/end is 400, not a server fault") {
    withServer { (http, _) =>
      for (path <- Seq("/series", "/chart"); q <- Seq(
          "start=2024-13-45&end=2024-01-19", "start=2024-01-10&end=yesterday")) {
        val r = get(s"${http.url}$path?index=%5EGSPC&$q")
        assert(r.statusCode() == 400, s"$path?$q: ${r.statusCode()} ${r.body()}")
        assert(r.body().contains("not a date"), r.body())
      }
    }
  }

  test("once the view is built no endpoint starts a Spark job, nor the first request after refresh()") {
    import graft.streaming.StreamingPipeline
    val snapDir = Files.createTempDirectory("graft_http_nojobs").toString
    val static = new StarServe(spark, starDir)
    val key = static.indexKeyFor("^GSPC").get
    static.release()
    def batch(close: Double, batchId: Long) = {
      import spark.implicits._
      StreamingPipeline.applyUpsertBatch(
        Seq((key, java.sql.Date.valueOf("2024-03-01"), close, 2.5))
          .toDF("IndexKey", "DateKey", "Close", "GDPGrowthRate"),
        batchId, Seq("IndexKey", "DateKey"), snapDir, "nojobs")
    }
    batch(100.0, 0L)
    val serve = StarServe.fromStreamingSnapshots(spark, starDir, snapDir)
    val http = StarServeHttp.serve(serve)
    try {
      val paths = Seq("/indexes", "/bounds",
        "/series?index=%5EGSPC&start=2024-03-01&end=2024-03-31",
        "/chart?index=%5EGSPC&start=2024-03-01&end=2024-03-31",
        "/latest?index=%5EGSPC&k=5")
      def all() = paths.map(p => get(s"${http.url}$p"))
      assert(all().forall(_.statusCode() == 200)) // builds the view
      var rs = Seq.empty[HttpResponse[String]]
      assert(jobsDuring { rs = all() } == 0)
      assert(rs.forall(_.statusCode() == 200) && rs(2).body().contains("100.0"))
      batch(101.5, 1L)
      assert(serve.refresh())
      assert(jobsDuring { rs = all() } == 0)
      assert(rs.forall(_.statusCode() == 200) && rs(2).body().contains("101.5"))
    } finally { http.stop(0); serve.release() }
  }

  test("error mapping: 400 on missing params, 404 on unknown path, 500 surfaced") {
    withServer { (http, _) =>
      val missing = get(s"${http.url}/series?index=%5EGSPC")
      assert(missing.statusCode() == 400)
      assert(missing.body().contains("start") && missing.body().contains("end"))

      assert(get(s"${http.url}/nope").statusCode() == 404)
      assert(get(s"${http.url}/seriesX").statusCode() == 404,
        "prefix match must not leak /series handler to /seriesX")

      // malformed client input is 400, not a server fault
      val bad = get(s"${http.url}/latest?index=%5EGSPC&k=0")
      assert(bad.statusCode() == 400 && bad.body().contains("k out of range"))
      val nan = get(s"${http.url}/latest?index=%5EGSPC&k=abc")
      assert(nan.statusCode() == 400 && nan.body().contains("not an integer"))

      // error bodies stay VALID JSON even when the message spans
      // lines or quotes identifiers (Spark exception messages do both)
      assert(graft.serve.StarServeHttp.jsonEsc("a\"b\nc\td\u0001\\e") ==
        "a\\\"b\\nc\\td\\u0001\\\\e")

      // undecodable percent-escapes are the client's fault -> 400
      // (the JDK HttpClient refuses to even send such a URI, so the
      // probe goes over a raw socket)
      val raw = {
        val sock = new java.net.Socket("127.0.0.1", http.port)
        try {
          sock.getOutputStream.write(
            ("GET /latest?index=%zz HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
              "Connection: close\r\n\r\n").getBytes)
          sock.getOutputStream.flush()
          new String(sock.getInputStream.readAllBytes())
        } finally sock.close()
      }
      assert(raw.startsWith("HTTP/1.1 400"), raw.take(200))

      // (that 400 is the JDK server's own URI guard — it rejects
      // undecodable escapes before ANY handler runs, known path or
      // not, so params()'s decode guard is defense-in-depth for other
      // transports). The handler-level ordering contract is: unknown
      // prefix-matched path → 404 BEFORE params are parsed or
      // validated — a query that would 400 on /latest must not 400 on
      // /latestX
      val unknownWithBadParam = get(s"${http.url}/latestX?index=%5EGSPC&k=0")
      assert(unknownWithBadParam.statusCode() == 404,
        s"${unknownWithBadParam.statusCode()} ${unknownWithBadParam.body()}")

      // HEAD is answered wherever GET is: status + headers, no body
      val head = client.send(
        HttpRequest.newBuilder(URI.create(s"${http.url}/health"))
          .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(head.statusCode() == 200 && head.body().isEmpty)

      // /refresh mutates (snapshot swap) -> POST-only; GET is 405
      // with the RFC-required Allow header
      val notAllowed = get(s"${http.url}/refresh")
      assert(notAllowed.statusCode() == 405)
      assert(notAllowed.headers().firstValue("Allow").get() == "POST")
      val post = client.send(
        HttpRequest.newBuilder(URI.create(s"${http.url}/refresh"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(post.body() == """{"swapped":false}""") // static mode no-op
    }
  }

  test("snapshot mode over HTTP: POST /refresh swaps to the latest upsert") {
    import graft.streaming.StreamingPipeline
    val snapDir = Files.createTempDirectory("graft_http_snap").toString
    val static = new StarServe(spark, starDir)
    val key = static.indexKeyFor("^GSPC").get
    static.release()
    def batch(close: Double, batchId: Long) = {
      import spark.implicits._
      StreamingPipeline.applyUpsertBatch(
        Seq((key, java.sql.Date.valueOf("2024-03-01"), close, 2.5))
          .toDF("IndexKey", "DateKey", "Close", "GDPGrowthRate"),
        batchId, Seq("IndexKey", "DateKey"), snapDir, "http")
    }
    batch(100.0, 0L)
    val serve = StarServe.fromStreamingSnapshots(spark, starDir, snapDir)
    val http = StarServeHttp.serve(serve)
    try {
      def series() =
        get(s"${http.url}/series?index=%5EGSPC&start=2024-03-01&end=2024-03-31").body()
      def refresh() = client.send(
        HttpRequest.newBuilder(URI.create(s"${http.url}/refresh"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(series().contains("100.0"))
      batch(101.5, 1L)
      // the cached snapshot serves until a refresh observes the flip
      assert(series().contains("100.0"))
      assert(refresh() == """{"swapped":true}""")
      assert(series().contains("101.5"))
      assert(refresh() == """{"swapped":false}""")
    } finally { http.stop(0); serve.release() }
  }

  test("slice cap: a range spanning more rows than maxSliceRows is 413, never collected") {
    val serve = new StarServe(spark, starDir)
    // tiny cap so the fixture's 60-day range trips it
    val http = new StarServeHttp(serve, bindPort = 0, maxSliceRows = 5).start()
    try {
      val wide = get(s"${http.url}/series?index=%5EGSPC&start=2024-01-01&end=2024-02-29")
      assert(wide.statusCode() == 413, wide.body())
      assert(wide.body().contains("narrow the date range"))
      val wideChart = get(s"${http.url}/chart?index=%5EGSPC&start=2024-01-01&end=2024-02-29")
      assert(wideChart.statusCode() == 413, wideChart.body())
      // a slice within the cap still serves normally
      val narrow = get(s"${http.url}/series?index=%5EGSPC&start=2024-01-10&end=2024-01-12")
      assert(narrow.statusCode() == 200, narrow.body())
      assert(narrow.body().startsWith("[") && narrow.body().endsWith("]"))
    } finally { http.stop(0); serve.release() }
  }

  test("slice cap off (Int.MaxValue sentinel) serves instead of overflowing the limit") {
    // limit(Int.MaxValue + 1) overflows to a NEGATIVE limit — before
    // the sentinel guard every /series request under a cap-off config
    // threw 500; chartSvg already guarded it, the HTTP path must too
    val serve = new StarServe(spark, starDir)
    val http = new StarServeHttp(serve, bindPort = 0,
      maxSliceRows = Int.MaxValue).start()
    try {
      val r = get(s"${http.url}/series?index=%5EGSPC&start=2024-01-01&end=2024-02-29")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().startsWith("[") && r.body().endsWith("]"))
    } finally { http.stop(0); serve.release() }
  }

  test("refresh race: reads concurrent with a snapshot swap see exactly one of the two snapshots") {
    import graft.streaming.StreamingPipeline
    val snapDir = Files.createTempDirectory("graft_http_race").toString
    val static = new StarServe(spark, starDir)
    val key = static.indexKeyFor("^GSPC").get
    static.release()
    def batch(close: Double, batchId: Long) = {
      import spark.implicits._
      StreamingPipeline.applyUpsertBatch(
        Seq((key, java.sql.Date.valueOf("2024-03-01"), close, 2.5))
          .toDF("IndexKey", "DateKey", "Close", "GDPGrowthRate"),
        batchId, Seq("IndexKey", "DateKey"), snapDir, "race")
    }
    batch(100.0, 0L)
    val serve = StarServe.fromStreamingSnapshots(spark, starDir, snapDir)
    val http = StarServeHttp.serve(serve)
    try {
      def seriesUrl =
        s"${http.url}/series?index=%5EGSPC&start=2024-03-01&end=2024-03-31"
      assert(get(seriesUrl).body().contains("100.0"))
      batch(101.5, 1L)
      // fire the swap CONCURRENTLY with a stream of reads: every read
      // must return 200 with one of the two valid snapshots — never a
      // torn body, an error, or a third value
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val refreshF = Future(client.send(
        HttpRequest.newBuilder(URI.create(s"${http.url}/refresh"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString()))
      val readsF = Future.sequence((1 to 16).map(_ => Future(get(seriesUrl))))
      val reads = Await.result(readsF, 120.seconds)
      val refresh = Await.result(refreshF, 120.seconds)
      assert(refresh.statusCode() == 200 &&
        refresh.body() == """{"swapped":true}""", refresh.body())
      assert(reads.forall(_.statusCode() == 200),
        reads.map(_.statusCode()).mkString(","))
      val bad = reads.filterNot(r =>
        (r.body().contains("100.0") && !r.body().contains("101.5")) ||
          (r.body().contains("101.5") && !r.body().contains("100.0")))
      assert(bad.isEmpty, s"torn/mixed snapshot bodies: ${bad.map(_.body()).take(2)}")
      // after the swap completes, only the new snapshot serves
      assert(get(seriesUrl).body().contains("101.5"))
    } finally { http.stop(0); serve.release() }
  }

  test("concurrent clients: parallel requests all succeed with consistent bodies") {
    withServer { (http, serve) =>
      val expected = serve.chartSeries("^GSPC", "2024-01-10", "2024-01-19")
        .toJSON.collect().mkString("[", ",", "]")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val hits = Future.sequence((1 to 12).map { _ =>
        Future(get(s"${http.url}/series?index=%5EGSPC&start=2024-01-10&end=2024-01-19"))
      })
      val rs = Await.result(hits, 120.seconds)
      assert(rs.forall(_.statusCode() == 200))
      assert(rs.forall(_.body() == expected),
        "every concurrent response must carry the identical slice")
    }
  }
}
