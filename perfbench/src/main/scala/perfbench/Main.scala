package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark runner. Runs one workload against the engine's public
  * functions and writes every raw measurement to `<work>/result.json`;
  * `run.py` turns them into metrics.
  *
  * Usage: perfbench.Main --workload W --work DIR --seconds S --trace 0|1 --cpus N
  */
object Main {
  final case class Cfg(workload: String, work: String, seconds: Double,
      trace: Boolean, cpus: Int) {
    val deadlineNs: Long = (seconds * 1e9).toLong
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Cfg(opts("workload"), opts("work"), opts("seconds").toDouble,
      opts.getOrElse("trace", "0") == "1", opts.getOrElse("cpus", "4").toInt)
    val result = cfg.workload match {
      case "query_sweep" => Sweep.run(cfg)
      case "daily_ingest_serve" => Daily.run(cfg)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Json.write(s"${cfg.work}/result.json", result)
    // stop the JVM even if a library left a non-daemon thread behind
    System.exit(0)
  }

  /** One local session, configured as `graft.Bench` configures its own. */
  def session(cfg: Cfg): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `graft.Bench`'s floor probe: a constant two-stage query, min of 3,
    * in milliseconds. Its cost is job machinery, not data. */
  def floorProbeMs(spark: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id") % 32).as("k"))
      .count().count()
    (System.nanoTime() - t0) / 1e6
  }.min

  /** Heap still in use after a full collection: what caches and memos
    * retain at the end of the timed region. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def secs(ns: Long): Double = ns / 1e9

  /** Seconds from JVM start to the given epoch-millisecond instant. */
  def sinceJvmStart(epochMs: Long): Double =
    (epochMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def errText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}
