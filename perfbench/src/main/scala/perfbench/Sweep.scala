package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}
import graft.queries._

/** The two query sweeps: one closed-loop client runs the workload's
  * declared queries one after another, in a seeded order per pass,
  * until the measured time is up. Each query is timed from the
  * `SparkEntry.queries(name)` call (frame build) through
  * `Bench.benchAction` (planning and `toRdd.count()`). */
object Sweep {
  /** The 15 query objects, by name: the `family.<Object>` layer. */
  val families: Seq[(String, Map[String, QFn])] = Seq(
    "CoreQueries" -> CoreQueries.queries, "JoinQueries" -> JoinQueries.queries,
    "AggQueries" -> AggQueries.queries, "WindowQueries" -> WindowQueries.queries,
    "ScalarQueries" -> ScalarQueries.queries,
    "SqlSurfaceQueries" -> SqlSurfaceQueries.queries,
    "IndicatorQueries" -> IndicatorQueries.queries,
    "BehaviorQueries" -> BehaviorQueries.queries, "EtlQueries" -> EtlQueries.queries,
    "StarPipelineQueries" -> StarPipelineQueries.queries,
    "NorthStarQueries" -> NorthStarQueries.queries,
    "ExtendedQueries" -> ExtendedQueries.queries,
    "TrainPrepQueries" -> TrainPrepQueries.queries,
    "CorpusStatsQueries" -> CorpusStatsQueries.queries,
    "CorpusCleanQueries" -> CorpusCleanQueries.queries)

  def familyOf(q: String): String =
    families.collectFirst { case (f, qs) if qs.contains(q) => f }.getOrElse("?")

  def run(cfg: Main.Cfg): Map[String, Any] = {
    val in = Json.read(s"${cfg.work}/sweep.json")
    val dataDir = s"${cfg.work}/data"
    val names = in.get("queries").elements().asScala.map(_.asText).toList
    val prebuilt = in.get("prebuilt").elements().asScala
      .map(a => a.get(0).asText -> a.get(1).asText).toList
    val passes = in.get("passes").elements().asScala
      .map(_.elements().asScala.map(_.asText).toList).toList
    val reps = in.get("setup_reps").asInt
    val unknown = (names ++ prebuilt.map(_._2)).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    val tr = new Trace

    // Set-up, `reps` times: a fresh session plus the prebuilt artifacts
    // (the session memos `graft.Bench` builds before it times anything).
    var spark: SparkSession = null
    val setups = (1 to reps).map { _ =>
      if (spark != null) { ExtendedQueries.releaseCaches(spark, dataDir); spark.stop() }
      val s0 = tr.now()
      spark = Main.session(cfg)
      val s1 = tr.now()
      val arts = prebuilt.map { case (art, q) =>
        val a0 = tr.now()
        Bench.benchAction(SparkEntry.queries(q)(spark, dataDir))
        art -> Main.secs(tr.now() - a0)
      }
      Map("session_s" -> Main.secs(s1 - s0), "prebuilt_s" -> arts.toMap,
        "total_s" -> Main.secs(tr.now() - s0))
    }

    // Warm-up, which is also the correctness dump: every query's result
    // written as `graft.Verify` writes it, for the DuckDB comparison. A
    // memo first materialised here, not in set-up, would be charged to
    // no end-to-end metric: the run reports each one as a problem.
    val cachedAfterSetup = spark.sparkContext.getPersistentRDDs.keySet
    val w0 = tr.now()
    val dumpErrors = mutable.LinkedHashMap[String, String]()
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"${cfg.work}/results/$n")
      catch { case NonFatal(e) => dumpErrors(n) = Main.errText(e) }
    }
    val warmupS = Main.secs(tr.now() - w0)
    val cachedInWarmup = spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if !cachedAfterSetup(id) => String.valueOf(rdd.name).take(160) }
    Json.write(s"${cfg.work}/results/oracle_sql.json",
      names.map(n => n -> SparkEntry.oracleSql(n)).toMap)

    val listener = new TaskListener
    if (cfg.trace) spark.sparkContext.addSparkListener(listener)
    val floorBefore = Main.floorProbeMs(spark)
    val sc = spark.sparkContext

    // The measured loop. A traced run traces every query: job group,
    // spans around the frame build and the action, planning phases.
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val batches = mutable.ArrayBuffer[Map[String, Any]]()
    val loop0 = tr.now()
    val firstOpEpochMs = System.currentTimeMillis()
    val deadline = loop0 + cfg.deadlineNs
    var p = 0
    // Passes run until the deadline and at least `min_passes` are done;
    // a pass under way at the deadline is finished.
    val minPasses = in.get("min_passes").asInt
    while (p < passes.size && (tr.now() < deadline || p < minPasses)) {
      val pass0 = tr.now()
      val it = passes(p).iterator
      while (it.hasNext) {
        val n = it.next()
        val id = s"q${ops.size}"
        if (cfg.trace) sc.setJobGroup(id, n, false)
        val s = tr.now()
        var b = s
        var err: String = null
        var phases = Map.empty[String, (Long, Long)]
        try {
          val df = SparkEntry.queries(n)(spark, dataDir)
          b = tr.now()
          Bench.benchAction(df)
          if (cfg.trace) phases = df.queryExecution.tracker.phases.map { case (k, v) =>
            k -> (tr.fromEpochMs(v.startTimeMs), tr.fromEpochMs(v.endTimeMs)) }.toMap
        } catch { case NonFatal(e) => err = Main.errText(e) }
        val e = tr.now()
        if (cfg.trace) {
          sc.clearJobGroup()
          val root = tr.span(id, "query", 0, s, e)
          tr.span(id, "plan.build", root, s, b)
          tr.span(id, "exec", root, b, e)
          phases.foreach { case (k, (ps, pe)) => tr.span(id, s"plan.$k", -1, ps, pe) }
        }
        ops += Map("name" -> n, "family" -> familyOf(n), "pass" -> p, "id" -> id,
          "start" -> s, "build_end" -> b, "end" -> e, "ok" -> (err == null),
          "err" -> err)
      }
      batches += Map("start" -> pass0, "end" -> tr.now())
      p += 1
    }
    val loopEnd = tr.now()
    val floorAfter = Main.floorProbeMs(spark)
    val heap = Main.retainedHeapMb()
    if (cfg.trace) {
      listener.drain()
      listener.stages.foreach { case (g, sid, s, c) =>
        tr.span(g, "stage", -1, tr.fromEpochMs(s), tr.fromEpochMs(c)) }
    }
    spark.stop()
    Map(
      "setups" -> setups, "warmup_s" -> warmupS, "dump_errors" -> dumpErrors,
      "cached_outside_setup" -> cachedInWarmup,
      "jvm_to_first_op_s" -> Main.sinceJvmStart(firstOpEpochMs),
      "floor_before_ms" -> floorBefore, "floor_after_ms" -> floorAfter,
      "loop_start" -> loop0, "loop_end" -> loopEnd,
      "ops" -> ops, "batches" -> batches, "retained_heap_mb" -> heap,
      "spans" -> tr.spans, "task_stats" -> listener.statsByGroup,
      "queries" -> names.map(n => n -> familyOf(n)).toMap)
  }
}
