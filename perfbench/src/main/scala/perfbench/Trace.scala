package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Benchmark-side tracing. Spans are recorded around each call into a
  * layer from the benchmark's own code and kept in memory until the
  * run ends. Times are nanoseconds since the runner started, so Spark's
  * epoch-millisecond stage times can be placed on the same axis. */
final class Trace {
  private val t0Nano = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  private val nextId = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer[Map[String, Any]]()

  def now(): Long = System.nanoTime() - t0Nano

  def fromEpochMs(ms: Long): Long = (ms - t0EpochMs) * 1000000L

  /** Record one span; returns its id so children can name it. */
  def span(trace: String, name: String, parent: Long, start: Long, end: Long): Long = {
    val id = nextId.incrementAndGet()
    buf.synchronized {
      buf += Map("trace" -> trace, "id" -> id, "parent" -> parent,
        "name" -> name, "start" -> start, "end" -> end)
    }
    id
  }

  def spans: Seq[Map[String, Any]] = buf.synchronized(buf.toList)
}

/** Task and stage counters per job group, fed by Spark's public
  * listener events. The benchmark tags every traced call with a job
  * group named after its trace id; jobs without a group (the HTTP
  * server's pool threads) are counted under "-". */
final class TaskListener extends SparkListener {
  final class Stats {
    var stages = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var inputBytes = 0L
    def toMap: Map[String, Long] = Map("stages" -> stages, "tasks" -> tasks,
      "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite,
      "shuffle_read" -> shuffleRead, "input_bytes" -> inputBytes)
  }
  private val aliases = mutable.HashMap[String, String]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stats = mutable.HashMap[String, Stats]()
  private val stageSpans = mutable.ArrayBuffer[(String, Int, Long, Long)]()
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)

  /** Count the jobs of job group `from` under group `to`. Spark's stream
    * execution thread tags its jobs with the query's run id, not with
    * the group of the thread that started the query. */
  def alias(from: String, to: String): Unit = synchronized { aliases(from) = to }

  private def resolve(g: String): String = aliases.getOrElse(g, g)

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    e.stageInfos.foreach(s => stageGroup.getOrElseUpdate(s.stageId, g))
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val g = stageGroup.getOrElse(si.stageId, "-")
    stats.getOrElseUpdate(g, new Stats).stages += 1
    for (s <- si.submissionTime; c <- si.completionTime)
      stageSpans += ((g, si.stageId, s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "-"), new Stats)
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      s.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Wait until every started job's end event has been delivered. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stableSince = System.currentTimeMillis()
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        (ended.get() < started.get() || System.currentTimeMillis() - stableSince < 300)) {
      if (started.get() != last) { last = started.get(); stableSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
  }

  def statsByGroup: Map[String, Map[String, Long]] = synchronized {
    stats.toSeq.groupBy { case (g, _) => resolve(g) }.map { case (g, ss) =>
      g -> ss.map(_._2.toMap).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
    }
  }

  /** Stage spans (group, stage id, submitted, completed) in epoch ms. */
  def stages: Seq[(String, Int, Long, Long)] = synchronized {
    stageSpans.toList.map { case (g, id, s, c) => (resolve(g), id, s, c) }
  }
}
