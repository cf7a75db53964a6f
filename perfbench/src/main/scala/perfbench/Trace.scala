package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One recorded interval; times are `System.nanoTime` values. */
final case class Span(id: Long, name: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Per-stage numbers the listener keeps (summed task metrics). */
final case class StageRec(stageId: Int, tasks: Int, runMs: Long, cpuNs: Long,
    recordsRead: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)

final case class JobRec(jobId: Int, op: Long, start: Long, end: Long,
    stages: Seq[Int])

/** In-memory span store for the traced run. While `enabled` is false the
  * store calls record no span (untraced requests of a traced run); the
  * listener records every job and stage once registered. */
final class Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  /** Child span id -> the client request span that caused it. */
  val parents = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  def nextId(): Long = ids.incrementAndGet()

  private var fs0 = FsStats(0, 0)
  private var gc0 = 0L
  /** FS I/O and GC time between [[begin]] and [[finish]]. */
  var fsWindow = FsStats(0, 0)
  var gcWindowMs = 0L

  /** Start recording: the traced window opens. */
  def begin(): Unit = { fs0 = FsStats.now(); gc0 = Jvm.gcMs(); enabled = true }

  /** Close the traced window's FS and GC counters (spans keep recording). */
  def finish(): Unit = { fsWindow = FsStats.now() - fs0; gcWindowMs = Jvm.gcMs() - gc0 }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def named(prefix: String): Seq[Span] =
    spans.asScala.filter(_.name.startsWith(prefix)).toSeq

  /** Spans, jobs and stages as JSON lines, written when the run ends. A
    * span's request id is its own for a client request span (`http.*`),
    * else its parent's; a job's parent is the store call in `op`. */
  def dump(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try {
      spans.asScala.foreach { s =>
        val parent = parents.getOrDefault(s.id, 0L)
        val req = if (s.name.startsWith("http.")) s.id else parent
        w.println(
          s"""{"kind":"span","id":${s.id},"name":"${s.name}","start":${s.start},"end":${s.end},"parent":$parent,"req":$req}""")
      }
      jobs.asScala.foreach(j => w.println(
        s"""{"kind":"job","id":${j.jobId},"op":${j.op},"start":${j.start},"end":${j.end},"stages":[${j.stages.mkString(",")}]}"""))
      stages.values.asScala.foreach(s => w.println(
        s"""{"kind":"stage","id":${s.stageId},"tasks":${s.tasks},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"records_read":${s.recordsRead},"shuffle_read":${s.shuffleRead},"shuffle_write":${s.shuffleWrite},"spill":${s.spill}}"""))
    } finally w.close()
  }
}

object Tracer {
  /** Local property carrying the store-call span id into Spark jobs. */
  val OpKey = "perfbench.op"
}

/** Records job spans (tagged with the submitting store call through
  * [[Tracer.OpKey]], 0 when none) and per-stage task metrics. Job timestamps come from
  * the listener bus in wall-clock ms; they are converted to the nanoTime
  * base the other spans use. */
final class JobListener(tr: Tracer) extends SparkListener {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNano(ms: Long) = ms * 1000000L + offsetNs
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
      .flatMap(_.toLongOption).getOrElse(0L)
    open.put(e.jobId, JobRec(e.jobId, op, toNano(e.time), 0L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = open.remove(e.jobId)
    if (j != null) tr.jobs.add(j.copy(end = toNano(e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) tr.stages.put(i.stageId, StageRec(i.stageId, i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

/** Interval arithmetic for self time: the length of `outer` not covered
  * by the union of `inner` (clipped to `outer`). */
object Intervals {
  def covered(lo: Long, hi: Long, inner: Seq[(Long, Long)]): Long = {
    val clipped = inner.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  def uncovered(lo: Long, hi: Long, inner: Seq[(Long, Long)]): Long =
    (hi - lo) - covered(lo, hi, inner)
}

/** Hadoop FileSystem byte counters, summed over every scheme (the local
  * file system counts bytes, not operations). Deltas of two snapshots give
  * the I/O between them. */
final case class FsStats(bytesRead: Long, bytesWritten: Long) {
  def -(o: FsStats) = FsStats(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}

object FsStats {
  def now(): FsStats = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    FsStats(all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

/** JVM-side numbers: GC time and old-generation occupancy after a GC. */
object Jvm {
  private def gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcMs(): Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Old-gen bytes in use right after a full collection. The first
    * collection lets Spark's context cleaner release what only weak
    * references held; the second, after a pause, measures what is left. */
  def liveOldGenMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = if (old.nonEmpty) old.map(_.getUsage.getUsed).sum
      else java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    used / 1048576.0
  }

  val SettleSamples = 2

  /** Old-gen MB once the heap has settled after a workload's traffic: the
    * minimum of [[SettleSamples]] readings of [[liveOldGenMb]]. Right after
    * the traffic one reading still holds blocks of finished jobs that
    * Spark's context cleaner has not dropped yet, so it lands on one of
    * several levels tens of MB apart; the second reading gives the cleaner
    * time to finish. */
  def settledOldGenMb(): Double = {
    val xs = Seq.fill(SettleSamples)(liveOldGenMb())
    Log(xs.map(x => f"$x%.1f").mkString("post-traffic old gen MB: ", ", ", ""))
    xs.min
  }
}

object Bus {
  /** Wait until the listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.BusAccess.waitUntilEmpty(spark.sparkContext)
}
