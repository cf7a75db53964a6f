package graft.tools

import graft.BenchSession
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev utility (optimization rounds): run one named SparkEntry query under
  * the EXACT Bench session config and print a per-Spark-job time breakdown
  * of the warm pass — job duration, description/call site, task count and
  * shuffle bytes — so a multi-action query's seconds can be attributed to
  * phases before optimizing (guide §1: measure first, empirically).
  *
  * {{{ SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ProfileQuery /root/testdata/sf0.1 integrity_scan" }}}
  */
object ProfileQuery {
  private final case class JobRec(id: Int, var desc: String, t0: Long,
      var ms: Long = -1L, var tasks: Int = 0, var shufR: Long = 0L,
      var shufW: Long = 0L, var input: Long = 0L)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQuery <sfDir> <query>...")
    val sfDir = args.head
    val names = args.tail
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val byId = mutable.Map.empty[Int, JobRec]
    var collecting = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (collecting) synchronized {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          val r = JobRec(j.jobId, desc, j.time)
          jobs += r; byId(j.jobId) = r
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (collecting) synchronized {
          byId.get(j.jobId).foreach(r => r.ms = j.time - r.t0)
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (collecting) synchronized {
          // attribute the stage to the most recent job still open — good
          // enough for sequential query phases
          val m = s.stageInfo.taskMetrics
          jobs.lastOption.foreach { r =>
            r.tasks += s.stageInfo.numTasks
            if (m != null) {
              r.shufR += m.shuffleReadMetrics.totalBytesRead
              r.shufW += m.shuffleWriteMetrics.bytesWritten
              r.input += m.inputMetrics.bytesRead
            }
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      // cold pass: codegen/footers/JIT (same role as the Bench warm-up)
      fn(spark, sfDir).count()
      spark.sharedState.cacheManager.clearCache()
      jobs.clear(); byId.clear()
      collecting = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      collecting = false
      Thread.sleep(300) // let trailing listener events drain
      println(f"%n== $name warm wall=$wall%.3f s, ${jobs.size} jobs ==")
      val total = jobs.map(_.ms).filter(_ > 0).sum / 1e3
      println(f"  sum of job times: $total%.3f s (gap to wall = driver-side work)")
      jobs.sortBy(-_.ms).take(30).foreach { r =>
        println(f"  ${r.ms}%6d ms  tasks=${r.tasks}%4d  in=${r.input / 1024}%8d KB  shufR=${r.shufR / 1024}%7d KB  shufW=${r.shufW / 1024}%7d KB  ${r.desc.take(110)}")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
