package graft.tools

import graft.BenchSession
import graft.core.Tables
import graft.store.VectorStore
import graft.streaming.{MigrationPolicy, MigrationScheduler}
import org.apache.spark.sql.functions._

/** Price `checkIntegrity(confirmTransients = true)` under LIVE
  * maintenance (the r14 verdict's unpriced corner): a writer thread runs
  * continuous `MigrationScheduler.runMigration` cycles (each preceded by
  * a small aged insert so migrate always has work, with the SQ tier
  * enabled so every run also delta-encodes), while a SEPARATE
  * VectorStore handle — its own lease token, as a real monitor process
  * would be — runs confirm scans at several wait budgets. Reported per
  * (scheduler idle gap, confirmWaitMs): confirmation rate, scan latency
  * median/max, plus the scheduler's own cycle time — the numbers an
  * operator needs to size the wait budget against the maintenance
  * cadence. Results -> SCALING.md.
  *
  * Env: SPARK_GRAFT_CONFIRM_SCANS (default 6 per cell),
  * SPARK_GRAFT_CONFIRM_WAITS ms (default "2000,10000"),
  * SPARK_GRAFT_SCHED_GAPS_MS writer idle between cycles (default
  * "0,2000"), SPARK_GRAFT_CPUS. */
object ConfirmRun {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val scans = sys.env.getOrElse("SPARK_GRAFT_CONFIRM_SCANS", "6").toInt
    val waits = sys.env.getOrElse("SPARK_GRAFT_CONFIRM_WAITS", "2000,10000")
      .split(",").map(_.trim.toLong).toSeq
    val gaps = sys.env.getOrElse("SPARK_GRAFT_SCHED_GAPS_MS", "0,2000")
      .split(",").map(_.trim.toLong).toSeq
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val path = java.nio.file.Files
      .createTempDirectory("graft_confirm_run_").toString
    val cfg = VectorStore.Config(
      recentThresholdSeconds = 3600, nClusters = 8, nProbe = 4)
    val writer = new VectorStore(spark, path, cfg)
    val emb = Tables.load(spark, dir, "embeddings")
    val oldTs = java.sql.Timestamp.from(
      java.time.Instant.now().minusSeconds(7200))
    writer.insertDF(emb.select(
      concat(lit("v"), col("vec_id")).as("id"), col("embedding"),
      lit(oldTs).as("ts")))
    writer.migrate()
    writer.enableSq()
    // a monitor is a different process: its own store handle = own lease
    // token, so the writer's lease genuinely reads as held-by-other
    val monitor = new VectorStore(spark, path, cfg)
    val sched = new MigrationScheduler(writer, MigrationPolicy(
      refreshCodeTiers = true, rebuildRecentIndex = false))

    println(s"[confirmrun] corpus=$dir store=$path scansPerCell=$scans")
    gaps.foreach { gap =>
      @volatile var running = true
      val cycleS = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val writerT = new Thread(() => {
        var i = 0
        while (running) {
          val t0 = System.nanoTime()
          try {
            // a fresh aged slice so migrate always has work (ids unique
            // per cycle; 100 rows keeps one cycle in the seconds range)
            writer.insertDF(emb.limit(100).select(
              concat(lit(s"c${gap}_${i}_"), col("vec_id")).as("id"),
              col("embedding"), lit(oldTs).as("ts")))
            sched.runMigration()
          } catch {
            // InterruptedException is not NonFatal: the stop interrupt
            // can land inside Spark code, and the loop must still exit
            // cleanly with its cycle stats recorded
            case _: InterruptedException => running = false
            case scala.util.control.NonFatal(e) =>
              println(s"[confirmrun] writer cycle failed: ${e.getMessage}")
          }
          cycleS.add((System.nanoTime() - t0) / 1e9)
          i += 1
          if (running && gap > 0) try Thread.sleep(gap)
            catch { case _: InterruptedException => running = false }
        }
      }, s"confirmrun-writer-gap$gap")
      writerT.setDaemon(true)
      writerT.start()
      Thread.sleep(2000L) // let the writer reach steady state
      waits.foreach { w =>
        val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
        var confirmed = 0
        var readFailed = 0
        (0 until scans).foreach { _ =>
          val t0 = System.nanoTime()
          // a lease-free scan can also PHYSICALLY race a tier swap (its
          // pinned file listing reads parts migrate just replaced —
          // FAILED_READ_FILE): that is a raced scan to retry, a distinct
          // outcome from ran-but-could-not-confirm, and the harness
          // counts it rather than dying on it
          try {
            val r = monitor.checkIntegrity(confirmTransients = true,
              confirmWaitMs = w)
            lat += (System.nanoTime() - t0) / 1e9
            if (r.transientsConfirmed) confirmed += 1
          } catch { case scala.util.control.NonFatal(_) => readFailed += 1 }
        }
        val sortedLat = lat.sorted
        val latStr =
          if (sortedLat.isEmpty) "n/a"
          else f"median=${sortedLat(sortedLat.length / 2)}%.2fs max=${sortedLat.last}%.2fs"
        println(s"[confirmrun] gap=${gap}ms wait=${w}ms " +
          s"confirmed=$confirmed/$scans read_failed=$readFailed " +
          s"latency $latStr")
      }
      running = false
      writerT.interrupt()
      // unbounded: a timed-out join would let the next gap leg start a
      // SECOND concurrent writer on the same store handle (same lease
      // token — withLease would not serialize them) and contaminate the
      // per-gap cycle stats; the thread always exits after its current
      // cycle once `running` is false
      writerT.join()
      val cs = cycleS.toArray(Array.empty[java.lang.Double])
        .map(_.doubleValue).sorted
      if (cs.nonEmpty)
        println(f"[confirmrun] gap=${gap}ms writer cycles=${cs.length} " +
          f"median=${cs(cs.length / 2)}%.2fs max=${cs.last}%.2fs")
    }
    spark.stop()
  }
}
