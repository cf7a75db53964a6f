package graft.tools

import graft.BenchSession
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Long-run probe for the streaming near-dup ingest's accepted-state
  * compaction (the bounded-growth claim StreamingSpec asserts
  * structurally): drive ~50 micro-batches of ACCEPTED docs (every batch
  * textually distinct, so the state genuinely grows) through
  * `dedupIngest` with a compaction cycle every 16 batches, and record per
  * batch both the wall time and the accepted-state file count — the
  * sawtooth whose ceiling proves the state stays bounded across cycles,
  * and whose compaction-batch spikes price the amortized rewrite. Run at
  * 1x and 10x batch size for the scale trend. Results -> SCALING.md. */
object StreamLongRun {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_LONGRUN_BATCHES", "50").toInt
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).agg(sum("id")).collect()

    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))

    for (scale <- Seq(1, 10)) {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_longrun_${scale}x_").toString
      val acc = s"$tmp/acc"
      // pre-write one source file per micro-batch; maxFilesPerTrigger=1
      // then replays them as 50 separate triggers in one stream run.
      // Text is fully SYNTHETIC and unique per (batch, rep, doc): ~45
      // arithmetic-derived tokens, so no two docs share shingles and the
      // accepted state genuinely grows (a suffix on real text leaves
      // Jaccard ~1 and the dedup rejects the lot — measured 78%).
      for (i <- 1 to nBatches) {
        docs.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"))
          .withColumn("rep", explode(sequence(lit(0), lit(scale - 1))))
          .select((col("doc_id") + col("rep") * 100000L).as("doc_id"),
            concat_ws(" ", transform(sequence(lit(1), lit(45)),
              j => concat(lit("w"),
                pmod(col("doc_id") * 7919 + j * 104729 + lit(i * 31), lit(100000003L)))))
              .as("text"))
          .coalesce(1)
          .write.mode("append").parquet(s"$tmp/src")
      }
      // per-batch (duration, post-batch state file count) via the query
      // listener; acceptedStateFileCount is a pure reader (no swap-state
      // mutation), so probing during the live stream is safe by contract
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Int)]()
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          if (p.numInputRows > 0)
            rows.add((p.batchId, p.durationMs.get("triggerExecution").toDouble / 1000.0,
              graft.streaming.Streaming.acceptedStateFileCount(spark, acc)))
        }
      }
      spark.streams.addListener(listener)
      val t0 = System.nanoTime()
      val q = graft.streaming.Streaming.dedupIngest(
        spark, s"$tmp/src", acc, s"$tmp/chk",
        maxFilesPerTrigger = 1,
        compactEveryBatches = 16, compactMinFiles = 8)
      q.processAllAvailable(); q.stop()
      spark.streams.removeListener(listener)
      val total = (System.nanoTime() - t0) / 1e9
      val nAcc = spark.read.parquet(s"$acc/docs").count()
      val recs = rows.toArray(Array.empty[(Long, Double, Int)]).sortBy(_._1)
      println(s"[longrun] === scale=${scale}x batches=$nBatches " +
        f"total=$total%.1fs accepted=$nAcc ===")
      recs.foreach { case (b, s, f) =>
        println(f"[longrun] batch=$b%3d wall=$s%6.2fs state_files=$f%4d")
      }
      val compactB = recs.filter(r => r._1 > 0 && r._1 % 16 == 0).map(_._2)
      val steadyB = recs.filter(r => r._1 > 4 && r._1 % 16 != 0).map(_._2)
      if (steadyB.nonEmpty && compactB.nonEmpty)
        println(f"[longrun] steady median=${steadyB.sorted.apply(steadyB.length / 2)}%.2fs " +
          f"compaction batches=${compactB.map(x => f"$x%.2f").mkString("/")}s " +
          f"max_files=${recs.map(_._3).max} final_files=${recs.last._3}")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    spark.stop()
  }
}
