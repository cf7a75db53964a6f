package graft.tools

import graft.BenchSession
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Scratch profiler for the streaming_ingest probe: times the micro-batch
  * body's stages as plain batch jobs, then full dedupIngest runs at
  * several trigger sizings, to locate where docs/s goes. */
object DebugStreamIngest {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).agg(sum("id")).collect()

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[ingest] $name%-30s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    import graft.functions.TextFunctions._
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    val n = docs.count()
    println(s"[ingest] docs: $n")

    for (pass <- 1 to 2) {
      println(s"[ingest] === batch-stage pass $pass ===")
      // mirrors the dedupIngest micro-batch body: hash set + band keys in
      // one pass, pairs from the precomputed keys, ONE coalesced state write
      val hashed = docs
        .select(col("doc_id"), col("text"),
          array_distinct(shingleHashes(col("text"), 2)).as("hs"))
        .withColumn("bks", sigBandKeys(minhashFromHashes(col("hs"), 8), 4, 2))
        .persist()
      t("hash+persist")(hashed.count())
      val inPairs = graft.operators.Dedup.minhashLshPairsFromBandKeys(
        hashed.select(col("doc_id").as("id"), col("hs"), col("bks")), 0.5)
      t("lsh_pairs")(inPairs.count())
      val inKept = hashed.join(
        inPairs.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      val out = java.nio.file.Files.createTempDirectory("graft_ingest_dbg_").toString
      t("write_state")(inKept.select("doc_id", "text", "hs", "bks")
        .coalesce(math.max(2, spark.sparkContext.defaultParallelism / 8))
        .write.mode("overwrite").parquet(s"$out/docs"))
      hashed.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }

    // genuine batch-size curve: 16-file source, trigger 1/2/4/8/16 files
    // per micro-batch => ~312/625/1250/2500/5000 docs per batch
    for (mf <- Seq(1, 2, 4, 8, 16, 0)) {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_ingest_e2e_").toString
      docs.repartition(16).write.parquet(s"$tmp/src")
      val nf = new java.io.File(s"$tmp/src").listFiles().count(_.getName.endsWith(".parquet"))
      val t0 = System.nanoTime()
      val q = graft.streaming.Streaming.dedupIngest(
        spark, s"$tmp/src", s"$tmp/acc", s"$tmp/chk",
        maxFilesPerTrigger = mf)
      q.processAllAvailable(); q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val acc = spark.read.parquet(s"$tmp/acc/docs").count()
      println(f"[ingest] e2e maxFiles=$mf%-3d srcFiles=$nf%-3d ${secs}%.2fs " +
        f"${n / secs}%.0f docs/s accepted=$acc")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    spark.stop()
  }
}
