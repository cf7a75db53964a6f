package graft.tools

import graft.BenchSession
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Dev scratch (optimization round): phase-timing of one streaming fold
  * row — staging write / stream start / drain / state read — to locate the
  * non-job driver overhead ProfileQuery exposed.
  */
object DebugStreamPhases {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val b = BenchSession.builder()
    sys.env.get("GRAFT_DBG_CKPT_FM").foreach(c =>
      b.config("spark.sql.streaming.checkpointFileManagerClass", c))
    sys.env.get("GRAFT_DBG_CKPT_CRC").foreach(c =>
      b.config("spark.sql.streaming.checkpoint.fileChecksum.enabled", c))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[phase] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    // one warm pass first (codegen/footers), then the measured pass
    for (pass <- 0 to 1) {
      println(s"-- pass $pass --")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_dbgphase_").toString
      try {
        val docs = Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), col("n_chars").cast("long").as("value"))
        t("stage write (repartition 4)") {
          docs.select(col("value")).repartition(4)
            .write.parquet(s"$tmp/src")
        }
        val q = t("ingest() -> start") {
          graft.streaming.StreamingMoments.ingest(spark, s"$tmp/src",
            s"$tmp/state", s"$tmp/chk", valueCol = "value",
            maxFilesPerTrigger = 1)
        }
        t("processAllAvailable") { q.processAllAvailable() }
        q.recentProgress.foreach { p =>
          println(s"[trigger] batch=${p.batchId} durationMs=${p.durationMs}")
        }
        t("stop") { q.stop() }
        t("readState + toDF + count") {
          val st = graft.streaming.StreamingMoments.readState(spark, s"$tmp/state")
          graft.streaming.StreamingMoments.toDF(spark, st).count()
        }
        t("cleanup") {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(tmp))
    }
    // checkpoint-checksum A/B (Spark 4.x writes checksum sidecars for
    // checkpoint files): same fold, checksum on/off alternated in ONE
    // session so host drift can't masquerade as a win
    for (crc <- Seq("true", "false", "true", "false", "true", "false")) {
      spark.conf.set(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled", crc)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_dbgphase_crc_").toString
      try {
        val docs = Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), col("n_chars").cast("long").as("value"))
        docs.select(col("value")).repartition(4).write.parquet(s"$tmp/src")
        t(s"fold drain (crc=$crc)") {
          val q = graft.streaming.StreamingMoments.ingest(spark, s"$tmp/src",
            s"$tmp/state", s"$tmp/chk", valueCol = "value",
            maxFilesPerTrigger = 1)
          try q.processAllAvailable() finally q.stop()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(tmp))
    }
    spark.conf.unset("spark.sql.streaming.checkpoint.fileChecksum.enabled")
    spark.stop()
  }
}
