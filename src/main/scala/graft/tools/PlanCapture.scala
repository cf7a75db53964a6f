package graft.tools

import graft.BenchSession
import org.apache.spark.sql.functions._

/** Optimization-round plan capture: prints `.explain("formatted")` for the
  * INTERNAL distributed plans the round touched (the declared queries
  * mostly return driver-local relations, so the meaningful plans are the
  * operators' internals). Output is redirected into plans/r18/<name>.txt.
  *
  * {{{ sbt "runMain graft.tools.PlanCapture /root/testdata/sf0.1 integrity_perid" }}}
  */
object PlanCapture {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = args.drop(1).toSet
    def want(n: String) = which.isEmpty || which(n)
    val spark = BenchSession.builder().getOrCreate()
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.sparkContext.setLogLevel("WARN")
    import graft.core.Tables

    if (want("integrity_perid")) {
      // the integrity store shape, then capture the one-pass perId plan
      // via the integrityPerIdPlan hook (the heavy per-id pass stays
      // unexecuted; the hook itself runs the bounded centroid count and
      // tier FS probes while assembling the plan)
      println("### integrity_perid: checkIntegrity per-id pass ###")
      val path = java.nio.file.Files
        .createTempDirectory("graft_plancap_").toString
      val store = new graft.store.VectorStore(spark, path,
        graft.store.VectorStore.Config(
          recentThresholdSeconds = 7L * 24 * 3600, nClusters = 8, nProbe = 4))
      val emb = Tables.load(spark, sfDir, "embeddings")
      store.insertDF(emb.select(
        concat(lit("v"), col("vec_id")).as("id"), col("embedding"),
        when(col("vec_id") % 2 === 0, lit("2020-01-01 00:00:00"))
          .otherwise(lit("2026-01-01 23:00:00")).cast("timestamp").as("ts")))
      store.migrate(Some(java.sql.Timestamp.valueOf("2026-01-02 00:00:00")))
      store.enableSq(); store.enableBq()
      store.enablePq(m = 4, kCodes = 16, trainSize = 2048)
      store.enableOpq(m = 4, kCodes = 16, trainSize = 2048, iters = 1)
      store.checkIntegrity() // executes the pass; plan printed below
      store.integrityPerIdPlan().explain("formatted")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }

    if (want("lsh_pairs")) {
      // the MinHash-LSH candidate+verify plan shared by minhash_lsh_pairs /
      // dup_clusters / dup_keep_best / leakage_split / decontaminate
      println("### lsh_pairs: MinHash-LSH candidate generation + verify ###")
      val docs = Tables.load(spark, sfDir, "documents")
      graft.operators.Dedup.minhashLshPairs(docs,
        shingleN = 2, bands = 4, rowsPerBand = 2, threshold = 0.3)
        .explain("formatted")
    }

    if (want("windowed_staging")) {
      println("### windowed_staging: one-pass tagged-union stage write ###")
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("value"))
      val dfs = (0 until 6).map(b => docs
        .filter(pmod(col("doc_id"), lit(6)) === b).select(col("value")))
      val tagged = dfs.zipWithIndex
        .map { case (df, i) => df.withColumn("__graft_batch", lit(i)) }
        .reduce(_ unionByName _)
      tagged.repartition(col("__graft_batch")).explain("formatted")
    }

    if (want("batch_agg_tuned")) {
      println("### batch_agg_tuned: per-micro-batch grouped fold exchange ###")
      // the grouped fold's per-batch aggregate, planned at the tuned
      // reducer count a 4-file micro-batch derives (1) vs the session 32
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_plancap_b_").toString
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("value"),
          (col("doc_id") % 3).cast("string").as("source"))
        .repartition(4).write.parquet(s"$tmp/data")
      val batch = spark.read.parquet(s"$tmp/data")
      spark.conf.set("spark.sql.adaptive.enabled", "false") // streaming has no AQE
      println(s"-- at session shuffle partitions ($sessionParts, the untuned plan) --")
      batch.groupBy("source").agg(count(lit(1)), sum("value"))
        .explain("formatted")
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      println("-- at the batch-derived count (1, the tuned plan) --")
      batch.groupBy("source").agg(count(lit(1)), sum("value"))
        .explain("formatted")
      spark.conf.set("spark.sql.shuffle.partitions", sessionParts)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }

    spark.stop()
  }
}
