package graft.tools

import graft.BenchSession
import graft.core.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Dev scratch (optimization round 18): phase timing of the MinHash-LSH
  * pair pipeline shared by minhash_lsh_pairs / dup_clusters /
  * dup_keep_best / leakage_split — where do the ~2 s go at sf0.1?
  * Bench-identical session conf. */
object DebugLshPhases {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = BenchSession.builder().getOrCreate()
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[phase] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    for (pass <- 0 to 1) {
      println(s"-- pass $pass --")
      spark.sharedState.cacheManager.clearCache()
      graft.operators.Dedup.invalidateFunnelCache()
      val docs = Tables.load(spark, sfDir, "documents")
      val spreadDocs = graft.operators.Dedup.spread(docs)
      t("hash+band (no spread)") {
        docs.select(col("doc_id").as("id"),
            array_distinct(shingleHashes(col("text"), 2)).as("hs"))
          .withColumn("bks", sigBandKeys(minhashFromHashes(col("hs"), 8), 4, 2))
          .write.format("noop").mode("overwrite").save()
      }
      t("hash+band (spread)") {
        spreadDocs.select(col("doc_id").as("id"),
            array_distinct(shingleHashes(col("text"), 2)).as("hs"))
          .withColumn("bks", sigBandKeys(minhashFromHashes(col("hs"), 8), 4, 2))
          .write.format("noop").mode("overwrite").save()
      }
      val hashed = spreadDocs.select(col("doc_id").as("id"),
          array_distinct(shingleHashes(col("text"), 2)).as("hs"))
        .withColumn("bks", sigBandKeys(minhashFromHashes(col("hs"), 8), 4, 2))
        .persist()
      t("persist materialize (count)") { hashed.count() }
      t("pairs from cached") {
        graft.operators.Dedup.minhashLshPairsFromBandKeys(hashed,
            threshold = 0.3, inputPersisted = true)
          .write.format("noop").mode("overwrite").save()
      }
      t("pairs cached (AQE off)") {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try graft.operators.Dedup.minhashLshPairsFromBandKeys(hashed,
            threshold = 0.3, inputPersisted = true)
          .write.format("noop").mode("overwrite").save()
        finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
      t("pairs cached (4 shufparts)") {
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try graft.operators.Dedup.minhashLshPairsFromBandKeys(hashed,
            threshold = 0.3, inputPersisted = true)
          .write.format("noop").mode("overwrite").save()
        finally spark.conf.set("spark.sql.shuffle.partitions", sessionParts)
      }
      t("pairs cached (smallInput bc)") {
        graft.operators.Dedup.minhashLshPairsFromBandKeys(hashed,
            threshold = 0.3, inputPersisted = true, smallInput = true)
          .write.format("noop").mode("overwrite").save()
      }
      t("full minhashLshPairs") {
        graft.operators.Dedup.minhashLshPairs(docs, 2, 4, 2, 0.3)
          .write.format("noop").mode("overwrite").save()
      }
      hashed.unpersist()
    }
    spark.stop()
  }
}
