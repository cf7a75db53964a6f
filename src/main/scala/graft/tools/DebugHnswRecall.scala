package graft.tools

import graft.BenchSession
import graft.core.Tables
import graft.operators.{Hnsw, Knn}
import graft.queries.{AnnQueries, QueryShapes}
import org.apache.spark.sql.functions._

/** Measurement harness for the store_hnsw_recall gate: per-query recall@10
  * of searchSaved over the scale index vs the exact top-10, at each SF —
  * the numbers the row's documented thresholds cite. */
object DebugHnswRecall {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (dir <- dirs) {
      val e = Tables.load(spark, dir, "embeddings")
      val path = AnnQueries.ensureHnswScaleIndex(spark, dir)
      val queries = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val approx = Hnsw.searchSaved(spark, path, queries, k = 10, efSearch = 120)
        .select(col("query_id"), col("id"))
      val exact = Knn.batch(QueryShapes.scaleCorpus(e), queries, k = 10,
          metric = "l2", roundDecimals = 6)
        .select(col("query_id"), col("id"))
      val perQ = exact
        .join(approx.withColumn("hit", lit(1)), Seq("query_id", "id"), "left")
        .groupBy("query_id")
        .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("recall"))
      val agg = perQ.agg(
        round(avg("recall"), 4).as("avg"),
        round(min("recall"), 4).as("min"),
        count(lit(1)).as("n")).head()
      println(s"[recall] $dir avg=${agg.get(0)} min=${agg.get(1)} n=${agg.get(2)}")
      val hist = perQ.groupBy(round(col("recall"), 1).as("r"))
        .count().orderBy("r").collect()
        .map(r => s"${r.get(0)}:${r.getLong(1)}").mkString(" ")
      println(s"[recall] $dir hist $hist")
    }
    spark.stop()
  }
}
