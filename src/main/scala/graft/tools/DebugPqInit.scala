package graft.tools

import graft.BenchSession
import graft.operators.{Knn, Pq}
import org.apache.spark.sql.functions._

/** One-off measurement: PQ codebook quality (corpus reconstruction MSE +
  * multi-query ADC recall) for the current Lloyd init, printed for the
  * init A/B in SCALING.md. Run:
  * `sbt "runMain graft.tools.DebugPqInit /root/testdata/sf0.01"`. */
object DebugPqInit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("id"), col("embedding")).cache()
    corpus.count()

    val queries = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val exact = Knn.batch(corpus, queries, k = 10, metric = "l2").cache()
    exact.count()
    for (seed <- 40L to 44L) {
      val model = Pq.train(corpus, dim = 64, m = 8, k = 16, seed = seed)
      val enc = corpus.withColumn("codes", Pq.encode(model, col("embedding"))).cache()
      val mse = enc.withColumn("deq", Pq.decode(model, col("codes")))
        .select(avg(pow(graft.functions.VectorExpressions.vecL2(
          col("embedding"), col("deq")), 2.0)).as("mse"))
        .head().getDouble(0)
      val approx = Pq.adcSearchBatch(enc, model, queries, k = 10, shortlist = 10)
      val recall = graft.operators.Ivf.evaluateRecall(
        approx.select("query_id", "id"), exact).head().getDouble(0)
      println(f"[pq-init] seed=$seed MSE=$mse%.6f recall@10=$recall%.4f")
      enc.unpersist()
    }
    spark.stop()
  }
}
