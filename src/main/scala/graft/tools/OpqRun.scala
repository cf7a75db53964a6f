package graft.tools

import graft.BenchSession
import graft.core.Tables
import graft.operators.{Ivf, Knn, Opq, Pq}
import graft.queries.QueryShapes
import org.apache.spark.sql.functions._

/** OPQ vs plain PQ, measured on the 100K anisotropically-stretched scale
  * corpus (the variance-concentrated shape OPQ exists for — the ann_opq
  * row's stretch over the scaleCorpus 100K twin): training wall (both are
  * bounded-sample, so this is a CONSTANT at any corpus size), full-corpus
  * encode wall (map-only — the number that scales), reconstruction MSE,
  * and recall@10 vs exact for 100 queries, ADC-only and with a
  * shortlist-50 exact rerank. Results -> SCALING.md. */
object OpqRun {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).agg(sum("id")).collect()

    // the ann_opq stretch applied to the 100K scale twin: dimension i
    // scaled by (1 + i/8), double multiply, float cast
    val corpus = QueryShapes.scaleCorpus(Tables.load(spark, dir, "embeddings"))
      .select(col("id"), transform(col("embedding"), (x, i) =>
        (x.cast("double") * (lit(1.0) + i.cast("double") / lit(8.0)))
          .cast("float")).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()
    val queries = corpus.filter(col("id") % 1000 === 0).limit(100)
      .select(col("id").as("query_id"), col("embedding").as("q_embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    queries.count()
    val exact = Knn.batch(corpus, queries, k = 10, metric = "l2",
      roundDecimals = 6)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    exact.count()

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def mse(deq: org.apache.spark.sql.DataFrame): Double = deq
      .agg(avg(pow(graft.functions.VectorExpressions.vecL2(
        col("embedding"), col("d")), 2.0))).head().getDouble(0)
    def recall(hits: org.apache.spark.sql.DataFrame): Double =
      Ivf.evaluateRecall(hits, exact).select("avg_recall").head().getDouble(0)

    val (pq, pqTrainS) = time(Pq.train(corpus, dim = 64, m = 8, k = 16,
      trainSize = 10000))
    val (opq, opqTrainS) = time(Opq.train(corpus, dim = 64, m = 8, k = 16,
      trainSize = 10000, iters = 5))

    val (pqEnc, pqEncS) = time {
      val e = corpus.select(col("id"),
        Pq.encode(pq, col("embedding")).as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count(); e
    }
    val (opqEnc, opqEncS) = time {
      val e = corpus.select(col("id"),
        Opq.encode(opq, col("embedding")).as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count(); e
    }

    val pqMse = mse(corpus.join(pqEnc, "id")
      .withColumn("d", Pq.decode(pq, col("codes"))))
    val opqMse = mse(corpus.join(opqEnc, "id")
      .withColumn("dr", Pq.decode(opq.pq, col("codes")))
      .withColumn("d", Opq.rotateBack(opq, col("dr"))))

    val (_, pqAdcS100k) = time(
      Pq.adcSearchBatch(pqEnc, pq, queries, k = 10, shortlist = 10).count())
    val (_, opqAdcS100k) = time(
      Opq.searchBatch(opqEnc, opq, queries, k = 10, shortlist = 10).count())

    // recall CONTRAST on the raw stretched table (2K rows): the 100K
    // scale corpus is 50 near-identical replicas per base vector, so a
    // query's true top-10 are its own replicas and ANY coarse code ranks
    // them perfectly (recall 1.0 for both by construction) — the replica
    // twin prices throughput above, not discrimination
    val small = QueryShapes.stretchedCorpus(
      Tables.load(spark, dir, "embeddings")).persist()
    val sQueries = small.filter(col("id") < 100)
      .select(col("id").as("query_id"), col("embedding").as("q_embedding"))
    val sExact = Knn.batch(small, sQueries, k = 10, metric = "l2",
      roundDecimals = 6).persist()
    sExact.count()
    def sRecall(hits: org.apache.spark.sql.DataFrame): Double =
      Ivf.evaluateRecall(hits, sExact).select("avg_recall").head().getDouble(0)
    val sPq = Pq.train(small, dim = 64, m = 8, k = 16, trainSize = 10000)
    val sOpq = Opq.train(small, dim = 64, m = 8, k = 16,
      trainSize = 10000, iters = 5)
    val sPqEnc = small.select(col("id"),
      Pq.encode(sPq, col("embedding")).as("codes"))
    val sOpqEnc = small.select(col("id"),
      Opq.encode(sOpq, col("embedding")).as("codes"))
    val pqAdc = sRecall(Pq.adcSearchBatch(sPqEnc, sPq, sQueries,
      k = 10, shortlist = 10))
    val opqAdc = sRecall(Opq.searchBatch(sOpqEnc, sOpq, sQueries,
      k = 10, shortlist = 10))
    val pqRr = sRecall(Pq.adcSearchBatch(sPqEnc, sPq, sQueries,
      k = 10, shortlist = 50, rerank = Some(small)))
    val opqRr = sRecall(Opq.searchBatch(sOpqEnc, sOpq, sQueries,
      k = 10, shortlist = 50, rerank = Some(small)))

    println(f"[opqrun] corpus=$n rows dim=64 m=8 k=16 (4-bit codes), stretched (1+i/8)")
    println(f"[opqrun] train:  pq=$pqTrainS%.2fs  opq=$opqTrainS%.2fs (bounded 10K sample - constant at any corpus size)")
    println(f"[opqrun] encode: pq=$pqEncS%.2fs  opq=$opqEncS%.2fs (map-only over $n rows)")
    println(f"[opqrun] mse:    pq=$pqMse%.4f  opq=$opqMse%.4f  ratio=${opqMse / pqMse}%.3f")
    println(f"[opqrun] ADC search wall, 100 queries x $n rows: pq=$pqAdcS100k%.2fs  opq=$opqAdcS100k%.2fs")
    println(f"[opqrun] recall contrast (raw stretched 2K table, 100 queries):")
    println(f"[opqrun]   recall@10 ADC-only:   pq=$pqAdc%.4f  opq=$opqAdc%.4f")
    println(f"[opqrun]   recall@10 rerank(50): pq=$pqRr%.4f  opq=$opqRr%.4f")
    spark.stop()
  }
}
