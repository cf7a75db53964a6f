package graft.tools

import graft.BenchSession
import org.apache.spark.sql.functions._

/** Production-depth BPE training measurement: extend the SCALING.md
  * cost-vs-rounds curve a second decade (10/15/20 rounds at 255
  * merges/round ≈ 5K merges) over the 10x replicated document corpus —
  * the same corpus ScalingCurve's `bpe` family stages. Each point is one
  * full `train` call (training is cumulative per call, so the curve
  * points are independent cold measurements, not a resumed chain);
  * also times one application pass of the deepest vocabulary. */
object BpeDeepTrain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the 10x corpus ScalingCurve stages (replica tag spliced per 3 words)
    val path = "/tmp/graft_scaling/docs_r10"
    val done = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) {
      val docs = graft.core.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val toks = split(col("text"), "\\s+")
      val tagged = transform(
        sequence(lit(0), floor((size(toks) - 1) / 3.0).cast("int")),
        g => concat(concat_ws(" ", slice(toks, g * 3 + 1, lit(3))),
          lit(" zz"), col("i")))
      docs.select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(9))).as("i"))
        .select((col("doc_id") * 10 + col("i")).as("doc_id"),
          concat_ws(" ", tagged).as("text"))
        .repartition(col("doc_id"))
        .write.mode("overwrite").parquet(path)
    }
    val corpus = spark.read.parquet(path)
    val nDocs = corpus.count()
    println(s"[bpe-deep] corpus $nDocs docs ($path)")

    var deepest: Seq[graft.functions.BpeTokenizer.Merge] = Nil
    for (rounds <- args.drop(1).headOption
        .map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(10, 15, 20))) {
      val t0 = System.nanoTime()
      val merges = graft.functions.BpeTokenizer.train(corpus,
        mergesPerRound = 255, rounds = rounds)
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[bpe-deep] rounds=$rounds%2d merges=${merges.size}%5d train=$t%8.2f s")
      deepest = merges
    }
    for (pass <- 1 to 2) {
      val t0 = System.nanoTime()
      val total = corpus.select(
        graft.functions.BpeTokenizer.tokenCount(col("text"), deepest).as("n"))
        .agg(sum("n")).head.getLong(0)
      println(f"[bpe-deep] apply pass$pass (${deepest.size} merges) " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s, $total tokens")
    }
    spark.stop()
  }
}
