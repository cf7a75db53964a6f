package graft.tools

import graft.BenchSession
import graft.core.Tables
import graft.operators.Hnsw
import org.apache.spark.sql.functions._

/** Dev scratch (optimization round): per-phase wall timing of the
  * store_hnsw_crud lifecycle, warm (second pass measured). */
object DebugHnswCrudPhases {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[phase] $label%-24s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    for (pass <- 0 to 1) {
      println(s"-- pass $pass --")
      val e = Tables.load(spark, sfDir, "embeddings")
      val path = s"/tmp/graft_hnsw_crud_dbg/v$pass"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (suffix <- Seq("", "_tmp", "_old", "_swap.inprogress",
          "_swap.lock", "_writer.lease"))
        fs.delete(new org.apache.hadoop.fs.Path(path + suffix), true)
      val corpus = e.select(col("vec_id").cast("long").as("id"), col("embedding"))
      val cfg = Hnsw.HnswConfig(efConstruction = 100, efSearch = 80)
      t("buildAndSave") {
        Hnsw.buildAndSave(
          graft.operators.Dedup.spread(corpus.filter(col("id") % 5 =!= 4)),
          path, cfg = cfg)
      }
      val acc = t("stats agg") {
        corpus.agg(count(lit(1)), max("id"),
          count(when(col("id") % 5 === 4, 1))).head()
      }
      val (nTotal, maxId, _) = (acc.getLong(0), acc.getLong(1), acc.getLong(2))
      t("insertIntoSaved") {
        Hnsw.insertIntoSaved(
          corpus.filter(col("id") % 5 === 4 || col("id") < 10).repartition(4),
          path, cfg = cfg)
      }
      val delIds = 0L.to(maxId).by(7L)
      t("deleteFromSaved") { Hnsw.deleteFromSaved(spark, path, delIds) }
      t("vacuumSaved") { Hnsw.vacuumSaved(spark, path) }
      t("compactSaved") {
        Hnsw.compactSaved(spark, path, minNodes = 1 << 20,
          targetNodes = math.max(1024, nTotal.toInt), cfg = cfg)
      }
      val queries = e.filter(col("vec_id") < 60)
        .select(col("vec_id").cast("long").as("query_id"),
          col("embedding").as("q_embedding"))
      t("searchSaved+agg") {
        Hnsw.searchSaved(spark, path, queries, k = 10, efSearch = 200)
          .groupBy("query_id")
          .agg(min_by(col("id"), col("distance")).as("top_id"))
          .count()
      }
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
    }
    spark.stop()
  }
}
