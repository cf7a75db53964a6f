package graft.tools

import graft.BenchSession
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Width/depth legs for the transitive dup-cluster labeling
  * ([[Dedup.duplicateClusters]]) — the one leakage-split ingredient whose
  * iteration count depends on component SHAPE, not size. Chain-shaped
  * components are the worst case for min-label propagation (rounds =
  * eccentricity of the min node); with the r16 pointer-jumping step the
  * claim is rounds ~ log2(depth) + small constant, independent of how
  * MANY chains (pair volume) run in parallel. This harness prices both
  * axes: depth decades at fixed volume, and 1x/10x/100x pair volume at
  * fixed depth. Results -> SCALING.md.
  *
  * Usage: runMain graft.tools.ChainPropRun
  *   SPARK_GRAFT_CHAIN_DEPTHS  (default "64,1024,4096")
  *   SPARK_GRAFT_CHAIN_PAIRS   (default "100000,1000000,10000000")
  *   SPARK_GRAFT_CPUS          (default 4, via BenchSession)
  */
object ChainPropRun {
  def main(args: Array[String]): Unit = {
    val depths = sys.env.getOrElse("SPARK_GRAFT_CHAIN_DEPTHS", "64,1024,4096")
      .split(",").map(_.trim.toInt).toSeq
    val volumes = sys.env.getOrElse("SPARK_GRAFT_CHAIN_PAIRS",
      "100000,1000000,10000000").split(",").map(_.trim.toLong).toSeq
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // this tool MEASURES the distributed propagation rounds — disable the
    // bounded in-driver union-find path so small legs stay comparable
    spark.conf.set("spark.graft.dedup.localClusterMaxEdges", "0")
    spark.range(1000000L).agg(sum("id")).collect()

    /** `nPairs` total edges as parallel chains of `depth` nodes each:
      * chain c holds ids [c*depth+1, (c+1)*depth], edges (i, i+1). The
      * expected label for every node of chain c is c*depth+1. */
    def run(depth: Int, nPairs: Long): Unit = {
      val perChain = depth - 1
      val chains = math.max(1L, nPairs / perChain)
      val pairs = spark.range(chains * perChain).select(
        // global edge index e -> chain c = e / perChain, offset o = e %
        (col("id") / perChain).cast("long").as("c"),
        (col("id") % perChain).as("o"))
        .select((col("c") * depth + col("o") + 1).as("id_a"),
          (col("c") * depth + col("o") + 2).as("id_b"))
      val t0 = System.nanoTime()
      val labels = Dedup.duplicateClusters(pairs,
        maxIter = 2 * depth + 4) // never the binding constraint here
      // correctness alongside the timing: every node labeled with its
      // chain head, counted distributively (no collect of node rows)
      val wrong = labels.filter(
        col("comp") =!= (floor((col("id") - 1) / depth) * depth + 1)).count()
      val secs = (System.nanoTime() - t0) / 1e9
      require(wrong == 0L, s"mislabelled nodes: $wrong")
      println(f"[chain] depth=$depth%6d chains=$chains%8d pairs=${chains * perChain}%9d " +
        f"rounds=${Dedup.lastPropagationRounds}%3d wall=$secs%7.2f s")
    }

    println(s"[chain] depth decades at ~${volumes.head} pairs")
    depths.foreach(d => run(d, volumes.head))
    println(s"[chain] volume decades at depth ${depths.head}")
    volumes.foreach(v => run(depths.head, v))
    spark.stop()
  }
}
