package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Connected-components duplicate clustering ([[Dedup.duplicateClusters]] /
  * [[Dedup.dropNearDuplicatesTransitive]]): transitive chains collapse to
  * one component labeled by the minimum id, disjoint clusters stay
  * disjoint, and the transitive drop keeps exactly one canonical doc per
  * cluster.
  */
class DedupClustersSpec extends SparkSpec {
  import spark.implicits._

  test("chains collapse to the min id; disjoint clusters stay disjoint") {
    // two chains (1-2, 2-3, 3-4) and (10-11), plus a star (20-21, 20-22):
    // pairwise input never links 1 to 4 directly — only the closure does
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (20L, 22L)
    ).toDF("id_a", "id_b")
    val comps = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("label order in the pair list does not matter") {
    // the same chain with reversed/unsorted endpoints: min still wins
    val pairs = Seq((4L, 3L), (2L, 1L), (3L, 2L)).toDF("id_a", "id_b")
    val comps = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    assert(comps.values.toSet == Set(1L))
    assert(comps.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("deep chain converges within the iteration budget") {
    val n = 33L
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.duplicateClusters(pairs, maxIter = 40)
      .as[(Long, Long)].collect().toMap
    assert(comps.size == n)
    assert(comps.values.forall(_ == 1L))
  }

  test("transitive drop keeps one canonical doc per near-dup cluster") {
    // b is a near-dup of a; c is a near-dup of b but NOT of a (two edits
    // away) — greedy pair-removal would remove both b and c, leaving c's
    // only claimed survivor (b) itself removed; the transitive rule keeps
    // exactly the cluster minimum and documents that the removed docs'
    // canonical representative IS kept
    val base = "the quick brown fox jumps over the lazy dog near the old barn door today"
    val b = base + " x1"
    val c = b + " x2 y2"
    val docs = Seq(
      (1L, base), (2L, b), (3L, c),
      (7L, "completely different text about spark catalyst optimizer plans and shuffles here")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicatesTransitive(docs,
      shingleN = 2, bands = 4, rowsPerBand = 2, threshold = 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(7L))
    assert(!kept.contains(2L))
    // every removed doc's component representative is kept
    val pairs = Dedup.minhashLshPairs(docs, 2, 4, 2, 0.3)
    val comps = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    comps.foreach { case (id, comp) =>
      if (!kept.contains(id)) assert(kept.contains(comp) || comps(comp) != comp)
    }
  }

  test("empty pair list yields an empty labeling") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(pairs).count() == 0)
  }

  test("semantic dedup keeps the smallest id per embedding near-dup group") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),  // dup group {1, 2}
      (2L, Array(0.999f, 0.01f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0),  // far from the group: kept
      (4L, Array(1.0f, 0.0f, 0.0f), 1)   // same direction as 1 but other
    ).toDF("vec_id", "embedding", "blk")  // block: blocking spares it
    val kept = Dedup.dropEmbeddingNearDuplicates(vecs, threshold = 0.9,
        blockCol = "blk", idCol = "vec_id")
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("clusterRepresentatives keeps the best-quality member, ties to min id") {
    // clusters {1,2,3} (chain) and {10,11}; quality: 2 is best in the
    // first, 10 and 11 tie in the second (tie -> min id 10)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val docs = Seq(
      (1L, 50L), (2L, 90L), (3L, 70L), (10L, 40L), (11L, 40L)
    ).toDF("doc_id", "n_chars")
    val reps = Dedup.clusterRepresentatives(pairs, docs, "n_chars")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    assert(reps.toSeq == Seq((1L, 2L, 90.0, 3L), (10L, 10L, 40.0, 2L)))
  }

  test("a null-quality member never wins representative selection") {
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    // doc 1 is unscored (null quality); doc 2 must win despite the larger id
    val docs = Seq((1L, None: Option[Long]), (2L, Some(10L)))
      .toDF("doc_id", "n_chars")
    val rep = Dedup.clusterRepresentatives(pairs, docs, "n_chars").head()
    assert(rep.getLong(1) == 2L && rep.getDouble(2) == 10.0)
  }

  test("an undersized iteration budget fails loudly, never partial labels") {
    // a 10-deep chain cannot converge in 2 rounds; silent partial labels
    // would break the kept-representative guarantee downstream. Pins the
    // DISTRIBUTED path (the in-driver union-find below the edge limit is
    // exact and has no iteration budget).
    val pairs = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.dedup.localClusterMaxEdges", "0")
    try intercept[IllegalStateException](
      Dedup.duplicateClusters(pairs, maxIter = 2))
    finally spark.conf.unset("spark.graft.dedup.localClusterMaxEdges")
  }

  test("in-driver union-find below the edge limit matches the distributed labels") {
    // chains, a star, a cycle, self-pairs, reversed endpoints — the local
    // path must produce the identical (id -> min reachable id) map
    val pairs = Seq(
      (1L, 2L), (3L, 2L), (3L, 4L), (9L, 8L), (8L, 7L), (7L, 9L),
      (20L, 21L), (20L, 22L), (30L, 30L), (41L, 40L)
    ).toDF("id_a", "id_b")
    val local = Dedup.duplicateClusters(pairs).as[(Long, Long)]
      .collect().toMap
    assert(Dedup.lastPropagationRounds == 0, "expected the local path")
    spark.conf.set("spark.graft.dedup.localClusterMaxEdges", "0")
    val dist =
      try Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
      finally spark.conf.unset("spark.graft.dedup.localClusterMaxEdges")
    assert(Dedup.lastPropagationRounds > 0, "expected the distributed path")
    assert(local == dist)
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 40L -> 40L, 41L -> 40L))
  }

  test("pointer jumping converges chains in O(log depth) rounds") {
    // a 64-deep chain under pure neighbor-min propagation would need
    // ~64 rounds; path doubling covers distance ~2^r by round r, so the
    // default maxIter=20 budget absorbs it with a wide margin — the
    // property that makes chain-shaped components (the leakage-split
    // width concern) safe at any corpus scale
    val depth = 64L
    val pairs = (1L until depth).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.dedup.localClusterMaxEdges", "0")
    val comps =
      try Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
      finally spark.conf.unset("spark.graft.dedup.localClusterMaxEdges")
    assert(comps.size == depth && comps.values.forall(_ == 1L))
    assert(Dedup.lastPropagationRounds <= 10,
      s"expected ~log2(64)+3 rounds, took ${Dedup.lastPropagationRounds}")
  }

  test("a null id below the edge limit takes the distributed labels") {
    // the in-driver union-find reads primitive longs; a null endpoint
    // must take the distributed rounds, which label it (null, null) and
    // link nothing through it
    val pairs = Seq[(Long, java.lang.Long)]((1L, 2L), (2L, null), (3L, 4L))
      .toDF("id_a", "id_b")
    val local = Dedup.duplicateClusters(pairs)
      .as[(Option[Long], Option[Long])].collect().toSet
    spark.conf.set("spark.graft.dedup.localClusterMaxEdges", "0")
    val dist =
      try Dedup.duplicateClusters(pairs)
        .as[(Option[Long], Option[Long])].collect().toSet
      finally spark.conf.unset("spark.graft.dedup.localClusterMaxEdges")
    assert(local == dist)
    assert(local == Set(Some(1L) -> Some(1L), Some(2L) -> Some(1L),
      Some(3L) -> Some(3L), Some(4L) -> Some(3L), None -> None))
  }

  test("a degenerate LSH bucket yields its C(n,2) pairs without one " +
      "bucket-sized pair array") {
    // 300 identical docs land in the same (band, bucket) on every band;
    // the scan path must pair them from O(bucket) arrays — a flatten of
    // per-id pair lists materializes all C(n,2) pairs in one array value
    val n = 300L
    val docs = (1L to n).map(i => (i, "one shared near duplicate body"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, shingleN = 2, bands = 4,
      rowsPerBand = 2, threshold = 0.5)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("flatten"), plan)
    assert(pairs.count() == n * (n - 1) / 2)
  }
}
