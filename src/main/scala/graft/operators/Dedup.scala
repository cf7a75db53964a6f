package graft.operators

import graft.functions.TextFunctions._
import graft.functions.VectorExpressions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around one shuffle at 100 TB scale:
  *
  *  - exact: hash-groupBy on a content fingerprint (one shuffle on a short
  *    hash key, never on the text itself)
  *  - MinHash+LSH: shingle -> signature (map-only) -> band buckets ->
  *    bucket-join candidates -> Jaccard verify (joins only within buckets,
  *    the classic sub-quadratic near-dup plan)
  *  - SimHash: map-only fingerprint; near-dups = small Hamming distance,
  *    bucketed by fingerprint prefix
  *  - embedding near-dup: cosine over pairs blocked by a cluster column
  *    (label / IVF cluster_id) — never all-pairs
  */
object Dedup {

  /** Spread a narrow input across the executors before CPU-heavy map work
    * (shingle md5 hashing): a small corpus arriving as one parquet file is
    * one partition, which would serialize the whole hash stage on a single
    * core. At scale the input is already many splits and this is a no-op —
    * the guard only fires when partitions < the target.
    *
    * The target is BYTE-DERIVED, not the bare core count (guide §2.5 —
    * partition counts must be scale-adaptive): min(defaultParallelism,
    * plan-stats bytes / `bytesPerPartition`). The default 32 KB/partition
    * fits the md5-per-shingle workloads (~0.4 µs/byte measured: 580 KB of
    * sf0.1 documents hash in ~1.3 s on one core), so real corpora still
    * spread to full width while a small fixture stops paying
    * core-count-many near-empty tasks per stage — the r17 scaling block's
    * inverse-scaling disease (rows FASTER at 8 cores than 32). Callers
    * whose per-byte map work is light (one md5 per document/segment)
    * pass a larger `bytesPerPartition`. Sources without size estimates
    * (streaming micro-batch LogicalRDDs report the conservative huge
    * default) spread to full width exactly as before. */
  private[graft] def spread(df: DataFrame,
      bytesPerPartition: Long = 32L << 10): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target =
      (bytes / bytesPerPartition).min(BigInt(cores)).max(BigInt(1)).toInt
    // queryExecution.toRdd asks the planned scan for its true partition
    // count (planning only, no job) — a file count would overestimate
    // parallelism whenever Spark bin-packs many small files into few
    // partitions, which is exactly the chunked-store shape this guard
    // protects against
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** [[spread]] sizing for light map work — one md5 over the whole
    * document/segment (~tens of ms per MB), where hash parallelism stops
    * mattering long before shuffle/task overhead does. */
  private val LightHashBytesPerPartition = 1L << 20

  /** Exact duplicate groups: (fingerprint, cnt, keep_id) for groups of
    * size >= minGroup; keep_id is the smallest id (the canonical survivor). */
  def exactGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      minGroup: Long = 1L): DataFrame =
    spread(docs, LightHashBytesPerPartition)
      .groupBy(contentFingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keep_id"))
      .filter(col("cnt") >= minGroup)

  /** Drop exact duplicates, keeping the smallest id per fingerprint —
    * one shuffle, resolved with min_by not a self-join. */
  def dropExactDuplicates(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val keep = spread(docs, LightHashBytesPerPartition)
      .groupBy(contentFingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** MinHash-LSH candidate pairs with verified Jaccard: signatures are
    * banded (numHashes = bands * rowsPerBand); docs sharing any band bucket
    * become candidates; candidates are verified on true shingle-set Jaccard.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    *
    * Snapshot contract: intermediate signature tables are memoized per
    * (plan, backing-files) key — see [[planKey]] — so repeated calls over
    * an unchanged corpus reuse the pinned signatures, a REWRITTEN corpus
    * path re-keys automatically, and [[invalidateFunnelCache]] force-drops
    * every pinned snapshot. */
  def minhashLshPairs(docs: DataFrame, shingleN: Int, bands: Int, rowsPerBand: Int,
      threshold: Double, textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Int = 0): DataFrame =
    // md5 each shingle exactly once; everything downstream (signature,
    // Jaccard verify) works on compact long arrays — at scale, only the
    // 8-long signature and the hash set ever cross a shuffle, never text.
    minhashLshPairsFromHashes(
      spread(docs).select(col(idCol).as("id"),
        array_distinct(shingleHashes(col(textCol), shingleN)).as("hs")),
      bands, rowsPerBand, threshold, maxBucket = maxBucket)

  /** As [[minhashLshPairs]] over an already-hashed relation (id, hs) —
    * callers that materialized the shingle hashes (streaming ingest) skip
    * the second md5 pass. */
  def minhashLshPairsFromHashes(hashedIn: DataFrame, bands: Int, rowsPerBand: Int,
      threshold: Double, maxBucket: Int = 0): DataFrame = {
    val numHashes = bands * rowsPerBand
    minhashLshPairsFromBandKeys(hashedIn
      .withColumn("bks", sigBandKeys(
        minhashFromHashes(col("hs"), numHashes), bands, rowsPerBand)),
      threshold, maxBucket = maxBucket)
  }

  /** As [[minhashLshPairsFromHashes]] over a relation that ALSO carries the
    * per-doc band keys (id, hs, bks) — callers that computed the banded
    * signature once for several uses (streaming ingest bands, pairs, and
    * persists the same column as its LSH state) skip the minhash pass too.
    *
    * `smallInput = true` broadcast-hints the candidate pair list through
    * the two verify joins: correct ONLY when the input is bounded (a
    * streaming micro-batch), where it removes shuffles of
    * task-overhead-dominated tiny relations — AQE cannot do this re-plan
    * under streaming. NEVER set it for a whole-corpus pair scan:
    * broadcasting an unbounded pair relation is the textbook driver OOM.
    *
    * `maxBucket > 0` bounds the candidate fan-out: a (band, bucket) group
    * with more than `maxBucket` members contributes NO candidate pairs
    * (a group's pair list is quadratic in its size — at extreme
    * duplicate rates the candidate list IS the output, and one degenerate
    * bucket of N near-identical docs would emit N^2/2 rows). This is an
    * explicit truncation, never silent: size it with [[lshBucketStats]]
    * (and [[prepPipelineStats]] surfaces the spilled-bucket count next to
    * the funnel numbers). Docs in a spilled bucket can still pair through
    * their OTHER bands' buckets. */
  def minhashLshPairsFromBandKeys(hashedIn: DataFrame,
      threshold: Double, smallInput: Boolean = false,
      inputPersisted: Boolean = false, maxBucket: Int = 0): DataFrame = {
    def bc(df: DataFrame): DataFrame = if (smallInput) broadcast(df) else df
    // cached: referenced three times (band explode + two verify joins);
    // without it the shingle-hash scan re-runs per reference. At cluster
    // scale this materialization is the signature table you'd persist.
    // inputPersisted skips the cache when the CALLER already persisted the
    // exact relation (streaming ingest) — a second materialization of the
    // same columns would only cost a pass and double the cached footprint.
    val hashed =
      if (inputPersisted) hashedIn
      else pinnedBanded(hashedIn)
    val bandedAll = hashed.select(col("id"),
      posexplode(col("bks")).as(Seq("band", "bucket")))
    // Candidate generation, two shapes with an IDENTICAL candidate set:
    //
    // - smallInput (a bounded streaming micro-batch): the broadcast band
    //   self-join — ZERO per-batch shuffles, which matters under streaming
    //   where AQE is off and every exchange would run at the session's
    //   full width (measured: switching the micro-batch path to the group
    //   shape below cost streaming_ingest ~0.5 s/run at sf0.1).
    //
    // - scan path: ONE exchange on the (band, bucket) key — groupBy +
    //   collect_list, each group's ordered pairs generated in place with
    //   codegen array HOFs. The former self-join shuffled the banded
    //   relation TWICE (both join sides) plus sorted both at scale, and
    //   the maxBucket cap needed its own count aggregate + keep-list
    //   semi-join; the group shape pays one exchange of the same small
    //   keys, the cap is a free size() filter, and at local scale five
    //   fewer AQE stage barriers (measured: the pair stage over a cached
    //   signature table dropped 1.67 s -> ~0.7 s at sf0.1, guide §2.4).
    //   A degenerate bucket's collected id list is O(bucket), far below
    //   its former quadratic join output; the pair explosion itself is
    //   the output size either way (and maxBucket bounds it as before).
    val cand = (if (smallInput) {
      val banded =
        if (maxBucket <= 0) bandedAll
        else {
          val keep = bandedAll.groupBy("band", "bucket")
            .agg(count(lit(1)).as("bsz"))
            .filter(col("bsz") <= maxBucket)
            .select("band", "bucket")
          bandedAll.join(broadcast(keep), Seq("band", "bucket"), "left_semi")
        }
      banded.select(col("band"), col("bucket"), col("id").as("id_a"))
        .join(broadcast(banded
          .select(col("band"), col("bucket"), col("id").as("id_b"))),
          Seq("band", "bucket"))
        .select("id_a", "id_b")
    } else {
      val grouped = bandedAll.groupBy("band", "bucket")
        .agg(collect_list(col("id")).as("ids"))
      val capped =
        if (maxBucket <= 0) grouped
        else grouped.filter(size(col("ids")) <= maxBucket)
      capped
        .withColumn("sids", array_sort(col("ids")))
        .select(explode(flatten(transform(col("sids"), (x, i) =>
          transform(
            slice(col("sids"), i + lit(2), size(col("sids")) - i - lit(1)),
            y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
    })
      // group shape: sids ascending makes id_a <= id_b by construction and
      // the strict filter drops only dup-id self-pairs; join shape: the
      // filter IS the ordering rule
      .filter(col("id_a") < col("id_b"))
      .distinct()
    // verify on true (hash-set) Jaccard, re-joining sets after pair dedup.
    // Under smallInput the pair list (and then pairs+hs_a) rides the
    // broadcast side of BOTH verify joins, so the cached hashed relation is
    // streamed in place twice and never crosses an exchange.
    val withA = bc(cand)
      .join(hashed.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
    bc(withA)
      .join(hashed.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Bucket-population report for a banded relation (id, bks) under a
    * candidate cap: ONE row — (n_buckets, n_spilled_buckets,
    * max_bucket_size) — where a bucket "spills" when its membership
    * exceeds `maxBucket` and [[minhashLshPairsFromBandKeys]] would drop
    * its candidate pairs. The no-silent-caps companion of the cap: a
    * curation run publishes this next to its funnel counts. */
  def lshBucketStats(bandedInput: DataFrame, maxBucket: Int): DataFrame =
    bandedInput.select(col("id"), posexplode(col("bks")).as(Seq("band", "bucket")))
      .groupBy("band", "bucket").agg(count(lit(1)).as("bsz"))
      .agg(count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("bsz") > maxBucket, 1L)), lit(0L))
          .as("n_spilled_buckets"),
        coalesce(max("bsz"), lit(0L)).as("max_bucket_size"))

  /** All-pairs n-gram Jaccard within small blocks (blockCol bounded): the
    * exact verify used when a blocking key already exists. */
  def ngramJaccardPairs(docs: DataFrame, shingleN: Int, threshold: Double,
      blockCol: String, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val s = docs.select(col(blockCol).as("blk"), col(idCol).as("id"),
      shingleSet(col(textCol), shingleN).as("sh"))
    val l = s.select(col("blk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val r = s.select(col("blk"), col("id").as("id_b"), col("sh").as("sh_b"))
    l.join(r, Seq("blk")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-dup removal from LSH pairs: greedy keep-smallest-id — every pair
    * (a < b) marks b for removal, so each near-dup group keeps exactly its
    * minimum surviving id (transitively closed enough for dedup purposes:
    * any removed doc had a smaller near-identical survivor). */
  def dropNearDuplicates(docs: DataFrame, shingleN: Int, bands: Int,
      rowsPerBand: Int, threshold: Double, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toRemove = minhashLshPairs(docs, shingleN, bands, rowsPerBand, threshold,
      textCol, idCol)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(toRemove, Seq(idCol), "left_anti")
  }

  /** Connected components over a near-duplicate pair list: every id that
    * appears in `pairs` is labeled with the MINIMUM id reachable through any
    * chain of pairs — the true transitive duplicate cluster.
    * [[dropNearDuplicates]]'s greedy per-pair rule only guarantees each
    * removed doc SOME smaller near-identical neighbor (which may itself be
    * removed); component labels give one canonical survivor per cluster and
    * the cluster-size statistics a curation report needs.
    *
    * Algorithm: min-label propagation WITH pointer jumping. `label(v)`
    * starts at `v`; each round every vertex takes the min of its own
    * label, its neighbors' labels, and its label's label (path doubling —
    * one extra self-join ∝ nodes per round); converges in O(log cluster
    * diameter) rounds, so even a pathological chain-shaped component
    * (templated pages chaining pairwise) cannot blow the iteration
    * budget — a 4096-deep chain converges in 14 rounds (SCALING.md width
    * legs). Near-dup graphs are stars and short chains, so 2–4 rounds in
    * practice; each round is one shuffle on the id key plus the label
    * self-join, and the driver sees only a per-round changed-count
    * aggregate, never row data. Lineage is truncated per round
    * (localCheckpoint) so plan depth stays constant; on a real cluster use
    * a checkpoint dir — the loop itself is scale-safe because rounds are
    * logarithmic in the deepest chain and independent of corpus size.
    *
    * Returns (id, component) for every id that appears in a pair. Docs with
    * no near-dup pair are their own singleton component and are omitted.
    *
    * Bounded fast path: when the measured pair count is at most
    * `spark.graft.dedup.localClusterMaxEdges` (default 100k, ≈ a few MB —
    * broadcast-relation territory) and the ids are LONGs, the edges are
    * collected and labeled with an exact in-driver union-find (one job
    * instead of 2-3 per round), producing the identical min-label map;
    * `lastPropagationRounds` reads 0 for that path. Set the conf to 0 to
    * pin the distributed rounds (the scaling tools and specs do).
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20,
      idACol: String = "id_a", idBCol: String = "id_b"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // pin the pair list BEFORE symmetrizing: the union's two branches are
    // otherwise two full evaluations of the upstream plan (Spark does not
    // dedupe common subplans), which for LSH-produced pairs means running
    // the whole signature/band/verify pipeline twice
    val fwd = pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // In-driver union-find for BOUNDED pair lists (long-id edges only) —
    // the same job-count argument as the store's in-driver k-means init:
    // each distributed label round costs 2-3 jobs (edge join + label
    // self-join + convergence count) over data that, under the limit, is
    // at most a few MB; a broadcast-sized collect computes the exact same
    // min-label components in one job + driver microseconds. The limit is
    // on the MEASURED pair count (one count over the already-persisted
    // relation, which the distributed path pays too via its distinct), so
    // a dup-heavy corpus whose pair list outgrows it takes the distributed
    // rounds unchanged — scale-adaptive, not a local-mode constant.
    val spark0 = pairs.sparkSession
    val localLimit = spark0.conf
      .getOption("spark.graft.dedup.localClusterMaxEdges")
      .map(_.toLong).getOrElse(100000L)
    val longIds = fwd.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // the count only decides the local path: skip it when that path is
    // ruled out anyway (non-long ids, or the limit pinned to 0)
    val localEdges =
      if (longIds && localLimit > 0 && fwd.count() <= localLimit)
        Some(fwd.collect())
          // a null id is no identity to union: the distributed rounds
          // carry it as its own (null, null) label, so such input takes
          // them too instead of failing on the primitive read
          .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      else None
    if (localEdges.nonEmpty) {
      val collected = localEdges.get
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent(x)
          val gp = parent.getOrElse(p, p)
          parent(x) = gp // path halving
          x = gp
        }
        x
      }
      fwd.unpersist()
      collected.foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        // link the larger root under the smaller: roots are then always
        // the component minimum, which IS the distributed algorithm's
        // label fixpoint (min id reachable through any chain)
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      lastPropagationRounds = 0 // local path: no distributed rounds ran
      import spark0.implicits._
      return collected.iterator
        .flatMap(r => Iterator(r.getLong(0), r.getLong(1)))
        .toArray.distinct.sorted
        .map(id => (id, find(id))).toSeq
        .toDF("id", "comp")
    }
    val edges = fwd
      .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val nbrMin = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("comp").as("nbr_comp"))
      // pointer jumping (path doubling): besides the neighbor minimum,
      // each node also adopts its CURRENT label's label — comp values are
      // always node ids (init: own id; updates: mins over node labels),
      // so the lookup is one self-equi-join on the label relation. This
      // turns rounds-to-fixpoint from O(eccentricity of the min node) —
      // which a chain-shaped component makes O(component size) — into
      // O(log diameter): after the first round a node's label is 1 hop
      // closer to the min, and each later round roughly doubles the
      // covered distance (measured: a 4096-deep chain converges in 14
      // rounds, SCALING.md). One extra shuffle ∝ nodes per round buys an
      // exponential drop in rounds on exactly the graphs that used to
      // threaten the iteration budget.
      val compOfComp = labels
        .select(col("id").as("comp"), col("comp").as("comp2"))
      val updated = labels.join(nbrMin, Seq("id"), "left")
        .join(compOfComp, Seq("comp"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp")),
            coalesce(col("comp2"), col("comp"))).as("new_comp"),
          col("comp"))
        .select(col("id"), col("new_comp").as("comp"),
          (col("new_comp") < col("comp")).as("changed"))
        .localCheckpoint(true)
      converged = updated.filter(col("changed")).count() == 0
      labels = updated.drop("changed")
      it += 1
    }
    edges.unpersist()
    fwd.unpersist()
    lastPropagationRounds = it
    // partial labels are silently WRONG labels: a doc whose comp still
    // points at a removed non-root breaks the one-kept-representative
    // guarantee the callers advertise. A chain deeper than maxIter must
    // surface, not degrade.
    if (!converged) throw new IllegalStateException(
      s"duplicate-cluster labeling did not converge in $maxIter rounds — " +
        "the dup graph has a chain deeper than maxIter; raise it")
    labels
  }

  /** Rounds the most recent [[duplicateClusters]] call took to converge
    * (including the final no-change confirmation round) — measurement
    * surface for the scaling harness: the scale claim is rounds ~
    * O(log cluster diameter), flat in corpus size. */
  @volatile var lastPropagationRounds: Int = 0

  /** Transitive near-dup removal: one canonical survivor (the minimum id)
    * per connected duplicate CLUSTER. Where [[dropNearDuplicates]] can
    * remove a doc whose only smaller neighbor was itself removed (chain
    * a~b~c keeps only a under both rules, but b's survivor claim pointed at
    * a removed doc), this keeps exactly `component == id` — every removed
    * doc has a KEPT near-identical (possibly via chain) representative. */
  def dropNearDuplicatesTransitive(docs: DataFrame, shingleN: Int,
      bands: Int, rowsPerBand: Int, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id",
      maxIter: Int = 20): DataFrame = {
    val pairs = minhashLshPairs(docs, shingleN, bands, rowsPerBand, threshold,
      textCol, idCol)
    val remove = duplicateClusters(pairs, maxIter)
      .filter(col("comp") =!= col("id"))
      .select(col("id").as(idCol))
    docs.join(remove, Seq(idCol), "left_anti")
  }

  /** Cluster-representative selection by QUALITY: where
    * [[dropNearDuplicatesTransitive]] keeps each cluster's minimum id (the
    * reference-style canonical-survivor rule), a curation pipeline keeps
    * the BEST member — near-dup web pages differ in boilerplate residue
    * and truncation, and dropping the clean copy because a mangled one has
    * a smaller id throws away quality the dedup step was supposed to
    * protect. Returns one row per duplicate cluster:
    * (component, keep_id, keep_quality, cluster_size), keep = the member
    * maximizing `qualityCol` (ties broken by minimum id, so the choice is
    * deterministic and partition-invariant).
    *
    * Scale shape: the label propagation of [[duplicateClusters]] plus ONE
    * join of the (bounded) labeled-duplicate set against the quality
    * column and one aggregate on the component key — a lexicographic
    * struct-min, not a window sort. */
  def clusterRepresentatives(pairs: DataFrame, docs: DataFrame,
      qualityCol: String, idCol: String = "doc_id",
      maxIter: Int = 20): DataFrame = {
    // a null quality must mean "never prefer", not a null-poisoned struct
    // min (nulls sort FIRST in Spark's struct ordering, so an unguarded
    // null would WIN the -q comparison and elect the unscored member)
    // LEFT join: a labeled member missing from `docs` (caller passed a
    // filtered view, or the pair list outlived a delete) must still count
    // toward cluster_size and must lose the election (its quality
    // coalesces to the same "never prefer" floor as an explicit null) —
    // an inner join would silently shrink the cluster and could flip the
    // elected representative. `docs` must carry each id at most once
    // (duplicates would double-count members).
    val q = docs.select(col(idCol).as("id"),
      coalesce(col(qualityCol).cast("double"),
        lit(Double.NegativeInfinity)).as("q"))
    duplicateClusters(pairs, maxIter)
      .join(q, Seq("id"), "left")
      .withColumn("q", coalesce(col("q"), lit(Double.NegativeInfinity)))
      .groupBy("comp")
      .agg(count(lit(1)).as("cluster_size"),
        // struct min is lexicographic: (-q, id) min == max quality, then min id
        min(struct((-col("q")).as("nq"), col("id").as("i"))).as("best"))
      .select(col("comp").as("component"), col("best.i").as("keep_id"),
        (-col("best.nq")).as("keep_quality"), col("cluster_size"))
  }

  /** Per-document duplicated-SPAN statistics — the window-level view of
    * duplication that document-level MinHash misses (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499: much of the duplication in web corpora is
    * substring-level, e.g. boilerplate repeated inside otherwise-distinct
    * pages). Every length-n token window of every document is hashed
    * ([[graft.functions.TextFunctions.shingleHashes]]); a window is a
    * duplicated span when the same window occurs in at least `minDocs`
    * DISTINCT documents.
    *
    * Returns one row per input document:
    * (id, n_windows, n_dup_windows, dup_span_fraction), where fraction is
    * n_dup/n_windows (0 for window-less short docs).
    *
    * Scale shape: text is hashed map-side and never crosses a shuffle.
    * Three exchanges, each on compact keys: (id, h) with map-side combine
    * collapsing within-doc repeats, then h for the distinct-doc counts,
    * then id for the per-doc rollup. Nothing is all-pairs and no suffix
    * array is materialized — this is the bounded-memory approximation of
    * substring dedup that a 100 TB corpus scan can actually run. */
  def dupSpanStats(docs: DataFrame, n: Int, minDocs: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val wins = spread(docs).select(col(idCol).as("id"),
      explode(shingleHashes(col(textCol), n)).as("h"))
    val perDocWin = wins.groupBy("id", "h").agg(count(lit(1)).as("cnt"))
    // one row per (id, h) already, so count(*) IS the distinct-doc count
    val dupWins = perDocWin.groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"), lit(true).as("dup"))
    val agg = perDocWin.join(dupWins, Seq("h"), "left")
      .groupBy("id").agg(
        sum("cnt").as("n_windows"),
        coalesce(sum(when(col("dup"), col("cnt"))), lit(0L)).as("n_dup_windows"))
    docs.select(col(idCol).as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        when(coalesce(col("n_windows"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_dup_windows").cast("double") / col("n_windows"))
          .as("dup_span_fraction"))
  }

  /** Segment-level (paragraph/line) deduplication, CCNet-style (Wenzek et
    * al. 2020 dedupe lines across shards before any document-level pass):
    * split each document on `sep`, drop empty segments, and keep only the
    * FIRST occurrence of each distinct segment corpus-wide — first in
    * (id, position) order, so the rule is deterministic and
    * partition-invariant. Returns one row per document that produced at
    * least one non-empty segment:
    * (id, n_segs, n_kept, kept_fp = md5 of the kept segments re-joined in
    * position order with `sep`) — the fingerprint stands in for the
    * deduplicated text so the row stays narrow.
    *
    * Scale shape: ONE exchange, on the segment-content hash (the
    * first-occurrence window), carrying (hash, id, position, segment) —
    * the same per-line shuffle CCNet's dedupe runs; the per-doc rollup
    * rides the id key. The segment body must cross the shuffle once (its
    * first occurrence is what the output keeps), but documents are never
    * joined pairwise. */
  def dedupSegments(docs: DataFrame, sep: String = "\n\n",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val segs = spread(docs, LightHashBytesPerPartition)
      .select(col(idCol).as("id"),
        posexplode(filter(split(col(textCol), java.util.regex.Pattern.quote(sep)),
          s => length(trim(s)) > 0)).as(Seq("seg_idx", "segment")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("segment"))).orderBy(col("id"), col("seg_idx"))
    segs.withColumn("keep", row_number().over(w) === 1)
      .groupBy("id").agg(
        count(lit(1)).as("n_segs"),
        coalesce(sum(when(col("keep"), 1L)), lit(0L)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(when(col("keep"),
            struct(col("seg_idx"), col("segment"))))),
            x => x.getField("segment")),
          sep)).as("kept_fp"))
  }

  /** Map-only SimHash fingerprints: (id, simhash). */
  def simhashFingerprints(docs: DataFrame, bits: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    spread(docs).select(col(idCol).as("id"), simhash(col(textCol), bits).as("simhash"))

  /** Embedding near-duplicates blocked by a cluster column: pairs in the
    * same block with cosine >= threshold. At scale the block is the IVF
    * cluster_id, so the join shuffles on a low-cardinality key instead of
    * forming all pairs. */
  def embeddingNearDupPairs(vectors: DataFrame, threshold: Double,
      blockCol: String, idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    val v = vectors.select(col(blockCol).as("blk"), col(idCol).as("id"), col(embCol).as("e"))
    val l = v.select(col("blk"), col("id").as("id_a"), col("e").as("e_a"))
    val r = v.select(col("blk"), col("id").as("id_b"), col("e").as("e_b"))
    l.join(r, Seq("blk")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), vecCosine(col("e_a"), col("e_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540 —
    * public method): within each embedding cluster, drop every vector that
    * has a near-duplicate (cosine >= threshold) with a SMALLER id — the
    * same greedy keep-smallest rule as [[dropNearDuplicates]], applied in
    * embedding space, so paraphrase-level duplicates that share no
    * n-grams still collapse to one survivor.
    *
    * Scale shape: [[embeddingNearDupPairs]]' blocked join (one shuffle on
    * the low-cardinality block key, pair work Σ block² — bounded by the
    * cluster cap, never N²) followed by one left-anti on the removal set.
    */
  def dropEmbeddingNearDuplicates(vectors: DataFrame, threshold: Double,
      blockCol: String, idCol: String = "id",
      embCol: String = "embedding"): DataFrame = {
    val toRemove = embeddingNearDupPairs(vectors, threshold, blockCol, idCol, embCol)
      .select(col("id_b").as(idCol)).distinct()
    vectors.join(toRemove, Seq(idCol), "left_anti")
  }

  /** One map-only scoring pass over the corpus — fingerprint, quality,
    * language, token count, shingle-hash set — then the exact-dup window.
    * Text is projected AWAY before the window, so the fingerprint shuffle
    * carries the compact hash array, never the document body. Persisted:
    * both consumers ([[prepPipeline]]'s survivor filter feeding LSH and
    * the final anti-join / funnel aggregate) reference it, and Spark does
    * not dedupe common subplans — without the persist the scoring scan
    * and the window shuffle would run twice per action.
    *
    * The pin is BOUNDED and KEYED: entries are cached by (semantic plan
    * hash, params) so prepPipeline followed by prepPipelineStats — or two
    * funnels over different corpora — reuse (or at least don't evict) each
    * other's still-live results instead of silently re-running the
    * md5-heavy scoring scan; at most [[flaggedCacheMax]] corpora stay
    * resident, oldest released first. A DataFrame whose cache entry was
    * evicted stays correct — it just recomputes. */
  private val flaggedCacheMax = 4
  private val flaggedCache =
    scala.collection.mutable.LinkedHashMap.empty[((Int, Int), Int, String, String), DataFrame]

  /** Drop every pinned funnel snapshot. The cache keys on the (semantic
    * plan, params), which pins a SNAPSHOT of the source as of the first
    * call — right for the funnel's own two consumers within a run, wrong
    * across an external mutation of the same path: a caller that appended
    * to the corpus it re-reads must invalidate first or the old snapshot
    * answers. */
  def invalidateFunnelCache(): Unit = synchronized {
    flaggedCache.valuesIterator.foreach(_.unpersist(blocking = false))
    flaggedCache.clear()
    bandedCache.valuesIterator.foreach(_.unpersist(blocking = false))
    bandedCache.clear()
  }

  // The banded-signature pin of [[minhashLshPairsFromBandKeys]], under the
  // same bounded KEYED contract as flaggedCache/dsirCache: an unbounded
  // per-call persist would pin one signature-table-sized relation per
  // corpus for the session's lifetime (the leak Ivf.searchBatch's own
  // comment rejects persist over). At most [[bandedCacheMax]] corpora stay
  // resident, oldest first; a dead or externally-evicted entry rebuilds.
  private val bandedCacheMax = 4
  private val bandedCache =
    scala.collection.mutable.LinkedHashMap.empty[(Int, Int), DataFrame]

  /** Cache key for the pinned-snapshot memos here and in
    * [[Curation.dsirWeights]]: the SEMANTIC plan hash (same query shape ⇒
    * same key) combined with a fingerprint of the plan's backing FILES.
    * Parquet rewrites generate fresh part-file names, so a corpus path
    * REWRITTEN between calls changes the file listing and thus the key —
    * the memo then rebuilds instead of silently serving the pre-rewrite
    * snapshot (the semanticHash alone cannot see a data change under an
    * unchanged path). The listing comes from the plan's FileIndex (driver
    * metadata already materialized at analysis; no Spark job). Appends to
    * a directory a plan ALREADY scanned are still invisible to that
    * existing DataFrame by Spark's own snapshot semantics — the key
    * guards re-READS of a changed path, which is the mutation class a
    * session actually performs. */
  private[operators] def planKey(df: DataFrame): (Int, Int) =
    (df.queryExecution.analyzed.semanticHash(),
      java.util.Arrays.hashCode(df.inputFiles.sorted.asInstanceOf[Array[AnyRef]]))

  private def pinnedBanded(hashedIn: DataFrame): DataFrame = synchronized {
    val key = planKey(hashedIn)
    bandedCache.get(key) match {
      case Some(df) if (df.sparkSession eq hashedIn.sparkSession) &&
          df.storageLevel != org.apache.spark.storage.StorageLevel.NONE =>
        return df
      case Some(df) =>
        df.unpersist(blocking = false)
        bandedCache.remove(key)
      case None =>
    }
    bandedCache.getOrElseUpdate(key, {
      while (bandedCache.size >= bandedCacheMax) {
        val (k0, df0) = bandedCache.head
        df0.unpersist(blocking = false)
        bandedCache.remove(k0)
      }
      hashedIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })
  }

  private def flaggedCorpus(docs: DataFrame, shingleN: Int,
      textCol: String, idCol: String): DataFrame = synchronized {
    val key = (planKey(docs), shingleN, textCol, idCol)
    // a hit must still be LIVE: same session (a stopped session's frame is
    // unusable) and still pinned (an external clearCache() silently strips
    // the persist the funnel counts on — rebuild and re-pin instead of
    // handing back a twice-computed plan)
    flaggedCache.get(key) match {
      case Some(df) if (df.sparkSession eq docs.sparkSession) &&
          df.storageLevel != org.apache.spark.storage.StorageLevel.NONE =>
        return df
      case Some(df) =>
        df.unpersist(blocking = false)
        flaggedCache.remove(key)
      case None =>
    }
    flaggedCache.getOrElseUpdate(key, {
      while (flaggedCache.size >= flaggedCacheMax) {
        val (k0, df0) = flaggedCache.head
        df0.unpersist(blocking = false)
        flaggedCache.remove(k0)
      }
      val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      spread(docs).select(col(idCol),
          contentFingerprint(col(textCol)).as("fp"),
          round(qualityScore(col(textCol)), 6).as("quality"),
          langId(col(textCol)).as("lang_guess"),
          tokenCount(col(textCol)).cast("long").as("n_tokens"),
          array_distinct(shingleHashes(col(textCol), shingleN)).as("hs"))
        .withColumn("keep_exact", col(idCol) === min(col(idCol)).over(w))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** Training-data prep funnel — the composition a pretraining-data job
    * runs over a raw document corpus, as ONE DataFrame plan:
    *
    *   exact dedup (keep smallest id per content fingerprint)
    *   → quality floor (`TextFunctions.qualityScore`, rounded to 6 so the
    *     cut is engine-stable)
    *   → language filter (`TextFunctions.langId`)
    *   → MinHash-LSH near-dup drop (greedy keep-smallest-id over verified
    *     pairs, computed only among the docs that survived the cheap
    *     stages — the expensive stage sees the smallest corpus)
    *
    * Returns the kept documents plus per-doc `quality`/`n_tokens`. The
    * scale shape: one scoring scan ([[flaggedCorpus]], text dropped before
    * any exchange), one fingerprint-window shuffle of hash arrays, and the
    * LSH stages of [[minhashLshPairsFromHashes]] over the already-computed
    * shingle hashes (signature/bucket shuffles on compact keys only).
    * Raw text never crosses a shuffle.
    *
    * Snapshot contract: the scored corpus is memoized per (plan,
    * backing-files) key ([[planKey]]) — an unchanged corpus reuses the
    * pinned scan across prepPipeline/prepPipelineStats, a rewritten path
    * re-keys, [[invalidateFunnelCache]] force-drops.
    */
  def prepPipeline(docs: DataFrame, minQuality: Double, lang: String,
      shingleN: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Int = 0): DataFrame = {
    val flagged = flaggedCorpus(docs, shingleN, textCol, idCol)
    val survivors = flagged.filter(col("keep_exact") &&
      col("quality") >= minQuality && col("lang_guess") === lang)
    val ndRemoved = minhashLshPairsFromHashes(
        survivors.select(col(idCol).as("id"), col("hs")),
        bands, rowsPerBand, threshold, maxBucket = maxBucket)
      .select(col("id_b").as(idCol)).distinct()
    survivors.join(ndRemoved, Seq(idCol), "left_anti")
      .select(col(idCol), col("quality"), col("n_tokens"))
  }

  /** One-row funnel summary of [[prepPipeline]]: how many documents (and,
    * for the final set, tokens) survive each stage. The counts come from
    * one aggregate over the flagged corpus left-anti'd only for the final
    * stage — the report a data-curation run ships with its output. */
  def prepPipelineStats(docs: DataFrame, minQuality: Double, lang: String,
      shingleN: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Int = 0): DataFrame = {
    val flagged = flaggedCorpus(docs, shingleN, textCol, idCol)
    val s3 = col("keep_exact") && col("quality") >= minQuality &&
      col("lang_guess") === lang
    // band the survivors ONCE: the pair scan and (under a cap) the bucket
    // report both read this relation — pairsFromBandKeys pins it, and the
    // stats select below cache-hits the same plan, so the minhash pass
    // over the survivor set runs once, not once per consumer
    val numHashes = bands * rowsPerBand
    val banded = flagged.filter(s3)
      .select(col(idCol).as("id"), col("hs"))
      .withColumn("bks", graft.functions.TextFunctions.sigBandKeys(
        graft.functions.TextFunctions.minhashFromHashes(col("hs"), numHashes),
        bands, rowsPerBand))
    val ndRemoved = minhashLshPairsFromBandKeys(banded, threshold,
        maxBucket = maxBucket)
      .select(col("id_b").as(idCol)).distinct().withColumn("nd", lit(true))
    val base = flagged.join(ndRemoved, Seq(idCol), "left").agg(
      count(lit(1)).as("n_total"),
      count(when(col("keep_exact"), 1)).as("n_after_exact"),
      count(when(col("keep_exact") && col("quality") >= minQuality, 1))
        .as("n_after_quality"),
      count(when(s3, 1)).as("n_after_lang"),
      count(when(s3 && col("nd").isNull, 1)).as("n_final"),
      coalesce(sum(when(s3 && col("nd").isNull, col("n_tokens"))), lit(0L))
        .as("tokens_final"))
    if (maxBucket <= 0) base
    else {
      // the cap is never silent: the funnel row carries how many buckets
      // were dropped from candidate generation (and how hot the hottest
      // was), so a spilled run is visibly a truncated run
      base.crossJoin(broadcast(
        lshBucketStats(banded.select(col("id"), col("bks")), maxBucket)
          .select("n_spilled_buckets", "max_bucket_size")))
    }
  }
}
