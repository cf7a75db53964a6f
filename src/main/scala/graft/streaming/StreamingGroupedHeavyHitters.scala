package graft.streaming

import graft.operators.HeavyHitters
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Per-group streaming heavy hitters — the streaming face of
  * [[HeavyHitters.exactPerGroup]], completing the square the r12 flat fold
  * ([[StreamingHeavyHitters]]) left open: a long-lived ingest pipeline
  * exposing RUNNING per-domain/per-source frequent-item stats.
  *
  * Per micro-batch: ONE grouped MG aggregation (`misra_gries` per group —
  * the same ≤ k-summary-per-group shape as the batch operator's pass 1,
  * memory O(k · groups-per-task)), its ≤ groups × (k+1)-cell result
  * collected bounded by the group cap, then a driver-side per-group fold
  * into the persisted state through [[StreamingHeavyHitters.mergeMg]] —
  * the ONE mergeable-summaries reduction (Agarwal et al.) shared with the
  * aggregate's executor-side merge and the flat stream's fold, so the
  * composed per-group bound (error ≤ n_g/(k+1) within EACH group — groups
  * never mix, so the flat fold's proof applies group-pointwise) cannot
  * drift between the three call sites.
  *
  * Boundedness is a CAP DISCIPLINE, not a construction guarantee: within
  * one group the fold compacts to ≤ k entries exactly like the flat
  * stream, but the GROUP dimension grows with the data — so the state is
  * bounded by `maxGroups × k` and the fold REFUSES LOUDLY when the merged
  * group count would exceed `maxGroups` (the same posture as the batch
  * recount's `broadcastMaxCandidates`: this is a profiling operator for a
  * bounded group key — sources, languages, domain buckets — not a
  * per-document key; a million-group key needs the batch path's
  * shuffle-join recount, not a driver-side state file).
  *
  * State file and exactly-once: [[FoldStateStore]]; the bindings are
  * (checkpoint, k), as on the flat fold.
  *
  * The final answer is exact: [[heavyHittersFromState]] recounts each
  * group's folded candidates over the corpus with that group's own
  * threshold (min count = ceil(n_g/denominator), n_g from the state's
  * per-group mass tracking) — with k > denominator no true per-group heavy
  * hitter was ever evicted, so the recount EQUALS
  * [[HeavyHitters.exactPerGroup]] on the same corpus
  * (StreamingGroupedHeavyHittersSpec pins the equality over a
  * multi-batch run; the `streaming_hh_by_source` oracle row replays the
  * full grouped answer in DuckDB).
  *
  * 100 TB/day posture: per batch one grouped MG scan (O(k) per group per
  * task) + one ≤ groups × k driver fold + one small file write; the exact
  * recount is on-demand, broadcasts the ≤ groups × k candidate relation,
  * and its shuffle carries candidate keys only. */
object StreamingGroupedHeavyHitters {

  /** One group's folded MG summary: the group's total item count (its
    * threshold denominator at recount time) and its ≤ k counters. */
  case class GroupState(n: Long, counts: Map[String, Long])

  /** Folded grouped state: same binding fields as the flat
    * [[StreamingHeavyHitters.MgSnapshot]] (k, checkpoint, last applied
    * batch id) plus group -> [[GroupState]], plus a running count of
    * null-group-key rows the fold EXCLUDED (observability, not a binding
    * field: null exclusion is correct — it matches the batch recount's
    * inner-join semantics — but a pipeline whose source column rots to
    * NULL would otherwise see its profile quietly thin out; the counter
    * makes that visible on the REST envelope). */
  case class GroupedMgSnapshot(k: Int, checkpoint: String,
      lastBatchId: Long, groups: Map[String, GroupState],
      excludedNullRows: Long) extends GroupedFoldSnapshot[GroupState] {
    /** Total state entries across groups (the boundedness measurable). */
    def totalEntries: Int = groups.valuesIterator.map(_.counts.size).sum
  }

  /** Default group cap: at the default k this bounds the state file (and
    * the per-batch driver fold) to ~10k × 2·denominator cells — a few MB
    * of JSON, far below anything a driver would notice, while covering
    * any realistic profiling group key (sources, languages, TLDs). */
  val DefaultMaxGroups: Int = 10000

  private val store = new FoldStateStore[GroupedMgSnapshot](
    "grouped MG state", "mg_grouped_state.json", Seq("k", "checkpoint"),
    GroupedMgSnapshot(-1, "", -1L, Map.empty, 0L),
    encode = (root, snap) => {
      root.put("k", snap.k)
      root.put("checkpoint", snap.checkpoint)
      root.put("batch_id", snap.lastBatchId)
      root.put("excluded_null_rows", snap.excludedNullRows)
      val gs = root.putObject("groups")
      snap.groups.foreach { case (g, st) =>
        val gn = gs.putObject(g)
        gn.put("n", st.n)
        val c = gn.putObject("counts")
        st.counts.foreach { case (item, cnt) => c.put(item, cnt) }
      }
    },
    decode = node => {
      val groups = Map.newBuilder[String, GroupState]
      val git = node.get("groups").fields()
      while (git.hasNext) {
        val ge = git.next()
        val counts = Map.newBuilder[String, Long]
        val cit = ge.getValue.get("counts").fields()
        while (cit.hasNext) {
          val ce = cit.next(); counts += ce.getKey -> ce.getValue.asLong()
        }
        groups += ge.getKey ->
          GroupState(ge.getValue.get("n").asLong(), counts.result())
      }
      GroupedMgSnapshot(node.get("k").asInt(),
        node.get("checkpoint").asText(), node.get("batch_id").asLong(),
        groups.result(),
        // observability field, not a binding one: a pre-r14 state file
        // simply hasn't counted yet — read as 0, no migration refusal
        Option(node.get("excluded_null_rows")).map(_.asLong())
          .getOrElse(0L))
    })

  /** Lock-free read (the [[graft.core.SwapStateFile.read]] protocol: may
    * complete a crashed swap, believes "empty" only after a stable double
    * observation, exhausts loudly — never phantom-empty). */
  def readState(spark: SparkSession, stateDir: String): GroupedMgSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's swap lock — for monitors
    * polling a hot stream (see [[StreamingHeavyHitters.readStateLocked]]). */
  def readStateLocked(spark: SparkSession,
      stateDir: String): GroupedMgSnapshot =
    store.readLocked(spark, stateDir)

  private def checkStateBindings(st: GroupedMgSnapshot, stateDir: String,
      checkpoint: String, k: Int): Unit =
    StreamingHeavyHitters.checkStateBindings(st.lastBatchId, st.checkpoint,
      st.k, stateDir, checkpoint, k, "grouped MG state")

  /** Apply ONE micro-batch of (source, text) rows: skip if already applied
    * (replay), else fold each group's ≤ k batch summary into its state
    * entry. Package-visible so the idempotence, binding, and group-cap
    * rules are directly testable. Returns the state now in effect. */
  private[streaming] def applyBatch(spark: SparkSession, stateDir: String,
      k: Int, maxGroups: Int, checkpoint: String, batch: DataFrame,
      batchId: Long): GroupedMgSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, k),
      st => {
        val perGroup = batch
          // a NULL group key can't be a JSON field name (the fold would
          // NPE mid-batch and wedge the stream in a replay-crash loop) and
          // the batch operator's recount drops null groups anyway (inner
          // join on the group key never matches null) — so null-source
          // rows are excluded from the fold, keeping the documented
          // stream == exactPerGroup equivalence exact on corpora that
          // carry them. Excluded rows are COUNTED, though (r14): each
          // null-source row contributes exactly one dummy element here, so
          // the null group's `n` below IS the batch's excluded row count —
          // tracked in the state within the same single pass, no second
          // scan of the batch
          .select(col("source"),
            explode(when(col("source").isNotNull,
                graft.functions.TextFunctions.tokens(col("text")))
              .otherwise(array(lit("")))).as("token"))
          .groupBy("source")
          .agg(HeavyHitters.mgCandidates(k)(col("token")).as("cand"),
            count(col("token")).as("n"))
        val (merged, excludedThisBatch) = FoldStateStore.foldGroups(
          "grouped MG state", stateDir, maxGroups,
          "the batch exactPerGroup path", perGroup, 2, st.groups,
          GroupState(0L, Map.empty)) { (prev, r) =>
          val bc = r.getSeq[org.apache.spark.sql.Row](1)
            .map(c => (c.getString(0), c.getLong(1)))
          GroupState(prev.n + r.getLong(2),
            StreamingHeavyHitters.mergeMg(k, prev.counts, bc))
        }
        GroupedMgSnapshot(k, checkpoint, batchId, merged,
          st.excludedNullRows + excludedThisBatch)
      })

  /** Cross-cluster merge — the grouped frequency face of
    * [[StreamingMoments.mergeStates]]: union of the regional group maps
    * with colliding groups merged by the standard mergeable-summaries
    * MG merge ([[StreamingHeavyHitters.mergeMg]] pointwise — per group
    * the composed error stays ≤ that group's total mass / (k+1), so the
    * per-group exact-recount guarantee survives regioning) and
    * per-group mass added; excluded-null counters add. Same contract as
    * the flat face: locked input reads, every input folded, the same k,
    * a synthetic `merged:[...]` checkpoint that trips the ingest
    * binding, no clobbering — plus the family's cap discipline on the
    * UNION of the group sets. */
  def mergeStates(spark: SparkSession, inDirs: Seq[String], outDir: String,
      maxGroups: Int = DefaultMaxGroups): GroupedMgSnapshot =
    store.merge(spark, inDirs, outDir, "global frequencies") {
      (states, ckpt, lastId) =>
        val k = StreamingHeavyHitters.sameK(states.map(_.k))
        val groups = scala.collection.mutable.Map.empty[String, GroupState]
        states.foreach { st =>
          st.groups.foreach { case (g, s) =>
            val prev = groups.getOrElse(g, GroupState(0L, Map.empty))
            groups.put(g, GroupState(prev.n + s.n,
              StreamingHeavyHitters.mergeMg(k, prev.counts, s.counts.toSeq)))
          }
        }
        StateMerge.checkMergedGroupCap("grouped MG state", groups.size,
          maxGroups)
        GroupedMgSnapshot(k, ckpt, lastId, groups.toMap,
          states.map(_.excludedNullRows).sum)
    }

  /** Start the stream: parquet (doc_id, source, text) arrivals under
    * `sourceDir`, folded per micro-batch into the grouped MG state under
    * `stateDir` (group = source, items = whitespace tokens — the same
    * tokenization as the flat fold and the batch profiler). Same
    * single-stream contract and entry-time guards as
    * [[StreamingHeavyHitters.ingest]]. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, denominator: Long, sketchK: Int = 0,
      maxFilesPerTrigger: Int = 0,
      maxGroups: Int = DefaultMaxGroups): StreamingQuery = {
    val k = HeavyHitters.checkedK(sketchK, denominator)
    require(maxGroups > 0, s"maxGroups must be positive, got $maxGroups")
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add("doc_id", LongType).add("source", StringType)
        .add("text", StringType),
      maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, k),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, k, maxGroups, ckptId, batch, batchId)
          () })
  }

  /** Exact per-group heavy hitters from the folded state: recount each
    * group's ≤ k candidates over `items` and keep those at
    * ≥ ceil(n_g/denominator), n_g from the state's per-group mass
    * tracking. With the ingest's k > denominator this EQUALS
    * [[HeavyHitters.exactPerGroup]] on the same corpus — group-pointwise,
    * by the flat fold's argument. Output (group, item, cnt), ordered
    * (group asc, cnt desc, item asc) like the batch operator. The
    * candidate relation is ≤ groups × k rows — already driver-local in
    * the state — broadcast into the recount so the count shuffle carries
    * candidate keys only. */
  def heavyHittersFromState(spark: SparkSession, stateDir: String,
      items: DataFrame, groupCol: String, itemCol: String,
      denominator: Long): DataFrame =
    heavyHittersFromSnapshot(readState(spark, stateDir), stateDir,
      spark, items, groupCol, itemCol, denominator)

  /** The grouped recount over an ALREADY-READ snapshot — same contract as
    * [[StreamingHeavyHitters.heavyHittersFromSnapshot]] (no lock-free
    * re-read behind a caller's consistent snapshot). */
  def heavyHittersFromSnapshot(st: GroupedMgSnapshot, where: String,
      spark: SparkSession, items: DataFrame, groupCol: String,
      itemCol: String, denominator: Long): DataFrame = {
    // see the flat recount: a non-positive denominator inverts the
    // per-group threshold arithmetic — refuse loudly
    require(denominator > 0,
      s"denominator must be positive, got $denominator")
    require(st.lastBatchId < 0L || st.k > denominator,
      s"state at $where was folded with k=${st.k}, which does not " +
        s"cover denominator=$denominator (needs k > denominator): items " +
        "at this threshold may have been evicted — re-fold with a larger " +
        "sketchK or query a coarser threshold")
    import scala.jdk.CollectionConverters._
    val candRows: java.util.List[org.apache.spark.sql.Row] =
      st.groups.toSeq.flatMap { case (g, gs) =>
        val minCnt = math.ceil(gs.n.toDouble / denominator).toLong
        gs.counts.keysIterator
          .map(item => org.apache.spark.sql.Row(g, item, minCnt))
      }.asJava
    val candSchema = new StructType()
      .add(groupCol, StringType).add(itemCol, StringType)
      .add("min_cnt", LongType)
    val cands = broadcast(spark.createDataFrame(candRows, candSchema))
    items
      .join(cands, Seq(groupCol, itemCol), "inner")
      .groupBy(groupCol, itemCol)
      .agg(count(lit(1)).as("cnt"), first(col("min_cnt")).as("min_cnt"))
      .filter(col("cnt") >= col("min_cnt"))
      .select(col(groupCol), col(itemCol), col("cnt"))
      .orderBy(col(groupCol).asc, col("cnt").desc, col(itemCol).asc)
  }
}
