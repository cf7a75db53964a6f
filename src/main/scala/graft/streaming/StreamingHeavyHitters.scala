package graft.streaming

import graft.operators.HeavyHitters
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Streaming heavy hitters: a per-micro-batch Misra–Gries update folded
  * into ONE compacted candidate state, so a long-lived ingest pipeline can
  * expose running frequent-token stats without ever holding more than k
  * counters — the streaming face of [[HeavyHitters.exact]]'s pass 1.
  *
  * Per micro-batch: one MG aggregation over the batch's tokens (the same
  * `misra_gries` TypedImperativeAggregate as the batch operator — O(k)
  * per task), then a DRIVER-side merge of that ≤ k-entry batch summary
  * into the persisted state using the identical mergeable-summaries
  * reduction as the aggregate's own merge (pointwise add, subtract the
  * (k+1)-th largest, keep positives — Agarwal et al.'s bound composes, so
  * the folded state's error stays ≤ N/(k+1) over the whole stream). The
  * state is therefore BOUNDED at ≤ k entries BY CONSTRUCTION no matter
  * how many batches run — there is nothing to compact, ever.
  *
  * State durability and exactly-once: [[FoldStateStore]] (one
  * `mg_state.json` — last applied batch id, total item count, the ≤ k
  * counters — rewritten per batch; a replayed batch id is skipped).
  *
  * The final answer is exact, not approximate: [[heavyHittersFromState]]
  * recounts the folded candidates over the corpus (the batch operator's
  * pass 2) — with k > denominator the MG guarantee says no true heavy
  * hitter was ever evicted from the folded state, so the recount equals
  * the batch [[HeavyHitters.exact]] on the same corpus
  * (StreamingHeavyHittersSpec asserts the equality over a 50-batch run).
  *
  * 100 TB posture: per batch one token scan (O(k) per task) + one ≤ 2k
  * driver merge + one tiny file write; state never grows; the exact
  * recount is on-demand and candidate-only. */
object StreamingHeavyHitters {

  /** Folded MG state: the k it was folded WITH (the exactness guarantee
    * is relative to it — see [[heavyHittersFromState]]), the checkpoint
    * the batch-id sequence belongs to (micro-batch ids restart at 0 under
    * a fresh checkpoint, so the replay guard is only meaningful within
    * one), last applied micro-batch id, total token count, and
    * item -> folded MG count (≤ k entries, each a lower bound off by at
    * most n/(k+1)). */
  case class MgSnapshot(k: Int, checkpoint: String, lastBatchId: Long,
      n: Long, counts: Map[String, Long]) extends FoldSnapshot

  private val store = new FoldStateStore[MgSnapshot](
    "MG state", "mg_state.json", Seq("k", "checkpoint"),
    MgSnapshot(-1, "", -1L, 0L, Map.empty),
    encode = (root, snap) => {
      root.put("k", snap.k)
      root.put("checkpoint", snap.checkpoint)
      root.put("batch_id", snap.lastBatchId)
      root.put("n", snap.n)
      val c = root.putObject("counts")
      snap.counts.foreach { case (item, cnt) => c.put(item, cnt) }
    },
    decode = node => {
      val counts = scala.collection.mutable.Map.empty[String, Long]
      val it = node.get("counts").fields()
      while (it.hasNext) {
        val e = it.next(); counts.put(e.getKey, e.getValue.asLong())
      }
      MgSnapshot(node.get("k").asInt(), node.get("checkpoint").asText(),
        node.get("batch_id").asLong(), node.get("n").asLong(),
        counts.toMap)
    })

  /** Read the persisted state LOCK-FREE; an absent file is the empty
    * stream. The read protocol ([[graft.core.SwapStateFile.read]]) may
    * COMPLETE a crashed writer's marker-evidenced swap, believes "empty"
    * only after a stable double observation, and exhausts LOUDLY under
    * sustained commit contention — never a phantom-empty snapshot. A
    * consumer needing a linearizable view without quiescing the stream
    * should use [[readStateLocked]]. */
  def readState(spark: SparkSession, stateDir: String): MgSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read: takes the SAME swap lock the writer's commit
    * rename section holds ([[graft.core.SwapStateFile.readLocked]]), so a
    * monitor polling a hot stream gets a consistent snapshot instead of
    * eventually hitting [[readState]]'s contention error by design. The
    * writer is blocked for the read's duration (one small file); throws
    * if the lock cannot be obtained within [[graft.core.FsSwap.LockMaxWaitMs]]. */
  def readStateLocked(spark: SparkSession, stateDir: String): MgSnapshot =
    store.readLocked(spark, stateDir)

  /** The aggregate's mergeable-summaries reduction, driver-side over the
    * ≤ k persisted counters and a ≤ k batch summary — it IS
    * [[HeavyHitters.mgMergeInto]], the one shared implementation, so the
    * composed bound cannot drift between the executor-side merge and this
    * fold (only the map plumbing differs). */
  private[streaming] def mergeMg(k: Int, state: Map[String, Long],
      batch: Seq[(String, Long)]): Map[String, Long] = {
    val into = new java.util.HashMap[String, Long](state.size * 2 + 16)
    state.foreach { case (item, c) => into.put(item, c) }
    val from = new java.util.HashMap[String, Long](batch.size * 2 + 16)
    batch.foreach { case (item, c) =>
      val cur: Long = from.get(item); from.put(item, cur + c) }
    HeavyHitters.mgMergeInto(k, into, from)
    val b = Map.newBuilder[String, Long]
    into.forEach((item, c) => b += item -> c)
    b.result()
  }

  /** The checkpoint/k binding rules, ONE implementation enforced at both
    * chokepoints — ingest() entry (synchronous refusal before any
    * checkpoint WAL is written) and per-batch (for direct [[applyBatch]]
    * callers) — so the rule and its remediation message cannot drift.
    * Why they exist: the state is BOUND to one checkpoint (micro-batch
    * ids restart at 0 under a fresh checkpoint, so the replay guard
    * would silently skip NEVER-SEEN data as "replays" if a state dir
    * outlived its checkpoint — reuse requires a fresh state dir too),
    * and to one k (folding summaries of mixed k would quietly weaken the
    * composed bound the recount's exactness rests on). */
  private[streaming] def checkStateBindings(stLastBatchId: Long,
      stCheckpoint: String, stK: Int, stateDir: String,
      checkpoint: String, k: Int, face: String = "MG state"): Unit = {
    if (stLastBatchId < 0L) return // fresh state: nothing bound yet
    FoldStateStore.checkCheckpoint(face, stateDir, stCheckpoint, checkpoint)
    if (stK != k)
      throw new IllegalStateException(
        s"$face at $stateDir was folded with k=$stK but this stream " +
          s"uses k=$k — mixed-k folds weaken the error bound the exact " +
          "recount rests on. Use a fresh state dir to change k")
  }

  /** Apply ONE micro-batch of (doc_id, text) rows to the persisted state:
    * skip if already applied (replay after a crash between state install
    * and checkpoint commit), else fold the batch's MG summary in. Package-
    * visible so the idempotence and binding rules are directly testable.
    * Returns the state now in effect. */
  private[streaming] def applyBatch(spark: SparkSession, stateDir: String,
      k: Int, checkpoint: String, batch: DataFrame,
      batchId: Long): MgSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st.lastBatchId, st.checkpoint, st.k,
        stateDir, checkpoint, k),
      st => {
        val row = batch
          .select(explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("token"))
          .agg(HeavyHitters.mgCandidates(k)(col("token")).as("cand"),
            count(col("token")).as("n"))
          .head() // bounded: one row, ≤ k candidates
        val bn = row.getLong(1)
        val bc = row.getSeq[org.apache.spark.sql.Row](0)
          .map(r => (r.getString(0), r.getLong(1)))
        MgSnapshot(k, checkpoint, batchId, st.n + bn,
          mergeMg(k, st.counts, bc))
      })

  /** Start the stream: parquet (doc_id, text) arrivals under `sourceDir`,
    * folded per micro-batch into the MG state under `stateDir`. Same
    * single-stream contract as [[Streaming.dedupIngest]]: one live stream
    * per state dir. `sketchK` defaults to 2 × denominator (and must
    * exceed `denominator` — the guarantee [[heavyHittersFromState]]'s
    * exactness rests on). */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, denominator: Long, sketchK: Int = 0,
      maxFilesPerTrigger: Int = 0): StreamingQuery = {
    val k = HeavyHitters.checkedK(sketchK, denominator)
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add("doc_id", LongType).add("text", StringType),
      maxFilesPerTrigger,
      entryCheck = (st, ckptId) => checkStateBindings(st.lastBatchId,
        st.checkpoint, st.k, stateDir, ckptId, k),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, k, ckptId, batch, batchId); () })
  }

  /** Cross-cluster merge — the frequency face of
    * [[StreamingMoments.mergeStates]]: combine ≥ 2 independently-folded
    * MG states (one regional ingest each, SAME k) into one state under
    * `outDir` with the standard mergeable-summaries MG merge (add
    * counts, decrement by the (k+1)-th largest, drop non-positives —
    * [[graft.operators.HeavyHitters.mgMergeInto]], the SAME arithmetic
    * the per-batch fold runs). The error bounds COMPOSE: each region's
    * state errs ≤ nᵢ/(k+1), the merged state errs ≤ Σnᵢ/(k+1) = N/(k+1)
    * — the bound one cluster folding everything would carry, so
    * [[heavyHittersFromState]]'s exactness argument (k > denominator ⇒
    * recount exact) holds over the merged state verbatim, with the
    * recount running over the union corpus. Same contract: locked input
    * reads, every input folded, a synthetic `merged:[...]` checkpoint
    * that trips the ingest binding, no clobbering. */
  def mergeStates(spark: SparkSession, inDirs: Seq[String],
      outDir: String): MgSnapshot =
    store.merge(spark, inDirs, outDir, "global frequencies") {
      (states, ckpt, lastId) =>
        val k = sameK(states.map(_.k))
        MgSnapshot(k, ckpt, lastId, states.map(_.n).sum,
          states.map(_.counts).reduce((a, b) => mergeMg(k, a, b.toSeq)))
    }

  /** The merge binding refusal shared with the grouped fold: every
    * input must be folded with the same k. */
  private[streaming] def sameK(ks: Seq[Int]): Int =
    StateMerge.sameBinding("k values", ks, (k: Int) => k.toString,
      "mixed-k merges weaken the composed error bound the exact recount " +
        "rests on; merge only states folded with the same k")

  /** Exact heavy hitters from the folded state: recount the ≤ k candidates
    * over `items` (the stream's full corpus) and keep those at
    * ≥ ceil(N/denominator), N from the state's own mass tracking — the
    * batch operator's pass 2 driven by the stream's pass 1. With the
    * ingest's k > denominator this EQUALS [[HeavyHitters.exact]] on the
    * same corpus: the folded state's error ≤ N/(k+1) < N/denominator, so
    * no true heavy hitter was evicted, and the recount is exact. */
  def heavyHittersFromState(spark: SparkSession, stateDir: String,
      items: DataFrame, itemCol: String, denominator: Long): DataFrame =
    heavyHittersFromSnapshot(readState(spark, stateDir), stateDir,
      items, itemCol, denominator)

  /** The recount over an ALREADY-READ snapshot — for callers that took a
    * consistent (locked) read and must not re-read lock-free behind it: a
    * second internal read under a hot writer could hit the lock-free
    * protocol's loud contention exhaustion, or land on a LATER batch than
    * the envelope the caller already built from its snapshot (the REST
    * recount route's exact-counts-vs-totals coherence). `where` only
    * labels error messages. */
  def heavyHittersFromSnapshot(st: MgSnapshot, where: String,
      items: DataFrame, itemCol: String, denominator: Long): DataFrame = {
    // a non-positive denominator silently inverts the threshold
    // arithmetic (negative: minCount < 0 returns EVERY candidate as a
    // "heavy hitter"; zero: Infinity-cast) — refuse loudly
    require(denominator > 0,
      s"denominator must be positive, got $denominator")
    // the exactness claim is RELATIVE to the k the state was folded with:
    // items at this threshold may have been evicted if k ≤ denominator —
    // validate against the k recorded in the state, loudly, instead of
    // returning a silently incomplete "exact" answer
    require(st.lastBatchId < 0L || st.k > denominator,
      s"state at $where was folded with k=${st.k}, which does not " +
        s"cover denominator=$denominator (needs k > denominator): items " +
        "at this threshold may have been evicted — re-fold with a larger " +
        "sketchK or query a coarser threshold")
    val minCount = math.ceil(st.n.toDouble / denominator).toLong
    val cands = st.counts.keys.toSeq
    items
      .filter(if (cands.isEmpty) lit(false) else col(itemCol).isin(cands: _*))
      .groupBy(itemCol).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col(itemCol).asc)
  }
}
