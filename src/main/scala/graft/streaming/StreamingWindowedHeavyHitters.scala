package graft.streaming

import graft.operators.HeavyHitters
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Sliding-window heavy hitters — "trending NOW": the frequency face's
  * TIME dimension on the [[WindowedRing]] design, state through
  * [[FoldStateStore]]. The all-time MG fold answers "the most frequent
  * tokens ever"; a trending monitor wants "the most frequent tokens of
  * the last N micro-batches" — an all-time list over a year of arrivals
  * is numb to a token that started dominating an hour ago, while the
  * windowed list IS that signal.
  *
  * The ring keeps the newest `window` batches' OWN ≤ k-entry MG
  * summaries (each one `misra_gries` aggregation over that batch's
  * tokens — the flat fold's per-batch job verbatim) plus each batch's
  * exact token count; the served view re-MERGES the ≤ window summaries
  * per read with the aggregate's own mergeable-summaries reduction
  * ([[StreamingHeavyHitters.mergeMg]] — pointwise add, subtract the
  * (k+1)-th largest, keep positives). Re-merge on eviction is the ring
  * rule's fit here for the same reason as min/max and HLL registers: an
  * MG summary has no inverse (decrements destroy information), so a
  * running summary cannot un-fold an evicted batch — but the per-batch
  * summaries are bounded (≤ k counters each), so the ring re-reduce is
  * O(window × k) driver arithmetic.
  *
  * The guarantee COMPOSES over exactly the window (Agarwal et al., the
  * mergeStates argument applied to the ring): each slot errs
  * ≤ nᵢ/(k+1), the merged window summary errs ≤ Σnᵢ/(k+1) =
  * nWindow/(k+1) — so with k > denominator NO token whose true count in
  * the window exceeds nWindow/denominator is ever missing from
  * [[WindowedMgSnapshot.aggregateCounts]], and a recount of the
  * candidates over the window's rows is EXACT. The corpus itself cannot
  * reproduce "the newest N batches" (the family's windowed-verify 409
  * argument), so the standing artifact serves candidates + the exact
  * window mass; callers who KNOW the window's rows (tests, replayed
  * pipelines) get exactness via [[heavyHittersFromSnapshot]].
  *
  * Bindings are the family's plus k and the window width. Empty batches
  * occupy a slot. State: window × (≤ k counters + one exact count).
  *
  * 100 TB/day posture: per batch ONE O(k)-per-task MG aggregation (the
  * flat fold's job), one O(window × k) driver re-merge, one
  * O(window × k) state file — at any stream length. */
object StreamingWindowedHeavyHitters {

  /** One ring slot: the batch's exact token count and its own ≤ k-entry
    * MG summary. */
  case class MgSlot(n: Long, counts: Map[String, Long])

  /** Folded windowed state: binding fields (k, checkpoint, window), last
    * applied batch id, and the ring — (batchId, slot), oldest first,
    * ≤ window entries. */
  case class WindowedMgSnapshot(k: Int, checkpoint: String, window: Int,
      lastBatchId: Long, ring: Seq[(Long, MgSlot)]) {
    /** The window's exact token mass — the recount threshold's
      * denominator base, and the exactly-once pin (an eviction off by
      * one batch changes it). */
    def n: Long = ring.iterator.map(_._2.n).sum
    /** The served candidates: the mergeable-summaries reduction over
      * the ring's ≤ window MG summaries — every true window heavy
      * hitter at denominator < k is present; counts are lower bounds
      * off by ≤ [[n]]/(k+1) composed. */
    def aggregateCounts: Map[String, Long] =
      if (ring.isEmpty) Map.empty
      else ring.map(_._2.counts)
        .reduce((a, b) => StreamingHeavyHitters.mergeMg(k, a, b.toSeq))
  }

  private val store = new FoldStateStore[WindowedMgSnapshot](
    "windowed MG state",
    WindowedRing.registered("mg_window_state.json"),
    Seq("k", "checkpoint", "window"),
    WindowedMgSnapshot(-1, "", -1, -1L, Seq.empty),
    _.lastBatchId, _.checkpoint,
    encode = (root, snap) => {
      root.put("k", snap.k)
      root.put("checkpoint", snap.checkpoint)
      root.put("window", snap.window)
      root.put("batch_id", snap.lastBatchId)
      val arr = root.putArray("ring")
      snap.ring.foreach { case (bid, slot) =>
        val e = arr.addObject()
        e.put("batch_id", bid)
        e.put("n", slot.n)
        val c = e.putObject("counts")
        slot.counts.toSeq.sortBy(_._1).foreach { case (item, cnt) =>
          c.put(item, cnt) }
      }
    },
    decode = node => {
      val ring = Seq.newBuilder[(Long, MgSlot)]
      val it = node.get("ring").elements()
      while (it.hasNext) {
        val e = it.next()
        val counts = Map.newBuilder[String, Long]
        val cit = e.get("counts").fields()
        while (cit.hasNext) {
          val ce = cit.next()
          counts += ce.getKey -> ce.getValue.asLong()
        }
        ring += e.get("batch_id").asLong() ->
          MgSlot(e.get("n").asLong(), counts.result())
      }
      WindowedMgSnapshot(node.get("k").asInt(),
        node.get("checkpoint").asText(), node.get("window").asInt(),
        node.get("batch_id").asLong(), ring.result())
    })

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol); absent
    * file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession,
      stateDir: String): WindowedMgSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): WindowedMgSnapshot =
    store.readLocked(spark, stateDir)

  private[streaming] def checkStateBindings(st: WindowedMgSnapshot,
      stateDir: String, checkpoint: String, k: Int, window: Int): Unit = {
    if (st.lastBatchId < 0L) return
    if (st.k != k)
      throw new IllegalStateException(
        s"windowed MG state at $stateDir was folded with k=${st.k} but " +
          s"this stream uses k=$k — mixed-k folds weaken the composed " +
          "error bound the coverage guarantee rests on. Use a fresh " +
          "state dir to change k")
    WindowedRing.checkCommonBindings("windowed MG state", stateDir,
      st.checkpoint, checkpoint, st.window, window)
  }

  /** Apply ONE micro-batch of (doc_id, text) rows: skip if already
    * applied, else append the batch's own MG summary + exact token
    * count to the ring and evict past the window. Repo-visible for the
    * same deterministic-order testing reason as
    * [[StreamingWindowedMoments.applyBatch]]. */
  private[graft] def applyBatch(spark: SparkSession, stateDir: String,
      k: Int, window: Int, checkpoint: String, batch: DataFrame,
      batchId: Long): WindowedMgSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, k, window),
      st => {
        // ONE aggregate, ONE row back — the flat MG fold's per-batch
        // job verbatim (same tokenizer, same imperative aggregate)
        val row = batch
          .select(explode(
            graft.functions.TextFunctions.tokens(col("text"))).as("token"))
          .agg(HeavyHitters.mgCandidates(k)(col("token")).as("cand"),
            count(col("token")).as("n"))
          .head() // bounded: one row, <= k candidates
        val slot = MgSlot(row.getLong(1),
          row.getSeq[org.apache.spark.sql.Row](0)
            .map(r => r.getString(0) -> r.getLong(1)).toMap)
        WindowedMgSnapshot(k, checkpoint, window, batchId,
          WindowedRing.slide(st.ring, batchId -> slot, window))
      })

  /** Start the stream: parquet (doc_id, text) arrivals under
    * `sourceDir`, the newest `window` micro-batches' MG summaries kept
    * as the ring under `stateDir`. `sketchK` defaults to 2 × denominator
    * and must exceed it (the coverage guarantee's premise — the flat
    * fold's rule). Same entry-time chokepoint guards as the family. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, denominator: Long, window: Int,
      sketchK: Int = 0, maxFilesPerTrigger: Int = 0): StreamingQuery = {
    val k = HeavyHitters.checkedK(sketchK, denominator)
    WindowedRing.requireWindow(window)
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add("doc_id", LongType).add("text", StringType),
      maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, k, window),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, k, window, ckptId, batch, batchId)
          () })
  }

  /** Ring states cannot be cross-cluster merged — refused loudly with
    * the real reason ([[WindowedRing.refuseMerge]]). */
  def mergeStates(spark: SparkSession, inDirs: Seq[String],
      outDir: String): Nothing =
    WindowedRing.refuseMerge("windowed MG state")

  /** Exact heavy hitters of the WINDOW, for callers that can supply the
    * window's own rows (tests; pipelines that retained the batches):
    * recount the window candidates over `items` and keep those at
    * ≥ ceil(window mass / denominator). With the ingest's
    * k > denominator this EQUALS the batch exact() over the window's
    * rows — the composed bound says no true window heavy hitter was
    * evicted from any slot or lost in the ring merge. The threshold
    * denominator base is the STATE's exact window mass, so an eviction
    * off by one batch changes the answer (the oracle row's device). */
  def heavyHittersFromSnapshot(st: WindowedMgSnapshot, where: String,
      items: DataFrame, itemCol: String, denominator: Long): DataFrame = {
    require(denominator > 0,
      s"denominator must be positive, got $denominator")
    require(st.lastBatchId < 0L || st.k > denominator,
      s"windowed MG state at $where was folded with k=${st.k}, which " +
        s"does not cover denominator=$denominator (needs k > " +
        "denominator): window heavy hitters at this threshold may have " +
        "been evicted — re-fold with a larger sketchK or query a " +
        "coarser threshold")
    val minCount = math.ceil(st.n.toDouble / denominator).toLong
    val cands = st.aggregateCounts.keys.toSeq
    items
      .filter(if (cands.isEmpty) lit(false) else col(itemCol).isin(cands: _*))
      .groupBy(itemCol).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col(itemCol).asc)
  }
}
