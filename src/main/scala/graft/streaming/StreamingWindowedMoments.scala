package graft.streaming

import graft.operators.Profile
import graft.streaming.StreamingMoments.{emptyMoments, mergeMoments, momentsFromRow, Moments}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructType}

/** Sliding-window exact moments — the profiling family's TIME dimension.
  * Every other face folds ALL-TIME state; a drift monitor usually wants
  * "the mean/std over the last N micro-batches" (the recent mix, not the
  * stream's whole history — an all-time mean over a year of arrivals is
  * numb to a regression that started an hour ago). This fold keeps a
  * RING of per-batch exact moments (the newest `window` batches, each
  * one [[Profile.moments]]'s seven counters) and serves their
  * semilattice reduction as the window aggregate.
  *
  * Exactness without inverses: min/max are not subtractable, so a
  * running-total-minus-evicted design would be wrong the moment the
  * evicted batch held the extremum. The ring sidesteps inversion
  * entirely — eviction drops a slot, and the aggregate is RE-REDUCED
  * over the ≤ window remaining exact partials (O(window) driver
  * arithmetic per batch, BigInt sums — no error term, no FP drift). The
  * window aggregate therefore EQUALS the one-shot batch aggregate over
  * exactly the newest `window` batches' rows, which is what the oracle
  * row replays.
  *
  * The same ring design generalizes to any face whose per-batch summary
  * is bounded (per-batch histograms, HLL sketches, MG summaries: keep
  * the ring, re-merge over it); the state file goes through
  * [[FoldStateStore]] like every other fold, so this face keeps only its
  * own codec, bindings, and per-batch arithmetic.
  *
  * The bindings are (checkpoint, valueCol, AND the window width: a
  * state folded at window 6 is not comparable to one at window 3, so
  * the width is part of the state's identity). Empty micro-batches
  * occupy a slot (the window counts BATCHES, i.e. ingest time, not rows
  * — a quiet hour showing up as a shrunken n IS the signal a rate
  * monitor wants).
  *
  * 100 TB/day posture: per batch ONE map-side-combined aggregate
  * collapsing to a single row, one O(window) driver re-reduce, one
  * O(window) state file — at any stream length. */
object StreamingWindowedMoments {

  /** Folded windowed state: binding fields (value column, checkpoint,
    * window width), last applied batch id, and the ring — (batchId,
    * exact per-batch moments), oldest first, ≤ window entries. */
  case class WindowedMomentsSnapshot(valueCol: String, checkpoint: String,
      window: Int, lastBatchId: Long, ring: Seq[(Long, Moments)])
      extends WindowedFoldSnapshot {
    /** The served view: the exact semilattice reduction of the ring —
      * the moments of exactly the newest ≤ window batches' rows. */
    def aggregate: Moments =
      if (ring.isEmpty) emptyMoments
      else ring.map(_._2).reduce(mergeMoments)
  }

  private val store = new FoldStateStore[WindowedMomentsSnapshot](
    "windowed moments state",
    WindowedRing.registered("moments_window_state.json"),
    Seq("value_col", "checkpoint", "window"),
    WindowedMomentsSnapshot("", "", -1, -1L, Seq.empty),
    encode = (root, snap) => {
      root.put("value_col", snap.valueCol)
      root.put("checkpoint", snap.checkpoint)
      root.put("window", snap.window)
      root.put("batch_id", snap.lastBatchId)
      val arr = root.putArray("ring")
      snap.ring.foreach { case (bid, m) =>
        val e = arr.addObject()
        e.put("batch_id", bid)
        StreamingMoments.putMoments(e, m)
      }
    },
    decode = node => {
      val ring = Seq.newBuilder[(Long, Moments)]
      val it = node.get("ring").elements()
      while (it.hasNext) {
        val e = it.next()
        ring += e.get("batch_id").asLong() ->
          StreamingMoments.parseMoments(e)
      }
      WindowedMomentsSnapshot(node.get("value_col").asText(),
        node.get("checkpoint").asText(), node.get("window").asInt(),
        node.get("batch_id").asLong(), ring.result())
    })

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol); absent
    * file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession,
      stateDir: String): WindowedMomentsSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): WindowedMomentsSnapshot =
    store.readLocked(spark, stateDir)

  private[streaming] def checkStateBindings(st: WindowedMomentsSnapshot,
      stateDir: String, checkpoint: String, valueCol: String,
      window: Int): Unit = {
    if (st.lastBatchId < 0L) return
    if (st.valueCol != valueCol)
      throw new IllegalStateException(
        s"windowed moments state at $stateDir was folded over column " +
          s"'${st.valueCol}' but this stream folds '$valueCol' — the " +
          "mixed state would be the moments of neither column. Use a " +
          "fresh state dir to profile a different column")
    WindowedRing.checkCommonBindings("windowed moments state", stateDir,
      st.checkpoint, checkpoint, st.window, window)
  }

  /** Apply ONE micro-batch: skip if already applied, else append the
    * batch's exact moments to the ring and evict past the window.
    * Package-visible (repo-wide: the REST spec drives deterministic
    * batch ORDER through it, which a real stream can't guarantee
    * without the mtime-forcing staging) so idempotence, bindings, and
    * eviction are directly testable. */
  private[graft] def applyBatch(spark: SparkSession, stateDir: String,
      window: Int, checkpoint: String, batch: DataFrame, valueCol: String,
      batchId: Long): WindowedMomentsSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, valueCol, window),
      st => {
        val bm = momentsFromRow(
          Profile.moments(batch, valueCol).head(), 0,
          s"windowed moments fold at $stateDir (batch $batchId)")
        WindowedMomentsSnapshot(valueCol, checkpoint, window, batchId,
          WindowedRing.slide(st.ring, batchId -> bm, window))
      })

  /** Start the stream: parquet arrivals under `sourceDir` with a LONG
    * `valueCol`, the newest `window` micro-batches' exact moments kept
    * as the ring under `stateDir`. Same entry-time chokepoint guards as
    * the rest of the family. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, window: Int, valueCol: String = "value",
      maxFilesPerTrigger: Int = 0): StreamingQuery = {
    WindowedRing.requireWindow(window)
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add(valueCol, LongType), maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, valueCol, window),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, window, ckptId, batch, valueCol,
            batchId); () })
  }

  /** Ring states cannot be cross-cluster merged — refused loudly with
    * the real reason ([[WindowedRing.refuseMerge]]: non-aligned batch
    * windows), so the mistake never reads as a missing-state error. */
  def mergeStates(spark: SparkSession, inDirs: Seq[String],
      outDir: String): Nothing =
    WindowedRing.refuseMerge("windowed moments state")

  /** The window aggregate as a one-row relation — the same schema as
    * [[StreamingMoments.toDF]]/[[Profile.moments]], so the windowed view
    * and the batch operator over the window's rows are directly
    * comparable (and oracle-replayable). */
  def toDF(spark: SparkSession, st: WindowedMomentsSnapshot): DataFrame =
    StreamingMoments.toDF(spark,
      StreamingMoments.MomentsSnapshot(st.valueCol, st.checkpoint,
        st.lastBatchId, st.aggregate))
}
