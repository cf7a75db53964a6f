package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructType}

/** Sliding-window cardinality — the cardinality face's TIME dimension
  * on the [[WindowedRing]] design: "distinct ids seen in the last N
  * micro-batches" is the trending-cardinality monitor — an all-time
  * distinct count over a year of arrivals is numb to a crawler that
  * started replaying one domain an hour ago, while the windowed
  * estimate dropping toward the per-batch volume IS that signal.
  *
  * The ring keeps the newest `window` batches' OWN fixed-size HLL
  * sketches (plus each batch's exact row/null counters); the served
  * view re-UNIONS the ≤ window sketches per read ([[aggregate]]).
  * Re-union on eviction is the ring rule's natural fit here: HLL
  * registers are a semilattice with NO inverse (register-wise max
  * cannot be subtracted), exactly the min/max argument of the moments
  * face — and by that same semilattice the windowed union's registers
  * EQUAL the one-shot sketch over exactly the newest `window` batches'
  * rows, so the windowed estimate carries the sketch's documented
  * accuracy with no windowing error on top. Exact per-batch nRows/nNull
  * counters ride the ring and re-sum to the window's arrival envelope,
  * pinning exactly-once independently of the sketch.
  *
  * Bindings are the family's plus (lgK, valueCol) — the flat
  * cardinality fold's identity rule — and the window width. Empty
  * batches occupy a slot (the window counts ingest time, not rows).
  * State: window × (two counters + one ≤ O(2^lgK) sketch) through
  * [[FoldStateStore]].
  *
  * 100 TB/day posture: per batch ONE map-side-combined sketch aggregate
  * (fixed-size partials, never values), one O(window × 2^lgK) driver
  * re-union, one O(window × 2^lgK) state file — at any stream length
  * and ANY cardinality. */
object StreamingWindowedDistinct {

  /** One ring slot: the batch's exact arrival counters and its own HLL
    * sketch bytes (empty array = all-null batch — the flat fold's
    * no-values rule). */
  case class BatchSlot(nRows: Long, nNull: Long, sketch: Array[Byte]) {
    // content equality on the sketch bytes — case-class equals on Array
    // is reference equality (the DistinctSnapshot rule)
    override def equals(o: Any): Boolean = o match {
      case that: BatchSlot => nRows == that.nRows &&
        nNull == that.nNull &&
        java.util.Arrays.equals(sketch, that.sketch)
      case _ => false
    }
    override def hashCode(): Int =
      (nRows, nNull, java.util.Arrays.hashCode(sketch)).hashCode()
  }

  /** Folded windowed state: binding fields (lgK, value column,
    * checkpoint, window), last applied batch id, and the ring —
    * (batchId, slot), oldest first, ≤ window entries. */
  case class WindowedDistinctSnapshot(lgK: Int, valueCol: String,
      checkpoint: String, window: Int, lastBatchId: Long,
      ring: Seq[(Long, BatchSlot)]) {
    /** The window's arrival envelope: exact row/null counts over
      * exactly the newest ≤ window batches. */
    def nRows: Long = ring.iterator.map(_._2.nRows).sum
    def nNull: Long = ring.iterator.map(_._2.nNull).sum
    /** The served sketch: the HLL union of the ring's per-batch
      * sketches — registers EQUAL the one-shot sketch over the window's
      * rows (the HLL semilattice). Empty when nothing non-null is in
      * the window. */
    def aggregateSketch: Array[Byte] =
      if (ring.isEmpty) Array.empty
      else ring.map(_._2.sketch)
        .reduce(StreamingDistinct.unionSketches(lgK, _, _))
    /** The windowed distinct estimate (None when no non-null value is
      * in the window). */
    def estimate: Option[Double] =
      StreamingDistinct.estimateOf(aggregateSketch)
  }

  private val store = new FoldStateStore[WindowedDistinctSnapshot](
    "windowed distinct state",
    WindowedRing.registered("distinct_window_state.json"),
    Seq("lg_k", "value_col", "checkpoint", "window"),
    WindowedDistinctSnapshot(-1, "", "", -1, -1L, Seq.empty),
    _.lastBatchId, _.checkpoint,
    encode = (root, snap) => {
      root.put("lg_k", snap.lgK)
      root.put("value_col", snap.valueCol)
      root.put("checkpoint", snap.checkpoint)
      root.put("window", snap.window)
      root.put("batch_id", snap.lastBatchId)
      val arr = root.putArray("ring")
      snap.ring.foreach { case (bid, slot) =>
        val e = arr.addObject()
        e.put("batch_id", bid)
        StreamingDistinct.putCounters(e, slot.nRows, slot.nNull, slot.sketch)
      }
    },
    decode = node => {
      val ring = Seq.newBuilder[(Long, BatchSlot)]
      val it = node.get("ring").elements()
      while (it.hasNext) {
        val e = it.next()
        ring += e.get("batch_id").asLong() -> BatchSlot(
          e.get("n_rows").asLong(), e.get("n_null").asLong(),
          StreamingDistinct.parseSketch(e))
      }
      WindowedDistinctSnapshot(node.get("lg_k").asInt(),
        node.get("value_col").asText(), node.get("checkpoint").asText(),
        node.get("window").asInt(), node.get("batch_id").asLong(),
        ring.result())
    })

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol); absent
    * file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession,
      stateDir: String): WindowedDistinctSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): WindowedDistinctSnapshot =
    store.readLocked(spark, stateDir)

  private[streaming] def checkStateBindings(st: WindowedDistinctSnapshot,
      stateDir: String, checkpoint: String, lgK: Int, valueCol: String,
      window: Int): Unit = {
    if (st.lastBatchId < 0L) return
    if (st.lgK != lgK || st.valueCol != valueCol)
      throw new IllegalStateException(
        s"windowed distinct state at $stateDir was folded with " +
          s"(lgK=${st.lgK}, column='${st.valueCol}') but this stream " +
          s"uses (lgK=$lgK, column='$valueCol') — sketches of different " +
          "precision or of different columns cannot be unioned " +
          "meaningfully. Use a fresh state dir to change them")
    WindowedRing.checkCommonBindings("windowed distinct state", stateDir,
      st.checkpoint, checkpoint, st.window, window)
  }

  /** Apply ONE micro-batch: skip if already applied, else append the
    * batch's own sketch + exact counters to the ring and evict past the
    * window. Repo-visible for the same deterministic-order testing
    * reason as [[StreamingWindowedMoments.applyBatch]]. */
  private[graft] def applyBatch(spark: SparkSession, stateDir: String,
      lgK: Int, window: Int, checkpoint: String, batch: DataFrame,
      valueCol: String, batchId: Long): WindowedDistinctSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, lgK, valueCol,
        window),
      st => {
        // ONE aggregate, ONE row back — the flat fold's per-batch
        // arithmetic verbatim (shared helper), so the windowed and
        // all-time cardinality faces cannot drift
        val (nRows, nNull, bytes) =
          StreamingDistinct.batchSketch(batch, valueCol, lgK)
        WindowedDistinctSnapshot(lgK, valueCol, checkpoint, window,
          batchId, WindowedRing.slide(st.ring,
            batchId -> BatchSlot(nRows, nNull, bytes), window))
      })

  /** Start the stream: parquet arrivals under `sourceDir` with a STRING
    * `valueCol`, the newest `window` micro-batches' sketches kept as
    * the ring under `stateDir`. Same entry-time chokepoint guards as
    * the rest of the family. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, window: Int, valueCol: String = "value",
      lgK: Int = StreamingDistinct.DefaultLgK,
      maxFilesPerTrigger: Int = 0): StreamingQuery = {
    require(lgK >= 4 && lgK <= 21,
      s"lgK must be in the sketch's supported [4, 21], got $lgK")
    WindowedRing.requireWindow(window)
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add(valueCol, StringType), maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, lgK, valueCol, window),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, lgK, window, ckptId, batch,
            valueCol, batchId); () })
  }

  /** Ring states cannot be cross-cluster merged — refused loudly with
    * the real reason ([[WindowedRing.refuseMerge]]). */
  def mergeStates(spark: SparkSession, inDirs: Seq[String],
      outDir: String): Nothing =
    WindowedRing.refuseMerge("windowed distinct state")

  /** CANONICAL windowed estimate for fold-vs-one-shot comparisons —
    * [[StreamingDistinct.canonicalEstimate]] over the ring union (the
    * estimator-normalization rule the flat face documents). */
  def canonicalEstimate(st: WindowedDistinctSnapshot): Option[Double] =
    StreamingDistinct.canonicalEstimate(st.lgK, st.aggregateSketch)
}
