package graft.streaming

import graft.operators.HistogramSketch
import graft.operators.HistogramSketch.HistogramSpec
import graft.streaming.StreamingHistogram.HistSnapshot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, StructType}

/** Sliding-window exact histogram — the quantile face's TIME dimension,
  * the second instantiation of the [[StreamingWindowedMoments]] ring
  * design (which the moments face documents in full): "p99 latency over
  * the last N micro-batches" is what a latency dashboard actually
  * plots; the all-time fold's p99 over a month of events is numb to an
  * hour-old regression. The ring keeps the newest `window` batches'
  * EXACT per-batch bin counts; the served view re-ADDS them bin-wise
  * per batch (histogram counts are a commutative monoid — unlike
  * min/max there IS an inverse here, but the ring re-reduce is O(window
  * × bins) driver arithmetic anyway and keeps the windowed faces on
  * one design), so the window histogram — and every quantile
  * interpolated from it — EQUALS the one-shot batch histogram over
  * exactly the newest `window` batches' rows.
  *
  * Bindings are the family's plus BOTH the binning AND the window width
  * (a window-6 state is not comparable to a window-3 one; counts are
  * meaningless under any other binning). Empty batches occupy a slot —
  * the window counts ingest time, not rows. State: window × (≤ nBins+2)
  * exact cells through [[FoldStateStore]].
  *
  * 100 TB/day posture: per batch ONE ≤ nBins+2-key aggregation
  * (map-side combined), one O(window × bins) driver re-reduce, one
  * O(window × bins) state file — at any stream length. */
object StreamingWindowedHistogram {

  /** Folded windowed state: binding fields (binning, checkpoint,
    * window), last applied batch id, and the ring — (batchId, n, bins),
    * oldest first, ≤ window entries. */
  case class WindowedHistSnapshot(spec: HistogramSpec, checkpoint: String,
      window: Int, lastBatchId: Long,
      ring: Seq[(Long, Long, Map[Int, Long])]) extends WindowedFoldSnapshot {
    /** The served view: the exact bin-wise sum of the ring, shaped as
      * the flat face's snapshot so every consumer of [[HistSnapshot]]
      * (quantile interpolation, envelopes) applies verbatim. */
    def aggregate: HistSnapshot = {
      val bins = scala.collection.mutable.Map.empty[Int, Long]
      ring.foreach { case (_, _, b) =>
        b.foreach { case (bin, c) => bins.put(bin, bins.getOrElse(bin, 0L) + c) }
      }
      HistSnapshot(spec, checkpoint, lastBatchId,
        ring.iterator.map(_._2).sum, bins.toMap)
    }
  }

  private val store = new FoldStateStore[WindowedHistSnapshot](
    "windowed histogram state",
    WindowedRing.registered("hist_window_state.json"),
    Seq("lo", "hi", "n_bins", "checkpoint", "window"),
    WindowedHistSnapshot(HistogramSpec(0.0, 1.0, 1), "", -1, -1L,
      Seq.empty),
    encode = (root, snap) => {
      StreamingHistogram.putSpec(root, snap.spec)
      root.put("checkpoint", snap.checkpoint)
      root.put("window", snap.window)
      root.put("batch_id", snap.lastBatchId)
      val arr = root.putArray("ring")
      snap.ring.foreach { case (bid, n, bins) =>
        val e = arr.addObject()
        e.put("batch_id", bid)
        e.put("n", n)
        StreamingHistogram.putBins(e, bins)
      }
    },
    decode = node => {
      val ring = Seq.newBuilder[(Long, Long, Map[Int, Long])]
      val it = node.get("ring").elements()
      while (it.hasNext) {
        val e = it.next()
        ring += ((e.get("batch_id").asLong(), e.get("n").asLong(),
          StreamingHistogram.parseBins(e)))
      }
      WindowedHistSnapshot(StreamingHistogram.parseSpec(node),
        node.get("checkpoint").asText(), node.get("window").asInt(),
        node.get("batch_id").asLong(), ring.result())
    })

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol); absent
    * file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession,
      stateDir: String): WindowedHistSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): WindowedHistSnapshot =
    store.readLocked(spark, stateDir)

  private[streaming] def checkStateBindings(st: WindowedHistSnapshot,
      stateDir: String, checkpoint: String, spec: HistogramSpec,
      window: Int): Unit = {
    if (st.lastBatchId < 0L) return
    if (st.spec != spec)
      throw new IllegalStateException(
        s"windowed histogram state at $stateDir was folded under binning " +
          s"[${st.spec.lo}, ${st.spec.hi}) x ${st.spec.nBins} but this " +
          s"stream uses [${spec.lo}, ${spec.hi}) x ${spec.nBins} — bin " +
          "counts are only meaningful relative to their binning. Use a " +
          "fresh state dir to change the binning")
    WindowedRing.checkCommonBindings("windowed histogram state", stateDir,
      st.checkpoint, checkpoint, st.window, window)
  }

  /** Apply ONE micro-batch: skip if already applied, else append the
    * batch's exact bin counts to the ring and evict past the window.
    * Repo-visible for the same deterministic-order testing reason as
    * [[StreamingWindowedMoments.applyBatch]]. */
  private[graft] def applyBatch(spark: SparkSession, stateDir: String,
      spec: HistogramSpec, window: Int, checkpoint: String,
      batch: DataFrame, valueCol: String,
      batchId: Long): WindowedHistSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, spec, window),
      st => {
        val rows = HistogramSketch.counts(
          batch.select(col(valueCol).as("v")), "v", spec)
          .collect() // bounded: <= nBins+2 rows
        val bins = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
        val n = rows.map(_.getLong(1)).sum
        WindowedHistSnapshot(spec, checkpoint, window, batchId,
          WindowedRing.slide(st.ring, (batchId, n, bins), window))
      })

  /** Start the stream: parquet arrivals under `sourceDir` with a DOUBLE
    * `valueCol`, the newest `window` micro-batches' exact bin counts
    * kept as the ring under `stateDir`. Same entry-time chokepoint
    * guards as the rest of the family. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, spec: HistogramSpec, window: Int,
      valueCol: String = "value",
      maxFilesPerTrigger: Int = 0): StreamingQuery = {
    WindowedRing.requireWindow(window)
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add(valueCol, DoubleType), maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, spec, window),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, spec, window, ckptId, batch,
            valueCol, batchId); () })
  }

  /** Ring states cannot be cross-cluster merged — refused loudly with
    * the real reason ([[WindowedRing.refuseMerge]]). */
  def mergeStates(spark: SparkSession, inDirs: Seq[String],
      outDir: String): Nothing =
    WindowedRing.refuseMerge("windowed histogram state")

  /** Quantile estimates from the window aggregate — the flat face's
    * interpolation verbatim over the ring's bin-wise sum. */
  def quantilesFromSnapshot(st: WindowedHistSnapshot,
      probs: Seq[Double]): Seq[(Double, Double)] =
    StreamingHistogram.quantilesFromSnapshot(st.aggregate, probs)
}
