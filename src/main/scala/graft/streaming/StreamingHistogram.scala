package graft.streaming

import graft.operators.HistogramSketch
import graft.operators.HistogramSketch.HistogramSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, StructType}

/** Streaming value-distribution profile: per micro-batch one EXACT
  * fixed-bin histogram aggregation ([[HistogramSketch]]), folded into the
  * persisted state by plain vector addition — the quantile face of the
  * streaming profiling family, completing the square the heavy-hitter
  * folds started ([[StreamingHeavyHitters]] flat /
  * [[StreamingGroupedHeavyHitters]] grouped are the frequency faces).
  *
  * Because the fold is exact integer addition over a FIXED binning, the
  * folded state is not an estimate of anything: it IS the batch
  * histogram of everything folded so far. Exactly-once is therefore
  * hash-checkable end to end — a dropped batch, a double-applied replay,
  * or a drifted bin boundary changes some exact count, and the oracle
  * replays the whole answer (counts and interpolated quantile estimates)
  * from the raw corpus. Rank accounting is exact; only value resolution
  * is quantized (one bin width). A GK/percentile_approx fold was
  * measured and rejected for this seat — see the [[HistogramSketch]]
  * scaladoc for the numbers.
  *
  * State file, exactly-once and entry-time guards: [[FoldStateStore]].
  * The state is bound to ONE checkpoint AND one binning (folding mixed
  * binnings would silently corrupt every count).
  *
  * 100 TB/day posture: per batch one map-side-combined <= nBins+2-key
  * aggregation, O(nBins) driver fold, O(nBins) state file — no per-key
  * state, no sort, no value retention, at any stream length. */
object StreamingHistogram {

  /** Folded histogram state: the binning it was folded WITH (counts are
    * meaningless under any other), the checkpoint binding, last applied
    * micro-batch id, exact total (non-null) value count, exact underflow/
    * overflow counts, and the exact per-bin counts (sparse map). */
  case class HistSnapshot(spec: HistogramSpec, checkpoint: String,
      lastBatchId: Long, n: Long, bins: Map[Int, Long]) extends FoldSnapshot {
    def underflow: Long = bins.getOrElse(-1, 0L)
    def overflow: Long = bins.getOrElse(spec.nBins, 0L)
  }

  private val store = new FoldStateStore[HistSnapshot](
    "histogram state", "hist_state.json",
    Seq("lo", "hi", "n_bins", "checkpoint"),
    HistSnapshot(HistogramSpec(0.0, 1.0, 1), "", -1L, 0L, Map.empty),
    encode = (root, snap) => {
      putSpec(root, snap.spec)
      root.put("checkpoint", snap.checkpoint)
      root.put("batch_id", snap.lastBatchId)
      root.put("n", snap.n)
      putBins(root, snap.bins)
    },
    decode = node => HistSnapshot(parseSpec(node),
      node.get("checkpoint").asText(), node.get("batch_id").asLong(),
      node.get("n").asLong(), parseBins(node)))

  /** The binning fields, shared by the three histogram faces. */
  private[streaming] def putSpec(
      into: com.fasterxml.jackson.databind.node.ObjectNode,
      spec: HistogramSpec): Unit = {
    into.put("lo", spec.lo)
    into.put("hi", spec.hi)
    into.put("n_bins", spec.nBins)
  }

  private[streaming] def parseSpec(
      node: com.fasterxml.jackson.databind.JsonNode): HistogramSpec =
    HistogramSpec(node.get("lo").asDouble(), node.get("hi").asDouble(),
      node.get("n_bins").asInt())

  /** The `bins` object, shared by the three histogram faces — sorted by
    * bin for a stable file layout (diffable, digest-friendly). */
  private[streaming] def putBins(
      into: com.fasterxml.jackson.databind.node.ObjectNode,
      bins: Map[Int, Long]): Unit = {
    val b = into.putObject("bins")
    bins.toSeq.sortBy(_._1).foreach { case (bin, c) =>
      b.put(bin.toString, c)
    }
  }

  private[streaming] def parseBins(
      node: com.fasterxml.jackson.databind.JsonNode): Map[Int, Long] = {
    val b = Map.newBuilder[Int, Long]
    val it = node.get("bins").fields()
    while (it.hasNext) {
      val e = it.next(); b += e.getKey.toInt -> e.getValue.asLong()
    }
    b.result()
  }

  /** Lock-free read (the [[graft.core.SwapStateFile.read]] protocol);
    * absent file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession, stateDir: String): HistSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock
    * ([[graft.core.SwapStateFile.readLocked]]). */
  def readStateLocked(spark: SparkSession, stateDir: String): HistSnapshot =
    store.readLocked(spark, stateDir)

  /** The checkpoint/binning binding rules — [[StreamingHeavyHitters]]'s
    * rule set with the binning in the k slot, enforced at both
    * chokepoints (ingest entry and per-batch for direct [[applyBatch]]
    * callers). */
  private[streaming] def checkStateBindings(st: HistSnapshot,
      stateDir: String, checkpoint: String, spec: HistogramSpec): Unit = {
    if (st.lastBatchId < 0L) return
    store.checkCheckpoint(st, stateDir, checkpoint)
    if (st.spec != spec)
      throw new IllegalStateException(
        s"histogram state at $stateDir was folded with binning " +
          s"[${st.spec.lo}, ${st.spec.hi}) x ${st.spec.nBins} but this " +
          s"stream uses [${spec.lo}, ${spec.hi}) x ${spec.nBins} — " +
          "counts under one binning are meaningless under another. Use " +
          "a fresh state dir to change the binning")
  }

  /** Apply ONE micro-batch of values to the persisted state: skip if
    * already applied, else add the batch's exact bin counts. Package-
    * visible so idempotence and bindings are directly testable. */
  private[streaming] def applyBatch(spark: SparkSession, stateDir: String,
      spec: HistogramSpec, checkpoint: String, batch: DataFrame,
      valueCol: String, batchId: Long): HistSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, spec),
      st => {
        val rows = HistogramSketch.counts(
          batch.select(col(valueCol).as("v")), "v", spec)
          .collect() // bounded: <= nBins+2 rows
        var bins = st.bins
        var added = 0L
        rows.foreach { r =>
          val bin = r.getInt(0); val c = r.getLong(1)
          bins = bins.updated(bin, bins.getOrElse(bin, 0L) + c)
          added += c
        }
        HistSnapshot(spec, checkpoint, batchId, st.n + added, bins)
      })

  /** Cross-cluster merge — the quantile face of
    * [[StreamingMoments.mergeStates]]: combine ≥ 2 independently-folded
    * histogram states (one regional ingest each, IDENTICAL binning —
    * counts are meaningless under any other) into one state under
    * `outDir` by exact bin-wise addition (including the underflow/
    * overflow cells). The counts are exact, so the merged histogram
    * EQUALS what one cluster folding every region's arrivals would hold
    * — global quantiles from per-region O(bins) states, no data
    * movement. Same contract: locked input reads, every input folded, a
    * synthetic `merged:[...]` checkpoint that trips the ingest binding,
    * no clobbering. */
  def mergeStates(spark: SparkSession, inDirs: Seq[String],
      outDir: String): HistSnapshot =
    store.merge(spark, inDirs, outDir, "global histogram") {
      (states, ckpt, lastId) =>
        val spec = sameSpec(states.map(_.spec))
        val bins = scala.collection.mutable.Map.empty[Int, Long]
        states.foreach { st =>
          st.bins.foreach { case (b, c) =>
            bins.put(b, bins.getOrElse(b, 0L) + c) }
        }
        HistSnapshot(spec, ckpt, lastId, states.map(_.n).sum,
          bins.toMap)
    }

  /** The merge binding refusal shared with the grouped fold: every
    * input must carry the identical binning. */
  private[streaming] def sameSpec(specs: Seq[HistogramSpec]): HistogramSpec =
    StateMerge.sameBinding("binnings", specs,
      (s: HistogramSpec) => s"[${s.lo}, ${s.hi}) x ${s.nBins}",
      "bin counts are only meaningful relative to their binning; merge " +
        "only states folded with the identical spec (re-fold divergent " +
        "regions under one shared binning first)")

  /** One-call sample→histogram bootstrap: derive the binning from a
    * STANDING [[StreamingSample]] fold (its ≤ k carried values, read
    * through the linearizable locked read) via
    * [[HistogramSketch.fromSample]], then start the fold with that spec —
    * no corpus rescan to choose [lo, hi). The operational closing of the
    * misconfigured-range loop: the envelope's
    * `out_of_range_mass_fraction` alert says the bounds drifted, the
    * standing sample supplies fresh ones, this starts the re-fold.
    *
    * The derived spec lands in the state binding like any explicit one,
    * so a LATER ingestAutoBinned against the same state dir whose sample
    * has drifted to different bounds refuses loudly through the existing
    * binding guard (re-binning requires a fresh state dir, deliberately —
    * folded counts are only meaningful relative to their bins). Refuses
    * loudly when the sample is empty or carries no values (folded
    * without a valueCol).
    *
    * @return the started query and the derived spec (also recoverable
    *         from the state file after the first batch) */
  def ingestAutoBinned(spark: SparkSession, sourceDir: String,
      stateDir: String, checkpointDir: String, sampleStateDir: String,
      nBins: Int, coverage: Double = 0.99, valueCol: String = "value",
      maxFilesPerTrigger: Int = 0): (StreamingQuery, HistogramSpec) = {
    val sample = StreamingSample.readStateLocked(spark, sampleStateDir)
    if (sample.lastBatchId < 0L)
      throw new IllegalStateException(
        s"no folded sample state under $sampleStateDir — the auto-binned " +
          "fold derives its [lo, hi) from the standing sample; start the " +
          "sample stream (with a valueCol) first, or pass an explicit " +
          "HistogramSpec to ingest")
    if (!sample.entries.exists(_.value.exists(java.lang.Double.isFinite)))
      throw new IllegalStateException(
        s"sample state under $sampleStateDir carries no finite values " +
          "(folded without a valueCol, or every carried value is " +
          "null/NaN/Inf) — re-fold the sample with a valueCol so " +
          "fromSample has a distribution to derive bounds from")
    // the ONE derive arithmetic (fromValues — shared with the DataFrame
    // face and the REST derive route), over the ≤ k already-local
    // carried values: no Spark job, no subsampling
    val spec = HistogramSketch.fromValues(
      sample.entries.flatMap(_.value), nBins, coverage)
    (ingest(spark, sourceDir, stateDir, checkpointDir, spec, valueCol,
      maxFilesPerTrigger), spec)
  }

  /** Start the stream: parquet arrivals under `sourceDir` with a DOUBLE
    * `valueCol`, folded per micro-batch into the histogram state under
    * `stateDir`; entry-time guards are [[FoldStateStore.ingest]]'s. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, spec: HistogramSpec,
      valueCol: String = "value",
      maxFilesPerTrigger: Int = 0): StreamingQuery = {
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add(valueCol, DoubleType), maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, spec),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, spec, ckptId, batch, valueCol,
            batchId); () })
  }

  /** Interpolated quantile estimates from an already-read snapshot —
    * [[HistogramSketch.quantiles]] over the folded exact counts. Empty
    * on an empty state. */
  def quantilesFromSnapshot(st: HistSnapshot,
      probs: Seq[Double]): Seq[(Double, Double)] =
    if (st.n == 0L) Seq.empty
    else HistogramSketch.quantiles(st.spec, st.bins, probs)

  /** Quantile estimates from the persisted state (lock-free read). */
  def quantilesFromState(spark: SparkSession, stateDir: String,
      probs: Seq[Double]): Seq[(Double, Double)] =
    quantilesFromSnapshot(readState(spark, stateDir), probs)
}
