package graft.streaming

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructType}

/** Streaming distinct-count — the cardinality face of the streaming
  * profiling family (frequencies / quantiles / sample / moments / this):
  * a long-lived ingest pipeline maintains a RUNNING distinct count of one
  * column (content fingerprints, URLs, doc ids) as a fixed-size mergeable
  * HLL sketch. This is THE scale path for cardinality: the exact
  * `count(DISTINCT x)` over 100 TB shuffles every distinct value every
  * time it is asked, while the sketch costs one map pass per batch and a
  * few KB of state at ANY cardinality (the batch face made the same
  * trade in the `sketch_distinct` row; this face keeps the answer
  * STANDING, no corpus rescan per ask).
  *
  * Per micro-batch: ONE aggregate — `hll_sketch_agg` (the Datasketches
  * HLL sketch Spark ships; partials are fixed-size sketches merged
  * map-side) riding with the exact row/null counters — then a driver-side
  * Datasketches `Union` into the persisted sketch. The union is the HLL
  * semilattice (register-wise max in dense mode, exact set union in
  * sparse mode), so the fold is:
  *
  *  - order- and batching-insensitive: union of per-batch sketches EQUALS
  *    the one-shot sketch over everything folded (register-wise max is
  *    associative/commutative/idempotent) — the verify face leans on
  *    this equality;
  *  - idempotent under replay BY CONSTRUCTION (re-unioning a sketch
  *    changes nothing), with the batch-id guard still skipping replays
  *    so the exact nRows/nNull counters never double-count;
  *  - approximate ONLY in the estimate: the sketch is exact through its
  *    sparse regimes and ~1.04/sqrt(2^lgK) relative error dense (~1.6%
  *    at the default lgK=12); the oracle row gates the folded estimate
  *    against the DuckDB-exact count at the documented 5% bound, and the
  *    exact nRows counter pins exactly-once independently of the sketch.
  *
  * State file (sketch bytes base64), exactly-once and entry-time
  * guards: [[FoldStateStore]]. The bindings are the checkpoint, lgK and
  * the folded COLUMN (a state mixing two columns counts neither).
  *
  * 100 TB/day posture: per batch one map-side-combined sketch aggregate
  * (fixed-size partials, never values), one O(2^lgK) driver union, one
  * few-KB state file — no per-key state, no growth, at any stream length
  * and any cardinality. */
object StreamingDistinct {

  /** Spark's `hll_sketch_agg` default — kept as OUR default so the
    * sketch the fold unions matches the one an ad-hoc batch query
    * builds. */
  val DefaultLgK: Int = 12

  /** Folded state: the (lgK, valueCol) identity, checkpoint binding,
    * last applied batch id, exact row/null counters, and the sketch
    * bytes (empty array = nothing folded yet / all-null stream). */
  case class DistinctSnapshot(lgK: Int, valueCol: String,
      checkpoint: String, lastBatchId: Long, nRows: Long, nNull: Long,
      sketch: Array[Byte]) extends FoldSnapshot {
    /** The running distinct estimate (None when nothing non-null has
      * been folded). Exact through the sketch's sparse regimes,
      * ~1.04/sqrt(2^lgK) relative error dense. */
    def estimate: Option[Double] =
      if (sketch.isEmpty) None
      else Some(HllSketch.heapify(Memory.wrap(sketch)).getEstimate)
    // equality must compare sketch CONTENT, not array identity —
    // case-class equals on Array is reference equality
    override def equals(o: Any): Boolean = o match {
      case that: DistinctSnapshot =>
        lgK == that.lgK && valueCol == that.valueCol &&
          checkpoint == that.checkpoint &&
          lastBatchId == that.lastBatchId && nRows == that.nRows &&
          nNull == that.nNull &&
          java.util.Arrays.equals(sketch, that.sketch)
      case _ => false
    }
    override def hashCode(): Int =
      (lgK, valueCol, checkpoint, lastBatchId, nRows, nNull,
        java.util.Arrays.hashCode(sketch)).hashCode()
  }

  private val store = new FoldStateStore[DistinctSnapshot](
    "distinct state", "distinct_state.json",
    Seq("lg_k", "value_col", "checkpoint"),
    DistinctSnapshot(-1, "", "", -1L, 0L, 0L, Array.empty),
    encode = (root, snap) => {
      root.put("lg_k", snap.lgK)
      root.put("value_col", snap.valueCol)
      root.put("checkpoint", snap.checkpoint)
      root.put("batch_id", snap.lastBatchId)
      putCounters(root, snap.nRows, snap.nNull, snap.sketch)
    },
    decode = node => DistinctSnapshot(node.get("lg_k").asInt(),
      node.get("value_col").asText(), node.get("checkpoint").asText(),
      node.get("batch_id").asLong(), node.get("n_rows").asLong(),
      node.get("n_null").asLong(), parseSketch(node)))

  /** The (n_rows, n_null, sketch) fields, shared by the three distinct
    * faces — sketch bytes base64, an empty string for no sketch. */
  private[streaming] def putCounters(
      into: com.fasterxml.jackson.databind.node.ObjectNode, nRows: Long,
      nNull: Long, sketch: Array[Byte]): Unit = {
    into.put("n_rows", nRows)
    into.put("n_null", nNull)
    into.put("sketch", java.util.Base64.getEncoder.encodeToString(sketch))
  }

  private[streaming] def parseSketch(
      node: com.fasterxml.jackson.databind.JsonNode): Array[Byte] =
    Option(node.get("sketch")).map(_.asText()).filter(_.nonEmpty)
      .map(java.util.Base64.getDecoder.decode).getOrElse(Array.empty)

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol); absent
    * file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession, stateDir: String): DistinctSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): DistinctSnapshot =
    store.readLocked(spark, stateDir)

  private[streaming] def checkStateBindings(st: DistinctSnapshot,
      stateDir: String, checkpoint: String, lgK: Int,
      valueCol: String): Unit = {
    if (st.lastBatchId < 0L) return
    store.checkCheckpoint(st, stateDir, checkpoint)
    if (st.lgK != lgK || st.valueCol != valueCol)
      throw new IllegalStateException(
        s"distinct state at $stateDir was folded with (lgK=${st.lgK}, " +
          s"column='${st.valueCol}') but this stream uses (lgK=$lgK, " +
          s"column='$valueCol') — sketches of different precision or of " +
          "different columns cannot be unioned meaningfully. Use a fresh " +
          "state dir to change them")
  }

  /** The ONE union arithmetic — shared by the fold, the batch twin, and
    * any caller merging snapshots: Datasketches HLL Union at the state's
    * lgK (register-wise max / exact sparse set union). Empty operands
    * are identity elements. */
  private[graft] def unionSketches(lgK: Int, a: Array[Byte],
      b: Array[Byte]): Array[Byte] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val u = new Union(lgK)
    u.update(HllSketch.heapify(Memory.wrap(a)))
    u.update(HllSketch.heapify(Memory.wrap(b)))
    u.getResult(TgtHllType.HLL_8).toUpdatableByteArray
  }

  /** Apply ONE micro-batch of values to the persisted state: skip if
    * already applied, else union the batch's sketch in and add the exact
    * row/null counters. Package-visible so idempotence and bindings are
    * directly testable. */
  private[streaming] def applyBatch(spark: SparkSession, stateDir: String,
      lgK: Int, checkpoint: String, batch: DataFrame, valueCol: String,
      batchId: Long): DistinctSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, lgK, valueCol),
      st => {
        val v = col("`" + valueCol.replace("`", "``") + "`")
        // ONE aggregate, ONE row back: the sketch plus the exact counters
        // on the same pass (hll_sketch_agg ignores nulls; they are
        // counted, not folded — the family's null-value rule)
        val r = batch.agg(count(lit(1)).as("n_rows"), count(v).as("n"),
          hll_sketch_agg(v, lit(lgK)).as("sk")).head()
        val nRows = r.getLong(0)
        val n = r.getLong(1)
        // n == 0: nothing non-null was folded — keep the no-sketch shape
        // (hll_sketch_agg returns an EMPTY sketch, not SQL NULL, on
        // all-null input; estimate None must mean "no values", not 0.0)
        val bytes =
          if (n == 0L || r.isNullAt(2)) Array.empty[Byte]
          else r.getAs[Array[Byte]](2)
        DistinctSnapshot(lgK, valueCol, checkpoint, batchId,
          st.nRows + nRows, st.nNull + (nRows - n),
          unionSketches(lgK, st.sketch, bytes))
      })

  /** Start the stream: parquet arrivals under `sourceDir` with a STRING
    * `valueCol`, folded per micro-batch into the distinct-count state
    * under `stateDir`; entry-time guards are [[FoldStateStore.ingest]]'s. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, valueCol: String = "value",
      lgK: Int = DefaultLgK, maxFilesPerTrigger: Int = 0): StreamingQuery = {
    require(lgK >= 4 && lgK <= 21,
      s"lgK must be in the sketch's supported [4, 21], got $lgK")
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add(valueCol, StringType), maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, lgK, valueCol),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, lgK, ckptId, batch, valueCol, batchId)
          () })
  }

  /** Cross-cluster merge — the cardinality face of
    * [[StreamingMoments.mergeStates]]: union ≥ 2 independently-folded
    * distinct states (one regional ingest each, SAME (lgK, valueCol))
    * into one state under `outDir`. The HLL union is the semilattice
    * the fold itself runs on, so the merged registers EQUAL what one
    * cluster sketching every region's arrivals would hold — the global
    * distinct estimate from per-region O(2^lgK) states, no data
    * movement, duplicates across regions counted once by construction.
    * Exact row/null counters add (they count ARRIVALS per region). Same
    * contract: locked input reads, every input folded, a synthetic
    * `merged:[...]` checkpoint that trips the ingest binding, no
    * clobbering. */
  def mergeStates(spark: SparkSession, inDirs: Seq[String],
      outDir: String): DistinctSnapshot =
    store.merge(spark, inDirs, outDir, "global cardinality") {
      (states, ckpt, lastId) =>
        val (lgK, valueCol) = sameLgKCol(states.map(s => (s.lgK, s.valueCol)))
        DistinctSnapshot(lgK, valueCol, ckpt, lastId,
          states.map(_.nRows).sum, states.map(_.nNull).sum,
          states.map(_.sketch).reduce(unionSketches(lgK, _, _)))
    }

  /** The merge binding refusal shared with the grouped fold: every
    * input must carry the same (lgK, valueCol). */
  private[streaming] def sameLgKCol(
      bindings: Seq[(Int, String)]): (Int, String) =
    StateMerge.sameBinding("(lgK, valueCol) bindings", bindings,
      (b: (Int, String)) => s"(lgK=${b._1}, '${b._2}')",
      "sketches of different columns cannot be unioned meaningfully and " +
        "mixed precisions degrade silently; merge only states folded " +
        "with the same binding")

  /** The batch twin, for cross-checks: the one-shot sketch over a corpus
    * — by the HLL semilattice its registers EQUAL the fold's union on a
    * drained stream, so the twin's estimate equals the fold's, exactly
    * (not approximately: same registers, same estimator). Returns
    * (nRows, nNull, sketchBytes). */
  def batchSketch(df: DataFrame, valueCol: String,
      lgK: Int = DefaultLgK): (Long, Long, Array[Byte]) = {
    val v = col("`" + valueCol.replace("`", "``") + "`")
    val r = df.agg(count(lit(1)).as("n_rows"), count(v).as("n"),
      hll_sketch_agg(v, lit(lgK)).as("sk")).head()
    // same no-values rule as the fold: n == 0 -> no sketch
    val bytes =
      if (r.getLong(1) == 0L || r.isNullAt(2)) Array.empty[Byte]
      else r.getAs[Array[Byte]](2)
    (r.getLong(0), r.getLong(0) - r.getLong(1), bytes)
  }

  /** Estimate from raw sketch bytes (None on an empty sketch). */
  def estimateOf(bytes: Array[Byte]): Option[Double] =
    if (bytes.isEmpty) None
    else Some(HllSketch.heapify(Memory.wrap(bytes)).getEstimate)

  /** CANONICAL estimate for fold-vs-one-shot comparisons: push the
    * sketch through a Union first. A one-shot sketch answers with the
    * HIP estimator while a union result answers with the composite
    * estimator — same registers, different estimator — so comparing a
    * folded (unioned) sketch against a fresh one-shot twin raw would
    * show phantom dense-mode drift. Canonicalizing BOTH sides to the
    * union's composite estimator makes the comparison a pure function of
    * the registers, which the HLL semilattice guarantees equal on a
    * drained stream. The verify face and the specs compare THIS. */
  def canonicalEstimate(lgK: Int, bytes: Array[Byte]): Option[Double] =
    if (bytes.isEmpty) None
    else {
      val u = new Union(lgK)
      u.update(HllSketch.heapify(Memory.wrap(bytes)))
      Some(u.getResult(TgtHllType.HLL_8).getCompositeEstimate)
    }
}
