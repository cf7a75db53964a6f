package graft.streaming

import graft.operators.Profile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, LongType, StructType}

/** Streaming exact moments — the fourth face of the streaming profiling
  * family (frequencies: the MG folds; quantiles: the exact-histogram
  * folds; a standing uniform sample: the bottom-k folds; this: the exact
  * running count/nulls/min/max/sum/sum-of-squares of one integral value
  * column). A long-lived ingest pipeline exposes the running numeric
  * profile — row and null counts, range, and the exact sums that mean and
  * variance derive from — without a corpus rescan; the natural drift
  * monitor for token/char/byte-size columns (a mean or std that walks
  * away from its band says the corpus mix changed).
  *
  * Exactness is total, not approximate-with-a-bound: the per-batch
  * aggregate is [[Profile.moments]]'s arithmetic verbatim (ONE shared
  * definition — counts/min/max as long, sums as decimal(38,0) over the
  * long-cast values), and the fold is the moments semilattice — counts
  * add, min/min, max/max, exact integer sums add (BigInt in the state, so
  * no overflow at ANY stream length). No estimator, no error term; the
  * folded state after any number of micro-batches EQUALS the one-shot
  * batch aggregate over everything folded, and DuckDB replays it with
  * HUGEINT arithmetic — which makes exactly-once hash-checkable end to
  * end (a dropped or double-applied batch changes an exact count). Mean /
  * population variance are DERIVED FP views computed from the exact sums
  * at read time, never folded.
  *
  * State file, exactly-once and entry-time guards: [[FoldStateStore]].
  * The bindings are the checkpoint and the VALUE COLUMN name: folding two
  * different columns into one state would silently produce the moments
  * of neither, so the folded column is part of the state's identity.
  *
  * 100 TB/day posture: per batch ONE map-side-combined aggregate
  * collapsing to a single row (partials are seven counters per task — no
  * shuffle of rows, no per-key state), one O(1) driver fold, one O(1)
  * state file — at any stream length. Null values are EXCLUDED from the
  * moments but exactly counted (n_null), so a value column rotting to
  * NULL is visible on the envelope, not silently thinning the profile. */
object StreamingMoments {

  /** The exact folded moments of one group/stream: row count, null-value
    * count, and — meaningful only when n > 0 (n = nRows - nNull) — min,
    * max, and the exact integer sums. BigInt sums: exact at any stream
    * length (the per-batch decimal(38,0) legs each fit 38 digits; the
    * fold itself is unbounded). */
  case class Moments(nRows: Long, nNull: Long, min: Long, max: Long,
      sum: BigInt, sumSq: BigInt) {
    /** Non-null value count — the moments' denominator. */
    def n: Long = nRows - nNull
    /** Derived FP view: mean of the non-null values. */
    def mean: Option[Double] =
      if (n <= 0L) None
      else Some((BigDecimal(sum) / BigDecimal(n)).toDouble)
    /** Derived FP view: POPULATION variance (sumSq/n - mean²), clamped at
      * zero (the exact value is ≥ 0; the FP division can dip below). */
    def variancePop: Option[Double] =
      if (n <= 0L) None
      else {
        val nd = BigDecimal(n)
        val v = (BigDecimal(sumSq) / nd) -
          (BigDecimal(sum) / nd).pow(2)
        Some(math.max(0.0, v.toDouble))
      }
    def stddevPop: Option[Double] = variancePop.map(math.sqrt)
  }

  /** The semilattice merge: counts add, min/min, max/max, exact sums
    * add. Empty legs (n == 0) are identity elements for min/max. */
  private[streaming] def mergeMoments(a: Moments, b: Moments): Moments = {
    val mn = if (a.n == 0L) b.min else if (b.n == 0L) a.min
      else math.min(a.min, b.min)
    val mx = if (a.n == 0L) b.max else if (b.n == 0L) a.max
      else math.max(a.max, b.max)
    Moments(a.nRows + b.nRows, a.nNull + b.nNull, mn, mx,
      a.sum + b.sum, a.sumSq + b.sumSq)
  }

  private[streaming] val emptyMoments =
    Moments(0L, 0L, 0L, 0L, BigInt(0), BigInt(0))

  /** Folded state: the value column it was folded OVER (part of the
    * state's identity — see the class scaladoc), the checkpoint binding,
    * last applied micro-batch id, and the exact moments. */
  case class MomentsSnapshot(valueCol: String, checkpoint: String,
      lastBatchId: Long, moments: Moments)

  /** JSON field writer shared with the grouped fold — sums as STRINGS
    * (they are exact integers of unbounded width; a JSON double would
    * silently round past 2^53), min/max only when n > 0 (no phantom
    * fields on an all-null fold). */
  private[graft] def putMoments(
      into: com.fasterxml.jackson.databind.node.ObjectNode,
      m: Moments): Unit = {
    into.put("n_rows", m.nRows)
    into.put("n_null", m.nNull)
    if (m.n > 0L) {
      into.put("min", m.min)
      into.put("max", m.max)
      into.put("sum", m.sum.toString)
      into.put("sum_sq", m.sumSq.toString)
    }
  }

  private[streaming] def parseMoments(
      node: com.fasterxml.jackson.databind.JsonNode): Moments = {
    val nRows = node.get("n_rows").asLong()
    val nNull = node.get("n_null").asLong()
    if (nRows - nNull > 0L)
      Moments(nRows, nNull, node.get("min").asLong(),
        node.get("max").asLong(), BigInt(node.get("sum").asText()),
        BigInt(node.get("sum_sq").asText()))
    else Moments(nRows, nNull, 0L, 0L, BigInt(0), BigInt(0))
  }

  private val store = new FoldStateStore[MomentsSnapshot](
    "moments state", "moments_state.json", Seq("value_col", "checkpoint"),
    MomentsSnapshot("", "", -1L, emptyMoments), _.lastBatchId,
    _.checkpoint,
    encode = (root, snap) => {
      root.put("value_col", snap.valueCol)
      root.put("checkpoint", snap.checkpoint)
      root.put("batch_id", snap.lastBatchId)
      putMoments(root, snap.moments)
    },
    decode = node => MomentsSnapshot(node.get("value_col").asText(),
      node.get("checkpoint").asText(), node.get("batch_id").asLong(),
      parseMoments(node)))

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol); absent
    * file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession, stateDir: String): MomentsSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): MomentsSnapshot =
    store.readLocked(spark, stateDir)

  private[streaming] def checkStateBindings(st: MomentsSnapshot,
      stateDir: String, checkpoint: String, valueCol: String): Unit = {
    if (st.lastBatchId < 0L) return
    store.checkCheckpoint(st, stateDir, checkpoint)
    if (st.valueCol != valueCol)
      throw new IllegalStateException(
        s"moments state at $stateDir was folded over column " +
          s"'${st.valueCol}' but this stream folds '$valueCol' — the " +
          "mixed state would be the moments of neither column. Use a " +
          "fresh state dir to profile a different column")
  }

  /** One batch-aggregate output row -> [[Moments]] — ONE decode shared by
    * the flat fold, the grouped fold, and [[batchMoments]]. Expects the
    * trailing seven [[Profile.moments]] columns starting at `off`:
    * (n_rows, n, n_null, vmin, vmax, vsum, vsum_sq). A NULL decimal sum
    * with n > 0 means the per-batch decimal(38,0) leg overflowed — refuse
    * loudly rather than folding a wrapped number. */
  private[graft] def momentsFromRow(r: Row, off: Int,
      where: String): Moments = {
    val nRows = r.getLong(off)
    val n = r.getLong(off + 1)
    val nNull = r.getLong(off + 2)
    if (n == 0L) Moments(nRows, nNull, 0L, 0L, BigInt(0), BigInt(0))
    else {
      if (r.isNullAt(off + 5) || r.isNullAt(off + 6))
        throw new IllegalStateException(
          s"$where: the batch sum overflowed decimal(38,0) — a single " +
            "micro-batch summing past 1e38 is outside the fold's exact " +
            "envelope; split the batch (smaller maxFilesPerTrigger)")
      Moments(nRows, nNull, r.getLong(off + 3), r.getLong(off + 4),
        BigInt(r.getDecimal(off + 5).toBigInteger),
        BigInt(r.getDecimal(off + 6).toBigInteger))
    }
  }

  /** Apply ONE micro-batch of values to the persisted state: skip if
    * already applied, else merge the batch's exact moments in. Package-
    * visible so idempotence and bindings are directly testable. */
  private[streaming] def applyBatch(spark: SparkSession, stateDir: String,
      checkpoint: String, batch: DataFrame, valueCol: String,
      batchId: Long): MomentsSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, valueCol),
      st => {
        // ONE aggregate, ONE row back — Profile.moments IS the per-batch
        // arithmetic, so the stream and the batch twin cannot drift
        val bm = momentsFromRow(
          Profile.moments(batch, valueCol).head(), 0,
          s"moments fold at $stateDir (batch $batchId)")
        MomentsSnapshot(valueCol, checkpoint, batchId,
          mergeMoments(st.moments, bm))
      })

  /** Start the stream: parquet arrivals under `sourceDir` with a LONG
    * `valueCol`, folded per micro-batch into the moments state under
    * `stateDir`; entry-time guards are [[FoldStateStore.ingest]]'s. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, valueCol: String = "value",
      maxFilesPerTrigger: Int = 0): StreamingQuery =
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add(valueCol, LongType), maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, valueCol),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, ckptId, batch, valueCol, batchId); () })

  /** The batch twin, for cross-checks: [[Profile.moments]] one-shot over
    * a corpus — the moments the folded state must EQUAL on a drained
    * stream. */
  def batchMoments(df: DataFrame, valueCol: String): Moments =
    momentsFromRow(Profile.moments(df, valueCol).head(), 0, "batchMoments")

  /** Cross-cluster merge: combine ≥ 2 independently-folded moments
    * states (each from its OWN stream/checkpoint — e.g. one regional
    * ingest cluster each) into one state under `outDir`. The fold is a
    * semilattice, so the merged state EQUALS what one cluster folding
    * everything would hold — exactly, no error term — which is the
    * 100 TB multi-region posture: each region folds its own arrivals
    * locally, a central merge (O(1) driver arithmetic, no data moves)
    * serves the global profile.
    *
    * Inputs are read LOCKED (a still-ingesting region contributes its
    * linearizable snapshot as of the merge). Every input must be folded
    * (an empty region is refused loudly: silently contributing nothing
    * would misreport the global profile as complete) and fold the SAME
    * value column. The output is a read-only ARTIFACT, not a fold
    * state: its checkpoint binding is the synthetic
    * `merged:[ckpt,...]`, which can never equal a real qualified
    * checkpoint path — so any attempt to ingest INTO it trips the
    * existing checkpoint binding refusal. An outDir already holding a
    * folded state is refused (merges never clobber). */
  def mergeStates(spark: SparkSession, inDirs: Seq[String],
      outDir: String): MomentsSnapshot =
    store.merge(spark, inDirs, outDir, "global profile") {
      (states, ckpt, lastId) =>
        MomentsSnapshot(sameValueCol(states.map(_.valueCol)), ckpt, lastId,
          states.map(_.moments).reduce(mergeMoments))
    }

  /** The merge binding refusal shared with the grouped fold: every
    * input must fold the same value column. */
  private[streaming] def sameValueCol(cols: Seq[String]): String =
    StateMerge.sameBinding("value columns", cols, (c: String) => s"'$c'",
      "the merged state would be the moments of neither; merge only " +
        "states folded over the same column")

  /** The folded state as a one-row relation — counts/min/max as long,
    * the exact sums as decimal(38,0) (loud on the astronomically-remote
    * overflow past 38 digits, never a wrapped long). Schema matches
    * [[Profile.moments]], so a folded stream and the batch operator are
    * directly comparable (and oracle-replayable) relation-to-relation. */
  def toDF(spark: SparkSession, st: MomentsSnapshot): DataFrame = {
    val m = st.moments
    val schema = new StructType()
      .add("n_rows", LongType).add("n", LongType).add("n_null", LongType)
      .add("vmin", LongType).add("vmax", LongType)
      .add("vsum", DecimalType(38, 0)).add("vsum_sq", DecimalType(38, 0))
    val row =
      if (m.n == 0L) Row(m.nRows, m.n, m.nNull, null, null, null, null)
      else Row(m.nRows, m.n, m.nNull, m.min, m.max,
        new java.math.BigDecimal(m.sum.bigInteger),
        new java.math.BigDecimal(m.sumSq.bigInteger))
    spark.createDataFrame(java.util.Arrays.asList(row), schema)
  }
}
