package graft.streaming

import graft.operators.Profile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, LongType, StructType}

/** Streaming exact co-moments — the bivariate face of the streaming
  * profiling family (frequencies: the MG folds; quantiles: the exact
  * histograms; a standing uniform sample: the bottom-k folds; univariate
  * moments: [[StreamingMoments]]; cardinality: the HLL folds; this: the
  * exact running pair statistics of TWO integral value columns). A
  * long-lived ingest pipeline exposes the running RELATIONSHIP between
  * two size columns — chars vs tokens, bytes vs chars, tokens vs
  * sentences — without a corpus rescan: the derived covariance /
  * Pearson correlation is the natural drift monitor for a RATIO (a
  * chars-per-token compression ratio that walks away from its band says
  * the tokenizer's input mix changed even while each marginal mean
  * stays put).
  *
  * Exactness is total, not approximate-with-a-bound: the per-batch
  * aggregate is [[Profile.comoments]]'s arithmetic verbatim (ONE shared
  * definition — counts/min/max as long, the five sums as decimal(38,0)
  * over the long-cast values, pairwise-complete semantics), and the fold
  * is the co-moments semilattice — counts add, min/min, max/max, exact
  * integer sums add (BigInt in the state, so no overflow at ANY stream
  * length). No estimator, no error term; the folded state after any
  * number of micro-batches EQUALS the one-shot batch aggregate over
  * everything folded, and DuckDB replays it with HUGEINT arithmetic —
  * which makes exactly-once hash-checkable end to end. Covariance and
  * correlation are DERIVED FP views computed from the exact sums at read
  * time, never folded.
  *
  * State file, exactly-once and entry-time guards: [[FoldStateStore]].
  * The bindings are the checkpoint and BOTH COLUMN NAMES: folding a
  * different pair, or the same pair SWAPPED, into one state would
  * silently produce the co-moments of neither ordering, so the ordered
  * (x, y) pair is part of the state's identity.
  *
  * 100 TB/day posture: per batch ONE map-side-combined aggregate
  * collapsing to a single row (partials are thirteen counters per task —
  * no shuffle of rows, no per-key state), one O(1) driver fold, one O(1)
  * state file — at any stream length. Rows missing either value are
  * EXCLUDED from the pair stats but exactly counted per axis
  * (n_null_x / n_null_y), so one column rotting to NULL is visible on
  * the envelope, not silently thinning the pair sample. */
object StreamingComoments {

  /** The exact folded co-moments of one group/stream: row count, per-axis
    * null counts, and — meaningful only when n > 0 (n = pairwise-complete
    * rows) — per-axis min/max and the five exact integer sums. BigInt
    * sums: exact at any stream length (the per-batch decimal(38,0) legs
    * each fit 38 digits; the fold itself is unbounded). */
  case class Comoments(nRows: Long, nNullX: Long, nNullY: Long, n: Long,
      xMin: Long, xMax: Long, yMin: Long, yMax: Long,
      xSum: BigInt, ySum: BigInt, xSumSq: BigInt, ySumSq: BigInt,
      xySum: BigInt) {
    /** Derived FP view: mean of x over the pairwise-complete rows. */
    def meanX: Option[Double] =
      if (n <= 0L) None else Some((BigDecimal(xSum) / BigDecimal(n)).toDouble)
    /** Derived FP view: mean of y over the pairwise-complete rows. */
    def meanY: Option[Double] =
      if (n <= 0L) None else Some((BigDecimal(ySum) / BigDecimal(n)).toDouble)
    /** The exact INTEGER co-moment identities, the basis of both derived
      * views: (n·Σxy − Σx·Σy, n·Σx² − (Σx)², n·Σy² − (Σy)²) computed
      * entirely in BigInt — unbounded precision, so the subtractions
      * cancel EXACT operands (BigDecimal's default DECIMAL128 context
      * would round each product to 34 significant digits first, and a
      * near-zero covariance on a long-enough stream would then be the
      * difference of two ROUNDED numbers — the cancellation pitfall the
      * exact-sums design exists to rule out). */
    private def covVarTerms: (BigInt, BigInt, BigInt) = {
      val nb = BigInt(n)
      (nb * xySum - xSum * ySum,
        nb * xSumSq - xSum * xSum,
        nb * ySumSq - ySum * ySum)
    }
    /** Derived FP view: POPULATION covariance — the exact BigInt
      * numerator (n·Σxy − Σx·Σy) over n², one rounding at the final
      * division. */
    def covariancePop: Option[Double] =
      if (n <= 0L) None
      else {
        val (cov, _, _) = covVarTerms
        Some((BigDecimal(cov) / (BigDecimal(n) * BigDecimal(n))).toDouble)
      }
    /** Derived FP view: Pearson correlation, via the exact integer
      * identity (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²)) —
      * numerator and denominator-squared are EXACT BigInts (see
      * [[covVarTerms]]); the only roundings are the final conversions
      * into the one FP quotient. None when either side is constant
      * (zero variance: correlation undefined — never NaN). */
    def correlation: Option[Double] =
      if (n <= 0L) None
      else {
        val (cov, vx, vy) = covVarTerms
        if (vx <= 0 || vy <= 0) None
        else {
          // √(vx·vy) via the exact product's BigDecimal square root
          // (unlimited-precision input, rounding only at the DECIMAL128
          // root itself) — vx.toDouble · vy.toDouble could each
          // overflow Double separately long before the RATIO is extreme
          val denom = BigDecimal(vx * vy)
            .bigDecimal.sqrt(java.math.MathContext.DECIMAL128)
          Some((BigDecimal(cov) / BigDecimal(denom)).toDouble)
        }
      }
  }

  /** The semilattice merge: counts add, min/min, max/max, exact sums
    * add. Empty legs (n == 0) are identity elements for min/max. */
  private[streaming] def mergeComoments(a: Comoments, b: Comoments): Comoments = {
    def mn(an: Long, bn: Long) =
      if (a.n == 0L) bn else if (b.n == 0L) an else math.min(an, bn)
    def mx(an: Long, bn: Long) =
      if (a.n == 0L) bn else if (b.n == 0L) an else math.max(an, bn)
    Comoments(a.nRows + b.nRows, a.nNullX + b.nNullX, a.nNullY + b.nNullY,
      a.n + b.n,
      mn(a.xMin, b.xMin), mx(a.xMax, b.xMax),
      mn(a.yMin, b.yMin), mx(a.yMax, b.yMax),
      a.xSum + b.xSum, a.ySum + b.ySum,
      a.xSumSq + b.xSumSq, a.ySumSq + b.ySumSq, a.xySum + b.xySum)
  }

  private[streaming] val emptyComoments =
    Comoments(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
      BigInt(0), BigInt(0), BigInt(0), BigInt(0), BigInt(0))

  /** Folded state: the ORDERED column pair it was folded over (part of
    * the state's identity — see the class scaladoc), the checkpoint
    * binding, last applied micro-batch id, and the exact co-moments. */
  case class ComomentsSnapshot(xCol: String, yCol: String,
      checkpoint: String, lastBatchId: Long, comoments: Comoments)

  /** JSON field writer shared with the grouped fold — sums as STRINGS
    * (exact integers of unbounded width; a JSON double would silently
    * round past 2^53), pair stats only when n > 0 (no phantom fields on
    * a pairless fold). */
  private[graft] def putComoments(
      into: com.fasterxml.jackson.databind.node.ObjectNode,
      m: Comoments): Unit = {
    into.put("n_rows", m.nRows)
    into.put("n_null_x", m.nNullX)
    into.put("n_null_y", m.nNullY)
    into.put("n", m.n)
    if (m.n > 0L) {
      into.put("x_min", m.xMin)
      into.put("x_max", m.xMax)
      into.put("y_min", m.yMin)
      into.put("y_max", m.yMax)
      into.put("x_sum", m.xSum.toString)
      into.put("y_sum", m.ySum.toString)
      into.put("x_sum_sq", m.xSumSq.toString)
      into.put("y_sum_sq", m.ySumSq.toString)
      into.put("xy_sum", m.xySum.toString)
    }
  }

  private[streaming] def parseComoments(
      node: com.fasterxml.jackson.databind.JsonNode): Comoments = {
    val nRows = node.get("n_rows").asLong()
    val nNullX = node.get("n_null_x").asLong()
    val nNullY = node.get("n_null_y").asLong()
    val n = node.get("n").asLong()
    if (n > 0L)
      Comoments(nRows, nNullX, nNullY, n,
        node.get("x_min").asLong(), node.get("x_max").asLong(),
        node.get("y_min").asLong(), node.get("y_max").asLong(),
        BigInt(node.get("x_sum").asText()),
        BigInt(node.get("y_sum").asText()),
        BigInt(node.get("x_sum_sq").asText()),
        BigInt(node.get("y_sum_sq").asText()),
        BigInt(node.get("xy_sum").asText()))
    else Comoments(nRows, nNullX, nNullY, n, 0L, 0L, 0L, 0L,
      BigInt(0), BigInt(0), BigInt(0), BigInt(0), BigInt(0))
  }

  private val store = new FoldStateStore[ComomentsSnapshot](
    "comoments state", "comoments_state.json",
    Seq("x_col", "y_col", "checkpoint"),
    ComomentsSnapshot("", "", "", -1L, emptyComoments), _.lastBatchId,
    _.checkpoint,
    encode = (root, snap) => {
      root.put("x_col", snap.xCol)
      root.put("y_col", snap.yCol)
      root.put("checkpoint", snap.checkpoint)
      root.put("batch_id", snap.lastBatchId)
      putComoments(root, snap.comoments)
    },
    decode = node => ComomentsSnapshot(node.get("x_col").asText(),
      node.get("y_col").asText(), node.get("checkpoint").asText(),
      node.get("batch_id").asLong(), parseComoments(node)))

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol); absent
    * file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession, stateDir: String): ComomentsSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): ComomentsSnapshot =
    store.readLocked(spark, stateDir)

  private[streaming] def checkStateBindings(st: ComomentsSnapshot,
      stateDir: String, checkpoint: String, xCol: String,
      yCol: String): Unit = {
    if (st.lastBatchId < 0L) return
    store.checkCheckpoint(st, stateDir, checkpoint)
    if (st.xCol != xCol || st.yCol != yCol)
      throw new IllegalStateException(
        s"comoments state at $stateDir was folded over the ordered pair " +
          s"('${st.xCol}', '${st.yCol}') but this stream folds " +
          s"('$xCol', '$yCol') — the mixed state would be the co-moments " +
          "of neither pair (a swapped pair silently transposes every " +
          "x/y statistic). Use a fresh state dir to profile a different " +
          "pair")
  }

  /** One batch-aggregate output row -> [[Comoments]] — ONE decode shared
    * by the flat fold, the grouped fold, and [[batchComoments]]. Expects
    * the trailing thirteen [[Profile.comoments]] columns starting at
    * `off`: (n_rows, n, n_null_x, n_null_y, xmin, xmax, ymin, ymax,
    * xsum, ysum, xsum_sq, ysum_sq, xysum). A NULL decimal sum with n > 0
    * means the per-batch decimal(38,0) leg overflowed — refuse loudly
    * rather than folding a wrapped number. */
  private[graft] def comomentsFromRow(r: Row, off: Int,
      where: String): Comoments = {
    val nRows = r.getLong(off)
    val n = r.getLong(off + 1)
    val nNullX = r.getLong(off + 2)
    val nNullY = r.getLong(off + 3)
    if (n == 0L) Comoments(nRows, nNullX, nNullY, 0L, 0L, 0L, 0L, 0L,
      BigInt(0), BigInt(0), BigInt(0), BigInt(0), BigInt(0))
    else {
      if ((8 to 12).exists(i => r.isNullAt(off + i)))
        throw new IllegalStateException(
          s"$where: a batch sum overflowed decimal(38,0) — a single " +
            "micro-batch summing past 1e38 is outside the fold's exact " +
            "envelope; split the batch (smaller maxFilesPerTrigger)")
      Comoments(nRows, nNullX, nNullY, n,
        r.getLong(off + 4), r.getLong(off + 5),
        r.getLong(off + 6), r.getLong(off + 7),
        BigInt(r.getDecimal(off + 8).toBigInteger),
        BigInt(r.getDecimal(off + 9).toBigInteger),
        BigInt(r.getDecimal(off + 10).toBigInteger),
        BigInt(r.getDecimal(off + 11).toBigInteger),
        BigInt(r.getDecimal(off + 12).toBigInteger))
    }
  }

  /** Apply ONE micro-batch of (x, y) rows to the persisted state: skip if
    * already applied, else merge the batch's exact co-moments in.
    * Package-visible so idempotence and bindings are directly testable. */
  private[streaming] def applyBatch(spark: SparkSession, stateDir: String,
      checkpoint: String, batch: DataFrame, xCol: String, yCol: String,
      batchId: Long): ComomentsSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, xCol, yCol),
      st => {
        // ONE aggregate, ONE row back — Profile.comoments IS the
        // per-batch arithmetic, so the stream and the batch twin cannot
        // drift
        val bm = comomentsFromRow(
          Profile.comoments(batch, xCol, yCol).head(), 0,
          s"comoments fold at $stateDir (batch $batchId)")
        ComomentsSnapshot(xCol, yCol, checkpoint, batchId,
          mergeComoments(st.comoments, bm))
      })

  /** Start the stream: parquet arrivals under `sourceDir` with LONG
    * `xCol`/`yCol`, folded per micro-batch into the co-moments state
    * under `stateDir`; entry-time guards are [[FoldStateStore.ingest]]'s. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, xCol: String = "x", yCol: String = "y",
      maxFilesPerTrigger: Int = 0): StreamingQuery = {
    require(xCol != yCol,
      s"comoments of a column with itself ('$xCol') are the univariate " +
        "moments — use StreamingMoments for that profile")
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add(xCol, LongType).add(yCol, LongType),
      maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, xCol, yCol),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, ckptId, batch, xCol, yCol, batchId)
          () })
  }

  /** Cross-cluster merge — the bivariate face of
    * [[StreamingMoments.mergeStates]]: combine ≥ 2 independently-folded
    * co-moments states (one regional ingest each) into one state under
    * `outDir`, exactly (the fold is a semilattice; the merged state
    * EQUALS a single cluster's fold over everything). Same contract:
    * locked input reads, every input folded, the same ORDERED column
    * pair, a synthetic `merged:[...]` checkpoint that trips the ingest
    * binding, no clobbering. */
  def mergeStates(spark: SparkSession, inDirs: Seq[String],
      outDir: String): ComomentsSnapshot =
    store.merge(spark, inDirs, outDir, "global profile") {
      (states, ckpt, lastId) =>
        val (xCol, yCol) = samePair(states.map(s => (s.xCol, s.yCol)))
        ComomentsSnapshot(xCol, yCol, ckpt, lastId,
          states.map(_.comoments).reduce(mergeComoments))
    }

  /** The merge binding refusal shared with the grouped fold: every
    * input must fold the same ORDERED column pair. */
  private[streaming] def samePair(
      pairs: Seq[(String, String)]): (String, String) =
    StateMerge.sameBinding("ordered column pairs", pairs,
      (p: (String, String)) => s"('${p._1}', '${p._2}')",
      "the merged state would be the co-moments of neither; merge only " +
        "states folded over the same pair")

  /** The batch twin, for cross-checks: [[Profile.comoments]] one-shot
    * over a corpus — the co-moments the folded state must EQUAL on a
    * drained stream. */
  def batchComoments(df: DataFrame, xCol: String, yCol: String): Comoments =
    comomentsFromRow(Profile.comoments(df, xCol, yCol).head(), 0,
      "batchComoments")

  /** The folded state as a one-row relation — counts/min/max as long,
    * the five exact sums as decimal(38,0). Schema matches
    * [[Profile.comoments]], so a folded stream and the batch operator
    * are directly comparable (and oracle-replayable)
    * relation-to-relation. */
  def toDF(spark: SparkSession, st: ComomentsSnapshot): DataFrame = {
    val m = st.comoments
    val schema = new StructType()
      .add("n_rows", LongType).add("n", LongType)
      .add("n_null_x", LongType).add("n_null_y", LongType)
      .add("xmin", LongType).add("xmax", LongType)
      .add("ymin", LongType).add("ymax", LongType)
      .add("xsum", DecimalType(38, 0)).add("ysum", DecimalType(38, 0))
      .add("xsum_sq", DecimalType(38, 0)).add("ysum_sq", DecimalType(38, 0))
      .add("xysum", DecimalType(38, 0))
    def dec(v: BigInt) = new java.math.BigDecimal(v.bigInteger)
    val row =
      if (m.n == 0L) Row(m.nRows, m.n, m.nNullX, m.nNullY,
        null, null, null, null, null, null, null, null, null)
      else Row(m.nRows, m.n, m.nNullX, m.nNullY,
        m.xMin, m.xMax, m.yMin, m.yMax,
        dec(m.xSum), dec(m.ySum), dec(m.xSumSq), dec(m.ySumSq), dec(m.xySum))
    spark.createDataFrame(java.util.Arrays.asList(row), schema)
  }
}
