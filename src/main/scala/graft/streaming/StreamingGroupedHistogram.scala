package graft.streaming

import graft.operators.HistogramSketch
import graft.operators.HistogramSketch.HistogramSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, StringType, StructType}

/** Per-group streaming exact histograms — the grouped face of
  * [[StreamingHistogram]], completing the quantile square the same way
  * [[StreamingGroupedHeavyHitters]] completed the frequency one: batch
  * flat (`percentile`/`percentile_approx`), batch grouped (the
  * `sketch_quantiles` per-event-type row), streaming flat
  * ([[StreamingHistogram]]), streaming grouped (this) — a long-lived
  * ingest pipeline exposing RUNNING per-source/per-event-type value
  * distributions and quantiles.
  *
  * Per micro-batch: ONE two-level aggregation — (group, bin) exact counts,
  * re-grouped to one row per group carrying its ≤ nBins+2 cells — then a
  * driver-side per-group vector ADDITION into the persisted state. Within
  * a group this is [[StreamingHistogram]]'s fold verbatim (the state IS
  * that group's batch histogram — exact, recount-free); the GROUP
  * dimension follows the grouped-MG cap discipline: state is bounded by
  * `maxGroups × (nBins+2)` cells and the fold REFUSES LOUDLY when the
  * merged group count would exceed `maxGroups` (a per-document-cardinality
  * key belongs on a batch groupBy, not a driver-side state file).
  *
  * Null group keys are excluded from the fold (a NULL can't be a JSON
  * field name, and per-group semantics have no "null group" answer) but
  * COUNTED — `excludedNullRows` rides the state and the REST envelope, so
  * a pipeline whose group column rots to NULL sees the thinning instead
  * of silence (the [[StreamingGroupedHeavyHitters]] r14 rule).
  *
  * State file and exactly-once: [[FoldStateStore]]; the bindings are
  * (checkpoint, binning).
  *
  * 100 TB/day posture: per batch one map-side-combined (group, bin) scan
  * (≤ nBins+2 keys per group per task), one ≤ groups × (nBins+2) driver
  * fold, one state-file write — no per-key state, no sort, no value
  * retention, at any stream length. */
object StreamingGroupedHistogram {

  /** One group's folded histogram: exact non-null value count and exact
    * sparse per-bin counts (-1 underflow, nBins overflow). */
  case class GroupHist(n: Long, bins: Map[Int, Long])

  /** Folded grouped state: binning + checkpoint bindings, last applied
    * batch id, group -> [[GroupHist]], and the excluded-null-rows
    * observability counter. */
  case class GroupedHistSnapshot(spec: HistogramSpec, checkpoint: String,
      lastBatchId: Long, groups: Map[String, GroupHist],
      excludedNullRows: Long) {
    /** Total state cells across groups (the boundedness measurable). */
    def totalCells: Int = groups.valuesIterator.map(_.bins.size).sum
  }

  /** Default group cap: with a ~2k-bin spec this bounds the state file
    * (and the per-batch driver fold) to ~2M cells worst-case — generous
    * for any realistic profiling key (sources, event types, languages);
    * raise it only with the driver sized for groups × (nBins+2). */
  val DefaultMaxGroups: Int = 1000

  private val store = new FoldStateStore[GroupedHistSnapshot](
    "grouped histogram state", "hist_grouped_state.json",
    Seq("lo", "hi", "n_bins", "checkpoint"),
    GroupedHistSnapshot(HistogramSpec(0.0, 1.0, 1), "", -1L, Map.empty, 0L),
    _.lastBatchId, _.checkpoint,
    encode = (root, snap) => {
      StreamingHistogram.putSpec(root, snap.spec)
      root.put("checkpoint", snap.checkpoint)
      root.put("batch_id", snap.lastBatchId)
      root.put("excluded_null_rows", snap.excludedNullRows)
      val gs = root.putObject("groups")
      snap.groups.toSeq.sortBy(_._1).foreach { case (g, gh) =>
        val gn = gs.putObject(g)
        gn.put("n", gh.n)
        StreamingHistogram.putBins(gn, gh.bins)
      }
    },
    decode = node => {
      val groups = Map.newBuilder[String, GroupHist]
      val git = node.get("groups").fields()
      while (git.hasNext) {
        val ge = git.next()
        groups += ge.getKey -> GroupHist(ge.getValue.get("n").asLong(),
          StreamingHistogram.parseBins(ge.getValue))
      }
      GroupedHistSnapshot(StreamingHistogram.parseSpec(node),
        node.get("checkpoint").asText(), node.get("batch_id").asLong(),
        groups.result(),
        Option(node.get("excluded_null_rows")).map(_.asLong())
          .getOrElse(0L))
    })

  /** Lock-free read (the [[graft.core.SwapStateFile.read]] protocol);
    * absent file = empty stream. Monitors should use [[readStateLocked]]. */
  def readState(spark: SparkSession, stateDir: String): GroupedHistSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): GroupedHistSnapshot =
    store.readLocked(spark, stateDir)

  /** Apply ONE micro-batch of (group, value) rows: skip if already
    * applied, else add each group's exact bin counts. Package-visible so
    * idempotence, bindings, and the group cap are directly testable. */
  private[streaming] def applyBatch(spark: SparkSession, stateDir: String,
      spec: HistogramSpec, maxGroups: Int, checkpoint: String,
      batch: DataFrame, groupCol: String, valueCol: String,
      batchId: Long): GroupedHistSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, spec),
      st => {
        // one pass: null-group rows are kept (ALL of them — their values,
        // null or not, are irrelevant) under a dummy bin so their count
        // rides the same aggregation; real groups bin non-null values only
        val perGroup = batch
          .select(col(groupCol).cast("string").as("g"),
            col(valueCol).cast("double").as("v"))
          .filter(col("g").isNull || col("v").isNotNull)
          .select(col("g"),
            when(col("g").isNull, lit(Int.MinValue))
              .otherwise(spec.binExpr(col("v"))).as("bin"))
          .groupBy("g", "bin").agg(count(lit(1)).as("cnt"))
          .groupBy("g")
          .agg(collect_list(struct(col("bin"), col("cnt"))).as("cells"),
            sum("cnt").as("n"))
        // bounded collect: the null group is at most one row, so cap + 2
        // both bounds the driver allocation and detects the refusal case
        val rows = perGroup.head(maxGroups + 2)
        val (nullRows, realRows) = rows.partition(_.isNullAt(0))
        val excludedThisBatch = nullRows.headOption.map(_.getLong(2)).getOrElse(0L)
        val merged = scala.collection.mutable.Map.empty[String, GroupHist]
        merged ++= st.groups
        realRows.foreach { r =>
          val g = r.getString(0)
          val prev = merged.getOrElse(g, GroupHist(0L, Map.empty))
          var bins = prev.bins
          var added = 0L
          r.getSeq[org.apache.spark.sql.Row](1).foreach { cell =>
            val bin = cell.getInt(0); val c = cell.getLong(1)
            bins = bins.updated(bin, bins.getOrElse(bin, 0L) + c)
            added += c
          }
          merged.put(g, GroupHist(prev.n + added, bins))
        }
        if (merged.size > maxGroups) {
          // the head probe truncates the batch's group relation: a full
          // probe means the count below is only a LOWER bound
          val atLeast = if (rows.length >= maxGroups + 2) "at least " else ""
          throw new IllegalStateException(
            s"grouped histogram state at $stateDir would hold " +
              s"$atLeast${merged.size} groups, past maxGroups=$maxGroups — " +
              "the state file (and the per-batch driver fold) is bounded " +
              "by groups x (nBins+2) BY this cap. Raise maxGroups if the " +
              "group key is genuinely this wide and the driver can hold " +
              "it, or coarsen the group key; a per-document-cardinality " +
              "key belongs on a batch groupBy, not a driver-side state " +
              "file. Batch NOT applied; the stream should be stopped and " +
              "re-planned")
        }
        GroupedHistSnapshot(spec, checkpoint, batchId,
          merged.toMap, st.excludedNullRows + excludedThisBatch)
      })

  /** The checkpoint/binning binding rules — [[StreamingHistogram]]'s rule
    * set, enforced at both chokepoints. */
  private[streaming] def checkStateBindings(st: GroupedHistSnapshot,
      stateDir: String, checkpoint: String, spec: HistogramSpec): Unit = {
    if (st.lastBatchId < 0L) return
    store.checkCheckpoint(st, stateDir, checkpoint)
    if (st.spec != spec)
      throw new IllegalStateException(
        s"grouped histogram state at $stateDir was folded with binning " +
          s"[${st.spec.lo}, ${st.spec.hi}) x ${st.spec.nBins} but this " +
          s"stream uses [${spec.lo}, ${spec.hi}) x ${spec.nBins} — " +
          "counts under one binning are meaningless under another. Use " +
          "a fresh state dir to change the binning")
  }

  /** Cross-cluster merge — the grouped quantile face of
    * [[StreamingMoments.mergeStates]]: union of the regional group maps
    * with colliding groups merged by exact bin-wise addition (the flat
    * histogram semilattice pointwise — counts are exact, so each
    * group's merged histogram EQUALS the single-cluster fold) and
    * per-group n added; excluded-null counters add. Same contract as
    * the flat face: locked input reads, every input folded, IDENTICAL
    * binning, a synthetic `merged:[...]` checkpoint that trips the
    * ingest binding, no clobbering — plus the family's cap discipline
    * on the UNION of the group sets. */
  def mergeStates(spark: SparkSession, inDirs: Seq[String], outDir: String,
      maxGroups: Int = DefaultMaxGroups): GroupedHistSnapshot =
    store.merge(spark, inDirs, outDir, "global histogram") {
      (states, ckpt, lastId) =>
        val spec = StreamingHistogram.sameSpec(states.map(_.spec))
        val groups = scala.collection.mutable.Map.empty[String, GroupHist]
        states.foreach { st =>
          st.groups.foreach { case (g, h) =>
            val prev = groups.getOrElse(g, GroupHist(0L, Map.empty))
            val bins = scala.collection.mutable.Map.empty[Int, Long]
            bins ++= prev.bins
            h.bins.foreach { case (b, c) =>
              bins.put(b, bins.getOrElse(b, 0L) + c) }
            groups.put(g, GroupHist(prev.n + h.n, bins.toMap))
          }
        }
        StateMerge.checkMergedGroupCap("grouped histogram state",
          groups.size, maxGroups)
        GroupedHistSnapshot(spec, ckpt, lastId, groups.toMap,
          states.map(_.excludedNullRows).sum)
    }

  /** Start the stream: parquet (group, value) arrivals under `sourceDir`,
    * folded per micro-batch into the grouped histogram state. Same
    * single-stream contract and entry-time guards as the family's other
    * ingests (blocklist + conf-gated functional FS probe, binding checks
    * before any checkpoint WAL). */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, spec: HistogramSpec,
      groupCol: String = "event_type", valueCol: String = "value",
      maxFilesPerTrigger: Int = 0,
      maxGroups: Int = DefaultMaxGroups): StreamingQuery = {
    require(maxGroups > 0, s"maxGroups must be positive, got $maxGroups")
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add(groupCol, StringType).add(valueCol, DoubleType),
      maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, spec),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, spec, maxGroups, ckptId, batch,
            groupCol, valueCol, batchId); () })
  }

  /** Per-group interpolated quantiles from an already-read snapshot:
    * (group, prob, estimate) rows via [[HistogramSketch.quantiles]] over
    * each group's exact counts, ordered (group asc, prob asc). */
  def quantilesFromSnapshot(st: GroupedHistSnapshot,
      probs: Seq[Double]): Seq[(String, Double, Double)] =
    st.groups.toSeq.sortBy(_._1).flatMap { case (g, gh) =>
      HistogramSketch.quantiles(st.spec, gh.bins, probs)
        .map { case (p, est) => (g, p, est) }
    }

  /** Per-group quantiles from the persisted state (lock-free read). */
  def quantilesFromState(spark: SparkSession, stateDir: String,
      probs: Seq[Double]): Seq[(String, Double, Double)] =
    quantilesFromSnapshot(readState(spark, stateDir), probs)
}
