package graft.streaming

import graft.operators.Profile
import graft.streaming.StreamingComoments.{comomentsFromRow, mergeComoments, Comoments}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructType}

/** Per-group streaming exact co-moments — the grouped face of
  * [[StreamingComoments]], completing the bivariate square the way the
  * other profiling members complete theirs (flat/grouped ×
  * batch/stream): a long-lived ingest pipeline exposing the RUNNING
  * per-source pair profile (counts/per-axis nulls/min/max/exact sums,
  * covariance and correlation derived) of two integral columns — the
  * per-stratum ratio-drift monitor a mixed-corpus pipeline actually
  * reads (a global chars-per-token correlation hides one source's
  * tokenizer regression behind another's stability).
  *
  * Per micro-batch: ONE grouped aggregate ([[Profile.comoments]]'s
  * arithmetic per group — the shared definition, so the four corners of
  * the square cannot drift), its ≤ groups-row result collected bounded
  * by the group cap, then a driver-side per-group
  * [[StreamingComoments.mergeComoments]] fold. Groups never mix, so the
  * flat fold's exactness argument applies group-pointwise: each group's
  * folded co-moments EQUAL [[Profile.comomentsPerGroup]]'s row over
  * everything folded, and DuckDB replays every group with HUGEINT
  * arithmetic.
  *
  * Boundedness is the family's CAP DISCIPLINE
  * ([[StreamingGroupedHeavyHitters]]): within a group the state is
  * thirteen numbers, but the GROUP dimension grows with the data — so
  * the state is bounded by `maxGroups` and the fold REFUSES LOUDLY
  * (with lower-bound phrasing off the truncating head probe) when the
  * merged group count would exceed it. A per-document-cardinality key
  * belongs on the batch [[Profile.comomentsPerGroup]] path.
  *
  * Null keys, both axes: null GROUP rows are excluded from the fold (no
  * identity to profile under — the batch face's rule) but tallied in
  * `excludedNullRows` within the same single pass; rows missing either
  * VALUE inside a group ride that group's own exact n_null_x/n_null_y.
  * State file and exactly-once: [[FoldStateStore]]; the bindings are
  * (checkpoint, xCol, yCol), the flat fold's ordered-pair identity.
  *
  * 100 TB/day posture: per batch one grouped map-side-combined aggregate
  * (partials are thirteen counters per group per task), one ≤ maxGroups
  * driver fold, one O(groups) state file — no per-key state beyond the
  * capped group dimension, at any stream length. */
object StreamingGroupedComoments {

  /** Folded grouped state: the flat fold's binding fields plus
    * group -> [[StreamingComoments.Comoments]] and the
    * excluded-null-group-row counter (observability, not a binding
    * field). */
  case class GroupedComomentsSnapshot(xCol: String, yCol: String,
      checkpoint: String, lastBatchId: Long, groups: Map[String, Comoments],
      excludedNullRows: Long)

  /** Default group cap — the grouped-family default
    * ([[StreamingGroupedHeavyHitters.DefaultMaxGroups]] rationale). */
  val DefaultMaxGroups: Int = 10000

  private val store = new FoldStateStore[GroupedComomentsSnapshot](
    "grouped comoments state", "comoments_grouped_state.json",
    Seq("x_col", "y_col", "checkpoint"),
    GroupedComomentsSnapshot("", "", "", -1L, Map.empty, 0L),
    _.lastBatchId, _.checkpoint,
    encode = (root, snap) => {
      root.put("x_col", snap.xCol)
      root.put("y_col", snap.yCol)
      root.put("checkpoint", snap.checkpoint)
      root.put("batch_id", snap.lastBatchId)
      root.put("excluded_null_rows", snap.excludedNullRows)
      val gs = root.putObject("groups")
      // sorted for a stable file layout (diffable, digest-friendly)
      snap.groups.toSeq.sortBy(_._1).foreach { case (g, m) =>
        StreamingComoments.putComoments(gs.putObject(g), m)
      }
    },
    decode = node => {
      val groups = Map.newBuilder[String, Comoments]
      val git = node.get("groups").fields()
      while (git.hasNext) {
        val ge = git.next()
        groups += ge.getKey -> StreamingComoments.parseComoments(ge.getValue)
      }
      GroupedComomentsSnapshot(node.get("x_col").asText(),
        node.get("y_col").asText(), node.get("checkpoint").asText(),
        node.get("batch_id").asLong(), groups.result(),
        node.get("excluded_null_rows").asLong())
    })

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol); absent
    * file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession,
      stateDir: String): GroupedComomentsSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): GroupedComomentsSnapshot =
    store.readLocked(spark, stateDir)

  private[streaming] def checkStateBindings(st: GroupedComomentsSnapshot,
      stateDir: String, checkpoint: String, xCol: String,
      yCol: String): Unit = {
    if (st.lastBatchId < 0L) return
    store.checkCheckpoint(st, stateDir, checkpoint)
    if (st.xCol != xCol || st.yCol != yCol)
      throw new IllegalStateException(
        s"grouped comoments state at $stateDir was folded over the " +
          s"ordered pair ('${st.xCol}', '${st.yCol}') but this stream " +
          s"folds ('$xCol', '$yCol') — the mixed state would be the " +
          "co-moments of neither pair. Use a fresh state dir to profile " +
          "a different pair")
  }

  /** Apply ONE micro-batch of (group, x, y) rows: skip if already
    * applied, else fold each group's exact batch co-moments into its
    * state entry. Package-visible so the idempotence, binding, and
    * group-cap rules are directly testable. */
  private[streaming] def applyBatch(spark: SparkSession, stateDir: String,
      maxGroups: Int, checkpoint: String, batch: DataFrame,
      groupCol: String, xCol: String, yCol: String,
      batchId: Long): GroupedComomentsSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, xCol, yCol),
      st => {
        // groupBy KEEPS the null group as its own row (unlike the batch
        // face's filtered join-shape), so the excluded-row count rides the
        // SAME single pass — its n_rows IS the batch's excluded tally
        val g = col("`" + groupCol.replace("`", "``") + "`")
        val aggs = Profile.comomentsAggs(xCol, yCol)
        val grouped = batch.groupBy(g.as("__group"))
          .agg(aggs.head, aggs.tail: _*)
        // bounded collect: head(cap + 2) — the null group (at most one row)
        // must not displace a real group at the probe boundary; a batch
        // whose own real-group count exceeds the cap can never fold into a
        // capped state, so the probe both bounds the driver allocation and
        // detects the refusal case
        val rows = grouped.head(maxGroups + 2)
        val (nullRows, realRows) = rows.partition(_.isNullAt(0))
        val excludedThisBatch =
          nullRows.headOption.map(_.getLong(1)).getOrElse(0L)
        val merged = scala.collection.mutable.Map.empty[String, Comoments]
        merged ++= st.groups
        realRows.foreach { r =>
          val grp = r.getString(0)
          val bm = comomentsFromRow(r, 1,
            s"grouped comoments fold at $stateDir (batch $batchId, " +
              s"group '$grp')")
          merged.put(grp,
            mergeComoments(
              merged.getOrElse(grp, StreamingComoments.emptyComoments), bm))
        }
        if (merged.size > maxGroups) {
          // the head probe TRUNCATES the batch's group relation, so when it
          // came back full `merged.size` is only a LOWER BOUND on the real
          // cardinality
          val atLeast = if (rows.length >= maxGroups + 2) "at least " else ""
          throw new IllegalStateException(
            s"grouped comoments state at $stateDir would hold " +
              s"$atLeast${merged.size} groups, past maxGroups=$maxGroups — " +
              "the state file (and the per-batch driver fold) is bounded " +
              "BY this cap. Raise maxGroups if the group key is genuinely " +
              "this wide and the driver can hold it, or coarsen the group " +
              "key; a per-document-cardinality key belongs on the batch " +
              "comomentsPerGroup path, not a driver-side state file. Batch " +
              "NOT applied; the stream should be stopped and re-planned")
        }
        GroupedComomentsSnapshot(xCol, yCol, checkpoint, batchId,
          merged.toMap, st.excludedNullRows + excludedThisBatch)
      })

  /** Start the stream: parquet arrivals under `sourceDir` with a STRING
    * `groupCol` and LONG `xCol`/`yCol`, folded per micro-batch into the
    * grouped co-moments state under `stateDir`. Same single-stream
    * contract and entry-time guards as the rest of the family. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, groupCol: String = "source",
      xCol: String = "x", yCol: String = "y", maxFilesPerTrigger: Int = 0,
      maxGroups: Int = DefaultMaxGroups): StreamingQuery = {
    require(maxGroups > 0, s"maxGroups must be positive, got $maxGroups")
    require(xCol != yCol,
      s"comoments of a column with itself ('$xCol') are the univariate " +
        "moments — use StreamingGroupedMoments for that profile")
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add(groupCol, StringType).add(xCol, LongType)
        .add(yCol, LongType),
      maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, xCol, yCol),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, maxGroups, ckptId, batch, groupCol,
            xCol, yCol, batchId); () })
  }

  /** Cross-cluster merge — the grouped bivariate face of
    * [[StreamingMoments.mergeStates]]: union of the regional group maps
    * with colliding groups merged exactly (the flat semilattice applied
    * group-pointwise), excluded-null counters added, under the family's
    * cap discipline (the union can be wider than any one region). Same
    * contract: locked input reads, every input folded, the same ORDERED
    * column pair, a synthetic `merged:[...]` checkpoint, no clobbering. */
  def mergeStates(spark: SparkSession, inDirs: Seq[String], outDir: String,
      maxGroups: Int = DefaultMaxGroups): GroupedComomentsSnapshot =
    store.merge(spark, inDirs, outDir, "global profile") {
      (states, ckpt, lastId) =>
        val (xCol, yCol) = StreamingComoments.samePair(states.map(s =>
          (s.xCol, s.yCol)))
        val groups = scala.collection.mutable.Map.empty[String, Comoments]
        states.foreach { st =>
          st.groups.foreach { case (g, m) =>
            groups.put(g, mergeComoments(
              groups.getOrElse(g, StreamingComoments.emptyComoments), m))
          }
        }
        StateMerge.checkMergedGroupCap("grouped comoments state",
          groups.size, maxGroups)
        GroupedComomentsSnapshot(xCol, yCol, ckpt, lastId, groups.toMap,
          states.map(_.excludedNullRows).sum)
    }

  /** The folded state as a (group, n_rows, n, n_null_x, n_null_y, xmin,
    * xmax, ymin, ymax, xsum, ysum, xsum_sq, ysum_sq, xysum) relation,
    * ordered by group — schema-aligned with
    * [[Profile.comomentsPerGroup]] so the fold and the batch face are
    * directly comparable (and oracle-replayable). */
  def toDF(spark: SparkSession, st: GroupedComomentsSnapshot): DataFrame = {
    val schema = new StructType()
      .add("group", StringType)
      .add("n_rows", LongType).add("n", LongType)
      .add("n_null_x", LongType).add("n_null_y", LongType)
      .add("xmin", LongType).add("xmax", LongType)
      .add("ymin", LongType).add("ymax", LongType)
      .add("xsum", DecimalType(38, 0)).add("ysum", DecimalType(38, 0))
      .add("xsum_sq", DecimalType(38, 0)).add("ysum_sq", DecimalType(38, 0))
      .add("xysum", DecimalType(38, 0))
    def dec(v: BigInt) = new java.math.BigDecimal(v.bigInteger)
    val rows: Seq[Row] = st.groups.toSeq.sortBy(_._1).map { case (g, m) =>
      if (m.n == 0L) Row(g, m.nRows, m.n, m.nNullX, m.nNullY,
        null, null, null, null, null, null, null, null, null)
      else Row(g, m.nRows, m.n, m.nNullX, m.nNullY,
        m.xMin, m.xMax, m.yMin, m.yMax,
        dec(m.xSum), dec(m.ySum), dec(m.xSumSq), dec(m.ySumSq), dec(m.xySum))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
