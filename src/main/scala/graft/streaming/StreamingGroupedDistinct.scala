package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructType}

/** Per-group streaming distinct-count — the grouped face of
  * [[StreamingDistinct]], completing the cardinality square the way the
  * other four profiling members complete theirs (flat/grouped ×
  * batch/stream; the batch corners are `count(DISTINCT …)` /
  * `approx_count_distinct` group-bys, already oracle-checked by the
  * `sketch_distinct` row): a long-lived ingest pipeline exposing the
  * RUNNING per-source distinct count — unique fingerprints per domain,
  * unique URLs per crawl stream — without a corpus rescan or a
  * per-distinct-value shuffle.
  *
  * Per micro-batch: ONE grouped `hll_sketch_agg` aggregation riding with
  * the exact per-group row/null counters (fixed-size sketch partials
  * merged map-side — the exchange carries sketches, never values), its
  * ≤ groups-row result collected bounded by the group cap, then a
  * driver-side per-group [[StreamingDistinct.unionSketches]] fold.
  * Groups never mix, so the flat fold's HLL-semilattice argument applies
  * group-pointwise. Boundedness is the family's cap discipline: state ≤
  * maxGroups × O(2^lgK) bytes under the loud `maxGroups` refusal
  * (lower-bound phrasing off the truncating head probe). Null group
  * rows are excluded-but-counted; null values ride each group's exact
  * `n_null`. State file and exactly-once: [[FoldStateStore]]; the
  * bindings are (checkpoint, lgK, valueCol).
  *
  * 100 TB/day posture: per batch one grouped sketch aggregate
  * (fixed-size partials per group per task), one ≤ maxGroups driver
  * union, one O(groups × 2^lgK) state file — independent of row volume
  * AND of per-group cardinality. */
object StreamingGroupedDistinct {

  /** One group's folded state: exact row/null counters + sketch bytes. */
  case class GroupDistinct(nRows: Long, nNull: Long, sketch: Array[Byte]) {
    def estimate: Option[Double] = StreamingDistinct.estimateOf(sketch)
    override def equals(o: Any): Boolean = o match {
      case that: GroupDistinct =>
        nRows == that.nRows && nNull == that.nNull &&
          java.util.Arrays.equals(sketch, that.sketch)
      case _ => false
    }
    override def hashCode(): Int =
      (nRows, nNull, java.util.Arrays.hashCode(sketch)).hashCode()
  }

  /** Folded grouped state: the flat fold's binding fields plus
    * group -> [[GroupDistinct]] and the excluded-null-group-row counter. */
  case class GroupedDistinctSnapshot(lgK: Int, valueCol: String,
      checkpoint: String, lastBatchId: Long,
      groups: Map[String, GroupDistinct], excludedNullRows: Long)

  /** Default group cap — the grouped-family default: ~10k groups × a
    * few-KB sketch is tens of MB of state at most, far below anything a
    * driver notices, while covering any realistic profiling group key. */
  val DefaultMaxGroups: Int = 10000

  private val store = new FoldStateStore[GroupedDistinctSnapshot](
    "grouped distinct state", "distinct_grouped_state.json",
    Seq("lg_k", "value_col", "checkpoint"),
    GroupedDistinctSnapshot(-1, "", "", -1L, Map.empty, 0L),
    _.lastBatchId, _.checkpoint,
    encode = (root, snap) => {
      root.put("lg_k", snap.lgK)
      root.put("value_col", snap.valueCol)
      root.put("checkpoint", snap.checkpoint)
      root.put("batch_id", snap.lastBatchId)
      root.put("excluded_null_rows", snap.excludedNullRows)
      val gs = root.putObject("groups")
      // sorted for a stable file layout (diffable, digest-friendly)
      snap.groups.toSeq.sortBy(_._1).foreach { case (g, d) =>
        StreamingDistinct.putCounters(gs.putObject(g), d.nRows, d.nNull,
          d.sketch)
      }
    },
    decode = node => {
      val groups = Map.newBuilder[String, GroupDistinct]
      val git = node.get("groups").fields()
      while (git.hasNext) {
        val ge = git.next()
        groups += ge.getKey -> GroupDistinct(
          ge.getValue.get("n_rows").asLong(),
          ge.getValue.get("n_null").asLong(),
          StreamingDistinct.parseSketch(ge.getValue))
      }
      GroupedDistinctSnapshot(node.get("lg_k").asInt(),
        node.get("value_col").asText(), node.get("checkpoint").asText(),
        node.get("batch_id").asLong(), groups.result(),
        node.get("excluded_null_rows").asLong())
    })

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol); absent
    * file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession,
      stateDir: String): GroupedDistinctSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): GroupedDistinctSnapshot =
    store.readLocked(spark, stateDir)

  private[streaming] def checkStateBindings(st: GroupedDistinctSnapshot,
      stateDir: String, checkpoint: String, lgK: Int,
      valueCol: String): Unit = {
    if (st.lastBatchId < 0L) return
    store.checkCheckpoint(st, stateDir, checkpoint)
    if (st.lgK != lgK || st.valueCol != valueCol)
      throw new IllegalStateException(
        s"grouped distinct state at $stateDir was folded with " +
          s"(lgK=${st.lgK}, column='${st.valueCol}') but this stream " +
          s"uses (lgK=$lgK, column='$valueCol') — sketches of different " +
          "precision or of different columns cannot be unioned " +
          "meaningfully. Use a fresh state dir to change them")
  }

  /** Apply ONE micro-batch of (group, value) rows: skip if already
    * applied, else union each group's batch sketch into its state entry.
    * Package-visible so the idempotence, binding, and group-cap rules
    * are directly testable. */
  private[streaming] def applyBatch(spark: SparkSession, stateDir: String,
      lgK: Int, maxGroups: Int, checkpoint: String, batch: DataFrame,
      groupCol: String, valueCol: String,
      batchId: Long): GroupedDistinctSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, lgK, valueCol),
      st => {
        val g = col("`" + groupCol.replace("`", "``") + "`")
        val v = col("`" + valueCol.replace("`", "``") + "`")
        // groupBy KEEPS the null group as its own row, so the excluded-row
        // count rides the SAME single pass (its n_rows IS the batch tally)
        val grouped = batch.groupBy(g.as("__group"))
          .agg(count(lit(1)).as("n_rows"), count(v).as("n"),
            hll_sketch_agg(v, lit(lgK)).as("sk"))
        // bounded collect: head(cap + 2) — the null group (at most one
        // row) must not displace a real group at the probe boundary
        val rows = grouped.head(maxGroups + 2)
        val (nullRows, realRows) = rows.partition(_.isNullAt(0))
        val excludedThisBatch =
          nullRows.headOption.map(_.getLong(1)).getOrElse(0L)
        val merged = scala.collection.mutable.Map.empty[String, GroupDistinct]
        merged ++= st.groups
        realRows.foreach { r =>
          val grp = r.getString(0)
          val nRows = r.getLong(1)
          val n = r.getLong(2)
          // the flat fold's no-values rule, per group
          val bytes =
            if (n == 0L || r.isNullAt(3)) Array.empty[Byte]
            else r.getAs[Array[Byte]](3)
          val prev = merged.getOrElse(grp, GroupDistinct(0L, 0L, Array.empty))
          merged.put(grp, GroupDistinct(prev.nRows + nRows,
            prev.nNull + (nRows - n),
            StreamingDistinct.unionSketches(lgK, prev.sketch, bytes)))
        }
        if (merged.size > maxGroups) {
          // the head probe TRUNCATES the batch's group relation, so when
          // it came back full `merged.size` is only a LOWER BOUND
          val atLeast = if (rows.length >= maxGroups + 2) "at least " else ""
          throw new IllegalStateException(
            s"grouped distinct state at $stateDir would hold " +
              s"$atLeast${merged.size} groups, past maxGroups=$maxGroups — " +
              "the state file (and the per-batch driver fold) is bounded " +
              "BY this cap. Raise maxGroups if the group key is genuinely " +
              "this wide and the driver can hold it, or coarsen the group " +
              "key; a per-document-cardinality key belongs on the batch " +
              "count(DISTINCT) path, not a driver-side state file. Batch " +
              "NOT applied; the stream should be stopped and re-planned")
        }
        GroupedDistinctSnapshot(lgK, valueCol, checkpoint, batchId,
          merged.toMap, st.excludedNullRows + excludedThisBatch)
      })

  /** Cross-cluster merge — the grouped cardinality face of
    * [[StreamingMoments.mergeStates]]: union of the regional group maps
    * with colliding groups merged by the HLL register union
    * ([[StreamingDistinct.unionSketches]] pointwise — each group's
    * cross-region duplicates counted once) and the exact per-group
    * row/null counters added; excluded-null counters add. Same contract
    * as the flat face: locked input reads, every input folded,
    * identical (lgK, valueCol), a synthetic `merged:[...]` checkpoint
    * that trips the ingest binding, no clobbering — plus the family's
    * cap discipline on the UNION of the group sets. */
  def mergeStates(spark: SparkSession, inDirs: Seq[String], outDir: String,
      maxGroups: Int = DefaultMaxGroups): GroupedDistinctSnapshot =
    store.merge(spark, inDirs, outDir, "global cardinality") {
      (states, ckpt, lastId) =>
        val (lgK, valueCol) = StreamingDistinct.sameLgKCol(states.map(s =>
          (s.lgK, s.valueCol)))
        val groups = scala.collection.mutable.Map.empty[String, GroupDistinct]
        states.foreach { st =>
          st.groups.foreach { case (g, d) =>
            val prev = groups.getOrElse(g, GroupDistinct(0L, 0L, Array.empty))
            groups.put(g, GroupDistinct(prev.nRows + d.nRows,
              prev.nNull + d.nNull,
              StreamingDistinct.unionSketches(lgK, prev.sketch, d.sketch)))
          }
        }
        StateMerge.checkMergedGroupCap("grouped distinct state",
          groups.size, maxGroups)
        GroupedDistinctSnapshot(lgK, valueCol, ckpt, lastId, groups.toMap,
          states.map(_.excludedNullRows).sum)
    }

  /** Start the stream: parquet arrivals under `sourceDir` with STRING
    * `groupCol` and `valueCol`, folded per micro-batch into the grouped
    * distinct state under `stateDir`. Same single-stream contract and
    * entry-time guards as the rest of the family. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, groupCol: String = "source",
      valueCol: String = "value", lgK: Int = StreamingDistinct.DefaultLgK,
      maxFilesPerTrigger: Int = 0,
      maxGroups: Int = DefaultMaxGroups): StreamingQuery = {
    require(lgK >= 4 && lgK <= 21,
      s"lgK must be in the sketch's supported [4, 21], got $lgK")
    require(maxGroups > 0, s"maxGroups must be positive, got $maxGroups")
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add(groupCol, StringType).add(valueCol, StringType),
      maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, lgK, valueCol),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, lgK, maxGroups, ckptId, batch,
            groupCol, valueCol, batchId); () })
  }
}
