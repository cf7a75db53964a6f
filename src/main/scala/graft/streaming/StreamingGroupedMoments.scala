package graft.streaming

import graft.operators.Profile
import graft.streaming.StreamingMoments.{mergeMoments, momentsFromRow, Moments}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructType}

/** Per-group streaming exact moments — the grouped face of
  * [[StreamingMoments]], completing the moments square the way the other
  * three profiling members complete theirs (flat/grouped × batch/stream):
  * a long-lived ingest pipeline exposing the RUNNING per-source numeric
  * profile (count/nulls/min/max/exact sums, mean/std derived) of one
  * integral column — the per-stratum drift monitor a mixed-corpus
  * pipeline actually reads (a single global mean hides one source's
  * collapse behind another's growth).
  *
  * Per micro-batch: ONE grouped aggregate ([[Profile.moments]]'s
  * arithmetic per group — the shared definition, so the four corners
  * cannot drift), its ≤ groups-row result collected bounded by the group
  * cap, then a driver-side per-group [[StreamingMoments.mergeMoments]]
  * fold. Groups never mix, so the flat fold's exactness argument applies
  * group-pointwise: each group's folded moments EQUAL
  * [[Profile.momentsPerGroup]]'s row over everything folded, and DuckDB
  * replays every group with HUGEINT arithmetic.
  *
  * Boundedness is the family's CAP DISCIPLINE ([[StreamingGroupedHeavyHitters]]):
  * within a group the state is seven numbers, but the GROUP dimension
  * grows with the data — so the state is bounded by `maxGroups` and the
  * fold REFUSES LOUDLY (with lower-bound phrasing off the truncating
  * head probe) when the merged group count would exceed it. This is a
  * profiling operator for a bounded group key — sources, languages,
  * domain buckets — not a per-document key; a million-group key belongs
  * on the batch [[Profile.momentsPerGroup]] path.
  *
  * Null keys, both axes, are counted, never silently dropped: null GROUP
  * rows are excluded from the fold (no identity to profile under — the
  * batch face's rule) but tallied in `excludedNullRows` within the same
  * single pass; null VALUES inside a group ride each group's own exact
  * `n_null`. State file and exactly-once: [[FoldStateStore]]; the
  * bindings are (checkpoint, valueCol), the flat fold's identity.
  *
  * 100 TB/day posture: per batch one grouped map-side-combined aggregate
  * (partials are seven counters per group per task), one ≤ maxGroups
  * driver fold, one O(groups) state file — no per-key state beyond the
  * capped group dimension, at any stream length. */
object StreamingGroupedMoments {

  /** Folded grouped state: the flat fold's binding fields plus
    * group -> [[StreamingMoments.Moments]] and the excluded-null-group-row
    * counter (observability, not a binding field). */
  case class GroupedMomentsSnapshot(valueCol: String, checkpoint: String,
      lastBatchId: Long, groups: Map[String, Moments],
      excludedNullRows: Long) extends GroupedFoldSnapshot[Moments]

  /** Default group cap — the grouped-family default
    * ([[StreamingGroupedHeavyHitters.DefaultMaxGroups]] rationale: ~10k
    * groups × a handful of scalars is a small JSON file and a trivial
    * per-batch driver fold, while covering any realistic profiling group
    * key). */
  val DefaultMaxGroups: Int = 10000

  private val store = new FoldStateStore[GroupedMomentsSnapshot](
    "grouped moments state", "moments_grouped_state.json",
    Seq("value_col", "checkpoint"),
    GroupedMomentsSnapshot("", "", -1L, Map.empty, 0L),
    encode = (root, snap) => {
      root.put("value_col", snap.valueCol)
      root.put("checkpoint", snap.checkpoint)
      root.put("batch_id", snap.lastBatchId)
      root.put("excluded_null_rows", snap.excludedNullRows)
      val gs = root.putObject("groups")
      // sorted for a stable file layout (diffable, digest-friendly)
      snap.groups.toSeq.sortBy(_._1).foreach { case (g, m) =>
        StreamingMoments.putMoments(gs.putObject(g), m)
      }
    },
    decode = node => {
      val groups = Map.newBuilder[String, Moments]
      val git = node.get("groups").fields()
      while (git.hasNext) {
        val ge = git.next()
        groups += ge.getKey -> StreamingMoments.parseMoments(ge.getValue)
      }
      GroupedMomentsSnapshot(node.get("value_col").asText(),
        node.get("checkpoint").asText(), node.get("batch_id").asLong(),
        groups.result(), node.get("excluded_null_rows").asLong())
    })

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol); absent
    * file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession,
      stateDir: String): GroupedMomentsSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): GroupedMomentsSnapshot =
    store.readLocked(spark, stateDir)

  private[streaming] def checkStateBindings(st: GroupedMomentsSnapshot,
      stateDir: String, checkpoint: String, valueCol: String): Unit = {
    if (st.lastBatchId < 0L) return
    store.checkCheckpoint(st, stateDir, checkpoint)
    if (st.valueCol != valueCol)
      throw new IllegalStateException(
        s"grouped moments state at $stateDir was folded over column " +
          s"'${st.valueCol}' but this stream folds '$valueCol' — the " +
          "mixed state would be the moments of neither column. Use a " +
          "fresh state dir to profile a different column")
  }

  /** Apply ONE micro-batch of (group, value) rows: skip if already
    * applied, else fold each group's exact batch moments into its state
    * entry. Package-visible so the idempotence, binding, and group-cap
    * rules are directly testable. */
  private[streaming] def applyBatch(spark: SparkSession, stateDir: String,
      maxGroups: Int, checkpoint: String, batch: DataFrame,
      groupCol: String, valueCol: String,
      batchId: Long): GroupedMomentsSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, valueCol),
      st => {
        // groupBy KEEPS the null group as its own row (unlike the batch
        // face's filtered join-shape), so the excluded-row count rides the
        // SAME single pass — its n_rows IS the batch's excluded tally
        val g = col("`" + groupCol.replace("`", "``") + "`")
        val aggs = Profile.momentsAggs(valueCol)
        val grouped = batch.groupBy(g.as("__group"))
          .agg(aggs.head, aggs.tail: _*)
        val (merged, excludedThisBatch) = FoldStateStore.foldGroups(
          "grouped moments state", stateDir, maxGroups,
          "the batch momentsPerGroup path", grouped, 1, st.groups,
          StreamingMoments.emptyMoments) { (prev, r) =>
          mergeMoments(prev, momentsFromRow(r, 1,
            s"grouped moments fold at $stateDir (batch $batchId, " +
              s"group '${r.getString(0)}')"))
        }
        GroupedMomentsSnapshot(valueCol, checkpoint, batchId, merged,
          st.excludedNullRows + excludedThisBatch)
      })

  /** Start the stream: parquet arrivals under `sourceDir` with a STRING
    * `groupCol` and LONG `valueCol`, folded per micro-batch into the
    * grouped moments state under `stateDir`. Same single-stream contract
    * and entry-time guards as the rest of the family. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, groupCol: String = "source",
      valueCol: String = "value", maxFilesPerTrigger: Int = 0,
      maxGroups: Int = DefaultMaxGroups): StreamingQuery = {
    require(maxGroups > 0, s"maxGroups must be positive, got $maxGroups")
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      new StructType().add(groupCol, StringType).add(valueCol, LongType),
      maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, valueCol),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, maxGroups, ckptId, batch, groupCol,
            valueCol, batchId); () })
  }

  /** Cross-cluster merge — the grouped face of
    * [[StreamingMoments.mergeStates]]: combine ≥ 2 independently-folded
    * grouped states (one regional ingest each) into one state under
    * `outDir`. Groups never mix, so the merge is the flat semilattice
    * applied group-POINTWISE (union of the group maps, colliding groups
    * merged exactly) and excluded-null counters add. Same contract:
    * locked input reads, every input folded, same value column, a
    * synthetic `merged:[...]` checkpoint that trips the ingest binding,
    * no clobbering — plus the family's cap discipline: the merged group
    * count must fit `maxGroups` (regional group sets can be disjoint, so
    * the union can exceed what any one region held). */
  def mergeStates(spark: SparkSession, inDirs: Seq[String], outDir: String,
      maxGroups: Int = DefaultMaxGroups): GroupedMomentsSnapshot =
    store.merge(spark, inDirs, outDir, "global profile") {
      (states, ckpt, lastId) =>
        val valueCol = StreamingMoments.sameValueCol(states.map(_.valueCol))
        val groups = scala.collection.mutable.Map.empty[String, Moments]
        states.foreach { st =>
          st.groups.foreach { case (g, m) =>
            groups.put(g, mergeMoments(
              groups.getOrElse(g, StreamingMoments.emptyMoments), m))
          }
        }
        StateMerge.checkMergedGroupCap("grouped moments state",
          groups.size, maxGroups)
        GroupedMomentsSnapshot(valueCol, ckpt, lastId, groups.toMap,
          states.map(_.excludedNullRows).sum)
    }

  /** The folded state as a (group, n_rows, n, n_null, vmin, vmax, vsum,
    * vsum_sq) relation, ordered by group — schema-aligned with
    * [[Profile.momentsPerGroup]] so the fold and the batch face are
    * directly comparable (and oracle-replayable). */
  def toDF(spark: SparkSession, st: GroupedMomentsSnapshot): DataFrame = {
    val schema = new StructType()
      .add("group", StringType)
      .add("n_rows", LongType).add("n", LongType).add("n_null", LongType)
      .add("vmin", LongType).add("vmax", LongType)
      .add("vsum", DecimalType(38, 0)).add("vsum_sq", DecimalType(38, 0))
    val rows: Seq[Row] = st.groups.toSeq.sortBy(_._1).map { case (g, m) =>
      if (m.n == 0L) Row(g, m.nRows, m.n, m.nNull, null, null, null, null)
      else Row(g, m.nRows, m.n, m.nNull, m.min, m.max,
        new java.math.BigDecimal(m.sum.bigInteger),
        new java.math.BigDecimal(m.sumSq.bigInteger))
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }
}
