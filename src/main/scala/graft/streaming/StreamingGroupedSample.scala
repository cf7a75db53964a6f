package graft.streaming

import graft.operators.TopKImperative
import graft.streaming.StreamingSample.SampleEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}

/** Per-group streaming deterministic bottom-k sample — the grouped face of
  * [[StreamingSample]], completing the profiling family's third square
  * (frequencies and quantiles each cover batch/streaming × flat/grouped;
  * this adds grouped×streaming to the sampling face): a long-lived ingest
  * pipeline keeps a k-row uniform sample PER GROUP (per source, per
  * domain, per language) of everything folded so far — the standing input
  * for a per-source [[graft.operators.HistogramSketch.fromSample]]
  * auto-binning, per-domain inspection, or any stratified bounded-sample
  * step, without a corpus rescan.
  *
  * The priority is the flat fold's salted id hash verbatim
  * ([[StreamingSample.priority]] — ONE definition), and each group's
  * sample IS the k smallest (hash, id) pairs over that group's DISTINCT
  * ids. Groups never mix, so the flat fold's exactness story applies
  * group-pointwise: each group's fold is an exact semilattice merge (no
  * reservoir error term, no RNG state), equals the one-shot batch
  * bottom-k over that group's corpus slice on a drained stream, and is
  * DuckDB-replayable bit-exactly (`row_number() OVER (PARTITION BY group
  * ORDER BY hash32(id || ':salt'), id) <= k`).
  *
  * Per micro-batch: ONE grouped aggregation
  * ([[graft.operators.BottomKSampleAgg]] — a TypedImperativeAggregate, so
  * each task holds O(k) per group and partial aggregation ships ≤ k
  * candidates per group per partition; no shuffle of raw rows — the
  * grouped MG fold's posture), its ≤ maxGroups-bounded result collected,
  * then a driver-side per-group [[StreamingSample.mergeBottomK]] into the
  * persisted state — the ONE merge definition shared with the flat fold.
  *
  * Boundedness is the family's CAP DISCIPLINE (see
  * [[StreamingGroupedHeavyHitters]]): within one group the sample is ≤ k
  * by construction, but the GROUP dimension grows with the data — the
  * state is bounded by `maxGroups × k` and the fold REFUSES LOUDLY when
  * the merged group count would exceed `maxGroups` (a profiling operator
  * for a bounded group key — sources, languages, TLDs — not a
  * per-document key). Null group keys are excluded from the fold (no
  * null-group answer; JSON field names can't be null) but COUNTED —
  * `excludedNullRows` rides the state and the REST envelope so a group
  * column rotting to NULL is visible.
  *
  * State file and exactly-once: [[FoldStateStore]]; the bindings are
  * (checkpoint, k, salt). */
object StreamingGroupedSample {

  /** One group's folded sample: rows folded for this group (duplicates
    * included — the observability counter; uniformity is over DISTINCT
    * ids) and the ≤ k entries sorted by (key, id). */
  case class GroupSample(nSeen: Long, entries: Seq[SampleEntry])

  /** Folded grouped state: the flat snapshot's binding fields (k, salt,
    * checkpoint, last applied batch id) plus group -> [[GroupSample]] and
    * the excluded-null-rows counter (the r14 grouped-fold rule). */
  case class GroupedSampleSnapshot(k: Int, salt: String, checkpoint: String,
      lastBatchId: Long, groups: Map[String, GroupSample],
      excludedNullRows: Long) {
    /** Total entries across groups (the boundedness measurable). */
    def totalEntries: Int = groups.valuesIterator.map(_.entries.size).sum
  }

  /** Default group cap: at the default k this bounds the state file (and
    * the per-batch driver fold) to ~10k × k entries — the grouped-HH
    * default, covering any realistic profiling group key. */
  val DefaultMaxGroups: Int = 10000

  private val store = new FoldStateStore[GroupedSampleSnapshot](
    "grouped sample state", "sample_grouped_state.json",
    Seq("k", "salt", "checkpoint"),
    GroupedSampleSnapshot(-1, "", "", -1L, Map.empty, 0L), _.lastBatchId,
    _.checkpoint,
    encode = (root, snap) => {
      root.put("k", snap.k)
      root.put("salt", snap.salt)
      root.put("checkpoint", snap.checkpoint)
      root.put("batch_id", snap.lastBatchId)
      root.put("excluded_null_rows", snap.excludedNullRows)
      val gs = root.putObject("groups")
      snap.groups.foreach { case (g, st) =>
        val gn = gs.putObject(g)
        gn.put("n_seen", st.nSeen)
        StreamingSample.putEntries(gn.putArray("entries"), st.entries)
      }
    },
    decode = node => {
      val groups = Map.newBuilder[String, GroupSample]
      val git = node.get("groups").fields()
      while (git.hasNext) {
        val ge = git.next()
        groups += ge.getKey -> GroupSample(ge.getValue.get("n_seen").asLong(),
          StreamingSample.parseEntries(ge.getValue.get("entries")))
      }
      GroupedSampleSnapshot(node.get("k").asInt(), node.get("salt").asText(),
        node.get("checkpoint").asText(), node.get("batch_id").asLong(),
        groups.result(),
        Option(node.get("excluded_null_rows")).map(_.asLong())
          .getOrElse(0L))
    })

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol); absent
    * file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession, stateDir: String): GroupedSampleSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): GroupedSampleSnapshot =
    store.readLocked(spark, stateDir)

  private[streaming] def checkStateBindings(st: GroupedSampleSnapshot,
      stateDir: String, checkpoint: String, k: Int, salt: String): Unit = {
    if (st.lastBatchId < 0L) return
    store.checkCheckpoint(st, stateDir, checkpoint)
    if (st.k != k || st.salt != salt)
      throw new IllegalStateException(
        s"grouped sample state at $stateDir was folded with (k=${st.k}, " +
          s"salt='${st.salt}') but this stream uses (k=$k, salt='$salt') " +
          "— each group's bottom-k set is only meaningful relative to " +
          "both. Use a fresh state dir to change them")
  }

  /** Apply ONE micro-batch of (group, id[, value]) rows to the persisted
    * state: skip if already applied, else fold each group's ≤ k batch
    * bottom-k in. Package-visible so idempotence, bindings, and the
    * group-cap rule are directly testable. */
  private[streaming] def applyBatch(spark: SparkSession, stateDir: String,
      k: Int, salt: String, maxGroups: Int, checkpoint: String,
      batch: DataFrame, groupCol: String, idCol: String,
      valueCol: Option[String], batchId: Long): GroupedSampleSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, k, salt),
      st => {
        // groupBy keeps a NULL group as its own group, so the null-row
        // count rides the SAME single aggregation (no second scan) — the
        // null group's n below IS the batch's excluded row count, and its
        // (wasted but ≤ k) bottom-k is simply dropped on the driver
        val perGroup = batch.select(
            col(groupCol).cast("string").as("__g"),
            StreamingSample.priority(col(idCol), salt).as("__key"),
            col(idCol).cast("long").as("__id"),
            valueCol.map(v => col(v).cast("double"))
              .getOrElse(lit(null).cast(DoubleType)).as("__v"))
          .groupBy("__g")
          .agg(TopKImperative.bottomKSample(k)(
              col("__key"), col("__id"), col("__v")).as("bk"),
            count(lit(1)).as("n"))
        // bounded collect: head(cap + 2) — the null group (at most one row)
        // must not displace a real group at the probe boundary (the grouped
        // MG fold's probe rule)
        val rows = perGroup.head(maxGroups + 2)
        val (nullRows, realRows) = rows.partition(_.isNullAt(0))
        val excludedThisBatch = nullRows.headOption.map(_.getLong(2)).getOrElse(0L)
        val merged = scala.collection.mutable.Map.empty[String, GroupSample]
        merged ++= st.groups
        realRows.foreach { r =>
          val g = r.getString(0)
          val bk = r.getSeq[Row](1).map(c => SampleEntry(c.getLong(0),
            c.getLong(1), if (c.isNullAt(2)) None else Some(c.getDouble(2))))
          val bn = r.getLong(2)
          val prev = merged.getOrElse(g, GroupSample(0L, Seq.empty))
          merged.put(g, GroupSample(prev.nSeen + bn,
            StreamingSample.mergeBottomK(k, prev.entries, bk)))
        }
        if (merged.size > maxGroups) {
          // the head probe TRUNCATES the batch's group relation, so when it
          // came back full `merged.size` is only a LOWER BOUND on the real
          // cardinality (the grouped MG fold's phrasing rule)
          val atLeast = if (rows.length >= maxGroups + 2) "at least " else ""
          throw new IllegalStateException(
            s"grouped sample state at $stateDir would hold " +
              s"$atLeast${merged.size} groups, past maxGroups=$maxGroups — " +
              "the state file (and the per-batch driver fold) is bounded " +
              "by groups × k BY this cap. Raise maxGroups if the group key " +
              "is genuinely this wide and the driver can hold it, or " +
              "coarsen the group key; a per-document-cardinality key has " +
              "no business in a driver-side sample state file. Batch NOT " +
              "applied; the stream should be stopped and re-planned")
        }
        GroupedSampleSnapshot(k, salt, checkpoint, batchId,
          merged.toMap, st.excludedNullRows + excludedThisBatch)
      })

  /** Cross-cluster merge — the grouped sampling face of
    * [[StreamingMoments.mergeStates]]: union of the regional group maps
    * with colliding groups merged by the exact bottom-k-of-the-union
    * arithmetic ([[StreamingSample.mergeBottomK]] pointwise — each
    * group's merged sample is BIT-IDENTICAL to the global per-group
    * sample) and per-group nSeen added; excluded-null counters add.
    * Same contract as the flat face: locked input reads, every input
    * folded, identical (k, salt), a synthetic `merged:[...]` checkpoint
    * that trips the ingest binding, no clobbering — plus the family's
    * cap discipline on the UNION of the group sets. */
  def mergeStates(spark: SparkSession, inDirs: Seq[String], outDir: String,
      maxGroups: Int = DefaultMaxGroups): GroupedSampleSnapshot =
    store.merge(spark, inDirs, outDir, "global sample") {
      (states, ckpt, lastId) =>
        val (k, salt) =
          StreamingSample.sameKSalt(states.map(s => (s.k, s.salt)))
        val groups = scala.collection.mutable.Map.empty[String, GroupSample]
        states.foreach { st =>
          st.groups.foreach { case (g, s) =>
            val prev = groups.getOrElse(g, GroupSample(0L, Seq.empty))
            groups.put(g, GroupSample(prev.nSeen + s.nSeen,
              StreamingSample.mergeBottomK(k, prev.entries, s.entries)))
          }
        }
        StateMerge.checkMergedGroupCap("grouped sample state", groups.size,
          maxGroups)
        GroupedSampleSnapshot(k, salt, ckpt, lastId, groups.toMap,
          states.map(_.excludedNullRows).sum)
    }

  /** Start the stream: parquet arrivals under `sourceDir` with a STRING
    * `groupCol`, LONG `idCol` (and optionally a DOUBLE `valueCol` payload
    * carried with each sampled id), folded per micro-batch into the
    * per-group bottom-k sample state under `stateDir`. Same entry-time
    * chokepoint guards as the family's other folds. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, k: Int, salt: String = "sample",
      groupCol: String = "source", idCol: String = "doc_id",
      valueCol: Option[String] = None, maxFilesPerTrigger: Int = 0,
      maxGroups: Int = DefaultMaxGroups): StreamingQuery = {
    require(k > 0, s"sample size k must be positive, got $k")
    require(maxGroups > 0, s"maxGroups must be positive, got $maxGroups")
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      valueCol.foldLeft(
        new StructType().add(groupCol, StringType).add(idCol, LongType))(
        (s, v) => s.add(v, DoubleType)),
      maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, k, salt),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, k, salt, maxGroups, ckptId, batch,
            groupCol, idCol, valueCol, batchId); () })
  }

  /** The folded grouped sample as a (group STRING, id LONG, value DOUBLE)
    * local relation — the direct feed for a per-group
    * [[graft.operators.HistogramSketch.fromSample]] or any stratified
    * bounded-sample step. */
  def toDF(spark: SparkSession, st: GroupedSampleSnapshot): DataFrame = {
    val rows = st.groups.toSeq.sortBy(_._1).flatMap { case (g, gs) =>
      gs.entries.map(e => Row(g, e.id, e.value.map(Double.box).orNull))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      new StructType().add("group", StringType).add("id", LongType)
        .add("value", DoubleType))
  }

  /** The batch twin, for cross-checks: per-group bottom-k over a corpus
    * one-shot, via an INDEPENDENT formulation (window rank, not the
    * fold's imperative aggregate) — the set each group's folded state
    * must EQUAL on a drained stream. Output (group, key, id, value). */
  def batchBottomKPerGroup(df: DataFrame, k: Int, salt: String = "sample",
      groupCol: String = "source", idCol: String = "doc_id",
      valueCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(col(groupCol).cast("string").as("group"),
        StreamingSample.priority(col(idCol), salt).as("key"),
        col(idCol).cast("long").as("id"),
        valueCol.map(v => col(v).cast("double"))
          .getOrElse(lit(null).cast(DoubleType)).as("value"))
      // null groups AND null ids excluded — the fold's aggregate skips
      // null-id rows (no identity to sample), so the twin must too or a
      // null-id row's null key would rank FIRST in its group and the
      // twin would diverge from a healthy fold
      .filter(col("group").isNotNull && col("id").isNotNull)
      .dropDuplicates("group", "id")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("group").orderBy("key", "id")))
      .filter(col("__rn") <= k).drop("__rn")
  }
}
