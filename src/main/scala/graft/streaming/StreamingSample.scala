package graft.streaming

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** Streaming deterministic bottom-k sample — the sampling face of the
  * streaming profiling family (frequencies: the MG folds; quantiles: the
  * exact-histogram folds; this: a uniform row sample maintained online).
  * A long-lived ingest pipeline keeps a k-row uniform sample of
  * everything folded so far — the standing input for inspection,
  * [[graft.operators.HistogramSketch.fromSample]] auto-binning of a NEW
  * histogram fold, or any bounded-sample training step — without a
  * corpus rescan.
  *
  * No `rand()` anywhere: the priority of a row is the salted id hash
  * ([[TextFunctions.stableHash32]], the [[graft.operators.Curation]]
  * sampling primitive), and the sample IS the k smallest (hash, id)
  * pairs over all DISTINCT ids folded so far. That makes the fold:
  *
  *  - EXACTLY mergeable: bottom-k of a union is the k smallest of the
  *    per-part bottom-ks (a semilattice merge — no error term, unlike a
  *    reservoir, whose merge is approximate, and no RNG state to carry);
  *  - exactly-once-checkable end to end: the folded sample after any
  *    number of micro-batches EQUALS the one-shot batch bottom-k over
  *    the whole corpus, and DuckDB replays that set bit-exactly
  *    (`ORDER BY hash32(id || ':salt'), id LIMIT k`) — a dropped or
  *    double-applied batch cannot change it (idempotent by construction)
  *    but a WRONG one (skipped data) loses exactly its ids;
  *  - uniform over distinct ids: the hash is a fixed random-looking
  *    permutation of the id space, independent of arrival order, batch
  *    boundaries, and duplicates (a re-ingested id carries the same
  *    priority and dedups in the merge).
  *
  * State file, exactly-once and entry-time guards: [[FoldStateStore]];
  * the bindings are (checkpoint, k, salt).
  *
  * 100 TB/day posture: per batch ONE pass — one TakeOrdered over the
  * salted hash (each task keeps its own bottom-k — no shuffle of rows,
  * the driver merges ≤ k per partition) with the nSeen row count
  * observed on the same scan (a CollectMetrics node, not a second
  * action re-reading the batch's files), one ≤ 2k driver merge, one
  * O(k) state file — no per-key state, no growth, at any stream
  * length. */
object StreamingSample {

  /** One sampled row: the salted-hash priority it won with, its id, and
    * the optional carried value (the valueCol payload — e.g. the column
    * a later histogram fold will bin, so
    * [[graft.operators.HistogramSketch.fromSample]] can derive bounds
    * from the sample without touching the corpus). */
  case class SampleEntry(key: Long, id: Long, value: Option[Double])

  /** Folded sample state: the (k, salt) it was folded WITH (the sample
    * is only meaningful relative to both), the checkpoint binding, last
    * applied micro-batch id, exact count of rows folded (duplicates
    * included — the uniformity is over DISTINCT ids; nSeen is the
    * observability counter), and the ≤ k entries sorted by (key, id). */
  case class SampleSnapshot(k: Int, salt: String, checkpoint: String,
      lastBatchId: Long, nSeen: Long, entries: Seq[SampleEntry]) {
    def ids: Seq[Long] = entries.map(_.id)
  }

  private val store = new FoldStateStore[SampleSnapshot](
    "sample state", "sample_state.json", Seq("k", "salt", "checkpoint"),
    SampleSnapshot(-1, "", "", -1L, 0L, Seq.empty), _.lastBatchId,
    _.checkpoint,
    encode = (root, snap) => {
      root.put("k", snap.k)
      root.put("salt", snap.salt)
      root.put("checkpoint", snap.checkpoint)
      root.put("batch_id", snap.lastBatchId)
      root.put("n_seen", snap.nSeen)
      putEntries(root.putArray("entries"), snap.entries)
    },
    decode = node => SampleSnapshot(node.get("k").asInt(),
      node.get("salt").asText(), node.get("checkpoint").asText(),
      node.get("batch_id").asLong(), node.get("n_seen").asLong(),
      parseEntries(node.get("entries"))))

  /** JSON entry codec shared with the grouped fold: (key, id[, value]),
    * the value omitted when the row carried none. */
  private[streaming] def putEntries(
      arr: com.fasterxml.jackson.databind.node.ArrayNode,
      entries: Seq[SampleEntry]): Unit =
    entries.foreach { e =>
      val n = arr.addObject()
      n.put("key", e.key)
      n.put("id", e.id)
      e.value.foreach(v => n.put("value", v))
    }

  private[streaming] def parseEntries(
      arr: com.fasterxml.jackson.databind.JsonNode): Seq[SampleEntry] = {
    val es = Seq.newBuilder[SampleEntry]
    val it = arr.elements()
    while (it.hasNext) {
      val e = it.next()
      es += SampleEntry(e.get("key").asLong(), e.get("id").asLong(),
        if (e.hasNonNull("value")) Some(e.get("value").asDouble()) else None)
    }
    es.result()
  }

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol); absent
    * file = empty stream. Monitors on a hot stream should use
    * [[readStateLocked]]. */
  def readState(spark: SparkSession, stateDir: String): SampleSnapshot =
    store.read(spark, stateDir)

  /** Linearizable read under the writer's own swap lock. */
  def readStateLocked(spark: SparkSession,
      stateDir: String): SampleSnapshot =
    store.readLocked(spark, stateDir)

  /** The salted-hash priority — ONE definition with the batch sampling
    * primitive (md5-derived, engine-stable): DuckDB replays it as
    * `hash32(id::VARCHAR || ':salt')`. */
  def priority(idCol: org.apache.spark.sql.Column, salt: String) =
    TextFunctions.stableHash32(
      concat(idCol.cast("string"), lit(":" + salt)))

  /** The semilattice merge: k smallest (key, id) over the union, one
    * entry per id (duplicates carry the same key; first-folded value
    * wins — ids are stable identities, not update streams). */
  private[streaming] def mergeBottomK(k: Int, state: Seq[SampleEntry],
      batch: Seq[SampleEntry]): Seq[SampleEntry] = {
    val byId = scala.collection.mutable.LinkedHashMap.empty[Long, SampleEntry]
    (state ++ batch).foreach(e => if (!byId.contains(e.id)) byId.put(e.id, e))
    byId.values.toSeq.sortBy(e => (e.key, e.id)).take(k)
  }

  private[streaming] def checkStateBindings(st: SampleSnapshot,
      stateDir: String, checkpoint: String, k: Int, salt: String): Unit = {
    if (st.lastBatchId < 0L) return
    store.checkCheckpoint(st, stateDir, checkpoint)
    if (st.k != k || st.salt != salt)
      throw new IllegalStateException(
        s"sample state at $stateDir was folded with (k=${st.k}, " +
          s"salt='${st.salt}') but this stream uses (k=$k, salt='$salt') " +
          "— the bottom-k set is only meaningful relative to both. Use " +
          "a fresh state dir to change them")
  }

  /** Apply ONE micro-batch of (id[, value]) rows to the persisted state:
    * skip if already applied, else merge the batch's bottom-k in.
    * Package-visible so idempotence and bindings are directly testable. */
  private[streaming] def applyBatch(spark: SparkSession, stateDir: String,
      k: Int, salt: String, checkpoint: String, batch: DataFrame,
      idCol: String, valueCol: Option[String], batchId: Long): SampleSnapshot =
    store.applyBatch(spark, stateDir, batchId,
      st => checkStateBindings(st, stateDir, checkpoint, k, salt),
      st => {
        // nSeen rides the SAME pass as the bottom-k: a CollectMetrics node
        // (Dataset.observe) under the dedup counts every row as it flows
        // through the scan — a separate batch.count() would read each
        // batch's source files twice, doubling the per-batch scan cost the
        // 100 TB/day posture prices at one TakeOrdered
        val nSeenObs = org.apache.spark.sql.Observation()
        val keyed = batch.select(
            priority(col(idCol), salt).as("__key"),
            col(idCol).cast("long").as("__id"),
            valueCol.map(v => col(v).cast("double"))
              .getOrElse(lit(null).cast(DoubleType)).as("__value"))
          .observe(nSeenObs, count(lit(1)).as("n_rows"))
        // dedup by id FIRST: duplicate ids inside one batch would otherwise
        // occupy several of the k bottom slots and the fold could end up
        // holding fewer distinct ids than the batch twin — the equality the
        // family's exactness story rests on. (Duplicates of an id carry the
        // same priority and, by the stable-identity contract, the same
        // value.) NULL ids are excluded — no identity, nothing to sample —
        // though they still count toward nSeen (arrival observability);
        // without the filter a null id would sort FIRST (null key) and
        // permanently occupy a bottom slot, and the state write would
        // crash on the missing long. Then TakeOrderedAndProject: each task
        // keeps its own bottom-k, the driver merges ≤ k rows.
        val bottom = keyed.filter(col("__id").isNotNull)
          .dropDuplicates("__id")
          .orderBy(col("__key"), col("__id")).limit(k)
          .collect()
          .map(r => SampleEntry(r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        val bn = nSeenObs.get("n_rows").asInstanceOf[Long]
        SampleSnapshot(k, salt, checkpoint, batchId,
          st.nSeen + bn, mergeBottomK(k, st.entries, bottom))
      })

  /** Start the stream: parquet arrivals under `sourceDir` with a LONG
    * `idCol` (and optionally a DOUBLE `valueCol` payload to carry with
    * each sampled id), folded per micro-batch into the bottom-k sample
    * state under `stateDir`; entry-time guards are
    * [[FoldStateStore.ingest]]'s. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, k: Int, salt: String = "sample",
      idCol: String = "doc_id", valueCol: Option[String] = None,
      maxFilesPerTrigger: Int = 0): StreamingQuery = {
    require(k > 0, s"sample size k must be positive, got $k")
    store.ingest(spark, sourceDir, stateDir, checkpointDir,
      valueCol.foldLeft(new StructType().add(idCol, LongType))(
        (s, v) => s.add(v, DoubleType)),
      maxFilesPerTrigger,
      entryCheck = (st, ckptId) =>
        checkStateBindings(st, stateDir, ckptId, k, salt),
      applyB = (batch, batchId, ckptId) =>
        { applyBatch(spark, stateDir, k, salt, ckptId, batch, idCol,
            valueCol, batchId); () })
  }

  /** Cross-cluster merge — the sampling face of
    * [[StreamingMoments.mergeStates]]: combine ≥ 2 independently-folded
    * sample states (one regional ingest each, SAME (k, salt)) into one
    * state under `outDir`. The bottom-k is an exact semilattice (k
    * smallest of a union = k smallest of the per-region bottom-ks), so
    * the merged sample is BIT-IDENTICAL to what one cluster sampling
    * all regions' arrivals would hold — a uniform global sample from
    * per-region O(k) states, no data movement. The merged nSeen is the
    * SUM OF PER-REGION ARRIVALS, not a deduplicated global arrival
    * count: an id arriving in two regions dedups by identity in the
    * ENTRY SET (exactly as re-arrivals dedup within one fold), but the
    * per-region counters cannot know about each other's arrivals, so
    * under cross-region overlap the merged nSeen exceeds what a
    * single-cluster fold of the deduplicated stream would count — read
    * it as total regional ingest volume, never as distinct arrivals
    * (the entry set itself stays exactly the single-cluster bottom-k).
    * Same contract: locked input reads, every input folded, a synthetic
    * `merged:[...]` checkpoint that trips the ingest binding, no
    * clobbering. */
  def mergeStates(spark: SparkSession, inDirs: Seq[String],
      outDir: String): SampleSnapshot =
    store.merge(spark, inDirs, outDir, "global sample") {
      (states, ckpt, lastId) =>
        val (k, salt) = sameKSalt(states.map(s => (s.k, s.salt)))
        SampleSnapshot(k, salt, ckpt, lastId, states.map(_.nSeen).sum,
          states.map(_.entries).reduce(mergeBottomK(k, _, _)))
    }

  /** The merge binding refusal shared with the grouped fold: every
    * input must carry the same (k, salt). */
  private[streaming] def sameKSalt(
      bindings: Seq[(Int, String)]): (Int, String) =
    StateMerge.sameBinding("(k, salt) bindings", bindings,
      (b: (Int, String)) => s"(k=${b._1}, salt='${b._2}')",
      "bottom-k sets are only comparable under identical priorities and " +
        "budgets; merge only states folded with the same (k, salt)")

  /** The folded sample as a (id LONG, value DOUBLE) local relation — the
    * direct feed for [[graft.operators.HistogramSketch.fromSample]] (its
    * bounded collect over ≤ k local rows is trivial) or any
    * bounded-sample step. */
  def toDF(spark: SparkSession, st: SampleSnapshot): DataFrame = {
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      java.util.Arrays.asList(st.entries.map(e =>
        Row(e.id, e.value.map(Double.box).orNull)): _*),
      new StructType().add("id", LongType).add("value", DoubleType))
  }

  /** The batch twin, for cross-checks: bottom-k over a corpus one-shot —
    * the set the folded state must EQUAL on a drained stream. */
  def batchBottomK(df: DataFrame, k: Int, salt: String = "sample",
      idCol: String = "doc_id", valueCol: Option[String] = None): Seq[SampleEntry] =
    df.select(priority(col(idCol), salt).as("__key"),
        col(idCol).cast("long").as("__id"),
        valueCol.map(v => col(v).cast("double"))
          .getOrElse(lit(null).cast(DoubleType)).as("__value"))
      .filter(col("__id").isNotNull) // same null-id exclusion as the fold
      .dropDuplicates("__id") // same distinct-ids rule as the fold
      .orderBy(col("__key"), col("__id")).limit(k).collect()
      .map(r => SampleEntry(r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSeq
}
