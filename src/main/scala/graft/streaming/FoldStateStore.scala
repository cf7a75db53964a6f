package graft.streaming

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** What every fold's snapshot carries: the checkpoint its batch ids
  * belong to and the last batch it folded (-1 = nothing folded yet). */
trait FoldSnapshot {
  def checkpoint: String
  def lastBatchId: Long
}

/** A grouped fold's snapshot: one state per group key, plus the running
  * count of null-group-key rows the fold excluded. */
trait GroupedFoldSnapshot[+V] extends FoldSnapshot {
  def groups: Map[String, V]
  def excludedNullRows: Long
}

/** A windowed ring's snapshot: the window size and the per-batch slots
  * of the newest batches it still holds. */
trait WindowedFoldSnapshot extends FoldSnapshot {
  def window: Int
  def ring: Seq[Any]
}

/** The state-file scaffold every streaming fold runs on: the twelve
  * all-time faces (flat and grouped moments, comoments, distinct, heavy
  * hitters, histogram, sample) and the four windowed rings. A face
  * supplies what genuinely differs — its snapshot type, the JSON codec,
  * its binding refusals and its per-batch fold — and the store owns
  * what must not drift between faces:
  *
  *  - the [[graft.core.SwapStateFile]] wiring: one JSON file
  *    `<stateDir>/<stateName>` committed through the tmp+marker swap
  *    (marker `<stateName minus .json>.swap.inprogress`), loud
  *    lock-free reads, and the linearizable locked read for monitors;
  *  - the required-binding-fields refusal on parse (a state file
  *    missing its identity fields is never guessed at);
  *  - the applyBatch skeleton: the face's binding checks, the
  *    fresh-state-vs-checkpoint probe, replay idempotence off the last
  *    applied batch id, fold-then-write;
  *  - the ingest chokepoint: the atomic-rename capability probe at
  *    open, checkpoint qualification, the entry-time binding check
  *    BEFORE any checkpoint WAL is written, and the AvailableNow
  *    `foreachBatch` loop;
  *  - the mergeStates skeleton: locked input reads, the shared
  *    [[StateMerge.guard]] ladder, write of the merged artifact.
  *
  * Writes go through the face's `encode` onto one Jackson object node,
  * so field order is the order `encode` puts them in; a face whose
  * payload is a map sorts it there if its file layout is sorted. */
private[streaming] final class FoldStateStore[S <: FoldSnapshot](
    face: String, stateName: String, requiredFields: Seq[String],
    empty: S, encode: (ObjectNode, S) => Unit, decode: JsonNode => S) {

  private def file(spark: SparkSession, stateDir: String) =
    new graft.core.SwapStateFile(
      new Path(stateDir, stateName)
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      stateDir, stateName,
      stateName.stripSuffix(".json") + ".swap.inprogress", face)

  private def parse(stateDir: String)(txt: String): S = {
    val node = new ObjectMapper().readTree(txt)
    if (requiredFields.exists(f => node.get(f) == null))
      throw new IllegalStateException(
        s"$face file under $stateDir lacks the " +
          requiredFields.mkString("/") + " binding fields — it was " +
          "written by a pre-binding format or is not a " + face + " " +
          "file. No automatic migration (such a file cannot prove which " +
          "stream or checkpoint its batch ids belong to); re-fold from " +
          "the source with a fresh state dir")
    decode(node)
  }

  /** Lock-free read ([[graft.core.SwapStateFile.read]] protocol);
    * absent file = empty stream. */
  def read(spark: SparkSession, stateDir: String): S =
    file(spark, stateDir).read(parse(stateDir), empty)

  /** Linearizable read under the writer's own swap lock. */
  def readLocked(spark: SparkSession, stateDir: String): S =
    file(spark, stateDir).readLocked(parse(stateDir), empty)

  def write(spark: SparkSession, stateDir: String, snap: S): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    encode(root, snap)
    file(spark, stateDir).write(mapper.writeValueAsBytes(root))
  }

  /** The family's checkpoint binding refusal for this face (see
    * [[FoldStateStore.checkCheckpoint]]). */
  def checkCheckpoint(st: S, stateDir: String, checkpoint: String): Unit =
    FoldStateStore.checkCheckpoint(face, stateDir, st.checkpoint, checkpoint)

  /** The applyBatch skeleton: read, face binding check, fresh-state
    * probe, replay idempotence, fold-then-write. `fold` computes the
    * NEXT snapshot from the current one. */
  def applyBatch(spark: SparkSession, stateDir: String, batchId: Long,
      checkBindings: S => Unit, fold: S => S): S = {
    val st = read(spark, stateDir)
    checkBindings(st)
    // a FRESH state under an already-advanced checkpoint means batches
    // 0..batchId-1 were committed in the checkpoint and will never be
    // re-delivered — their rows would be permanently missing from a
    // state claimed exact
    if (st.lastBatchId < 0L && batchId > 0L)
      throw new IllegalStateException(
        s"$face at $stateDir is empty but the checkpoint resumes at " +
          s"batch $batchId — batches 0..${batchId - 1} were already " +
          "committed and will not be re-delivered, so folding from here " +
          "would silently omit them. Use a fresh checkpoint with a fresh " +
          "state dir (the source will be re-read from the start)")
    if (batchId <= st.lastBatchId) st // replayed batch: already folded
    else {
      val next = fold(st)
      write(spark, stateDir, next)
      next
    }
  }

  /** The ingest chokepoint. `entryCheck` runs the face's binding
    * refusals against (current state, qualified checkpoint id) BEFORE
    * any checkpoint WAL is written; `applyB` is the face's per-batch
    * fold, handed the same qualified checkpoint id. One live stream per
    * state dir. */
  def ingest(spark: SparkSession, sourceDir: String, stateDir: String,
      checkpointDir: String, srcSchema: StructType,
      maxFilesPerTrigger: Int, entryCheck: (S, String) => Unit,
      applyB: (DataFrame, Long, String) => Unit): StreamingQuery = {
    // refuse non-atomic-rename state filesystems (and, conf-gated, run
    // the functional probe) at entry: deferring to the first batch's
    // swap would lay down checkpoint state and then kill the stream
    // asynchronously
    val stateFs = new Path(stateDir, stateName)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.FsCapabilities.assertAtomicRenameAtOpen(stateFs,
      new Path(stateDir), s"streaming $face commit")
    // FS-qualified so every spelling of one checkpoint binds identically
    val ckptPath = new Path(checkpointDir)
    val ckptId = ckptPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(ckptPath).toString
    // the read also finishes any swap a previous process died inside
    entryCheck(read(spark, stateDir), ckptId)
    val reader = spark.readStream.schema(srcSchema)
    val src =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
          .parquet(sourceDir)
      else reader.parquet(sourceDir)
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyB(batch, batchId, ckptId); ()
      }
      .start()
  }

  /** The mergeStates skeleton: locked reads of every input, the shared
    * [[StateMerge.guard]] ladder (`globalNoun` names what an omitted
    * region would misreport), then `combine` (inputs, merged checkpoint
    * binding, max last batch id) — where the face refuses mismatched
    * bindings and runs its semilattice — and the write under `outDir`. */
  def merge(spark: SparkSession, inDirs: Seq[String], outDir: String,
      globalNoun: String)(combine: (Seq[S], String, Long) => S): S = {
    val states = inDirs.map(d => d -> readLocked(spark, d))
    val (ckpt, lastId) = StateMerge.guard[S](spark, face, globalNoun, inDirs,
      outDir, states, _.lastBatchId, _.checkpoint,
      read(spark, outDir).lastBatchId)
    val merged = combine(states.map(_._2), ckpt, lastId)
    write(spark, outDir, merged)
    merged
  }
}

private[streaming] object FoldStateStore {

  /** The checkpoint binding every fold state carries: micro-batch ids
    * restart at 0 under a fresh checkpoint, so a state dir that outlived
    * its checkpoint would skip never-seen data as "replays" (or
    * double-count on a rewound one). ONE message for all sixteen faces. */
  def checkCheckpoint(face: String, stateDir: String, stCheckpoint: String,
      checkpoint: String): Unit =
    if (stCheckpoint != checkpoint)
      throw new IllegalStateException(
        s"$face at $stateDir was folded under checkpoint " +
          s"'$stCheckpoint' but this stream runs under '$checkpoint' — " +
          "batch ids restart at 0 per checkpoint, so continuing would " +
          "skip new data as replays (or double-count on a rewound " +
          "checkpoint). Use a fresh state dir with a fresh checkpoint")

  /** The six grouped folds' per-batch group probe: ONE bounded collect of
    * the batch's per-group relation (group key in column 0), each real
    * group's row folded into `groups` by `add` (from `zero` for a new
    * group), and the group-cap refusal. head(maxGroups + 2): the null
    * group (at most one row) must not displace a real group at the probe
    * boundary, and a batch whose own real-group count exceeds the cap can
    * never fold into a capped state, so the probe both bounds the driver
    * allocation and detects the refusal. Returns the merged groups and
    * the null group's row tally (column `nullCountCol`) — the batch's
    * excluded-row count. `batchPath` names where a per-document key
    * belongs instead. */
  def foldGroups[V](face: String, stateDir: String, maxGroups: Int,
      batchPath: String, perGroup: DataFrame, nullCountCol: Int,
      groups: Map[String, V], zero: V)(add: (V, Row) => V)
      : (Map[String, V], Long) = {
    val rows = perGroup.head(maxGroups + 2)
    val (nullRows, realRows) = rows.partition(_.isNullAt(0))
    val merged = scala.collection.mutable.Map.empty[String, V] ++= groups
    realRows.foreach { r =>
      val g = r.getString(0)
      merged.put(g, add(merged.getOrElse(g, zero), r))
    }
    if (merged.size > maxGroups) {
      // a full probe TRUNCATED the batch's group relation, so the merged
      // count is then only a LOWER BOUND on the real cardinality
      val atLeast = if (rows.length >= maxGroups + 2) "at least " else ""
      throw new IllegalStateException(
        s"$face at $stateDir would hold $atLeast${merged.size} groups, " +
          s"past maxGroups=$maxGroups — the state file (and the per-batch " +
          "driver fold) is bounded BY this cap. Raise maxGroups if the " +
          "group key is genuinely this wide and the driver can hold it, " +
          "or coarsen the group key; a per-document-cardinality key " +
          s"belongs on $batchPath, not a driver-side state file. Batch NOT " +
          "applied; the stream should be stopped and re-planned")
    }
    (merged.toMap,
      nullRows.headOption.map(_.getLong(nullCountCol)).getOrElse(0L))
  }
}
