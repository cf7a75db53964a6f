package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The shared cross-cluster merge contract — ONE implementation of the
  * guard ladder every face's `mergeStates` runs before its own
  * semilattice arithmetic, so the contract (and its remediation
  * messages) cannot drift across the twelve folds: arity, duplicate
  * inputs and self-output refused on FILESYSTEM-QUALIFIED paths (a
  * trailing slash or relative spelling of the same dir must not slip
  * past a raw string compare), the ring-artifact refusal (a windowed
  * state dir fed to an all-time merge would otherwise die with the
  * misleading "holds no folded batches"), the empty-region refusal (a
  * region that folded nothing must not silently make the merged profile
  * look complete), the duplicate-CHECKPOINT refusal (each regional fold
  * is bound to one checkpoint, so two inputs carrying the same binding
  * are the same stream's state twice — merging them double-counts every
  * additive statistic), the no-clobber rule on the output dir, and the
  * synthesis of the merged artifact's `merged:[ckpt,...]` checkpoint
  * binding — a string that can never equal a real FS-qualified
  * checkpoint path, which is what makes ingesting INTO a merged
  * artifact trip each face's existing checkpoint binding refusal.
  * Face-specific binding equality (value column / ordered pair /
  * (k, salt) / (lgK, col) / binning / k) stays with each face: the
  * types and the remediation differ genuinely. */
private[streaming] object StateMerge {

  /** Run the shared guard ladder; returns the merged artifact's
    * (checkpoint, lastBatchId) — checkpoint the sorted `merged:[...]`
    * synthesis, lastBatchId the max over inputs (observability only;
    * the synthetic checkpoint is what protects the artifact).
    *
    * @param face       the state's display name in errors, e.g.
    *                   "grouped moments state"
    * @param globalNoun what an omitted region would misreport, e.g.
    *                   "global profile" / "global sample"
    * @param states     (stateDir, locked-read snapshot) per input
    * @param priorLastBatchId the OUTPUT dir's current lastBatchId
    *                   (< 0 = nothing there, merge may proceed) */
  def guard[S](spark: SparkSession, face: String, globalNoun: String,
      inDirs: Seq[String], outDir: String, states: Seq[(String, S)],
      lastBatchId: S => Long, checkpoint: S => String,
      priorLastBatchId: Long): (String, Long) = {
    require(inDirs.size >= 2,
      s"mergeStates needs >= 2 input state dirs, got ${inDirs.size}")
    // path identity is FILESYSTEM identity: qualify before comparing so
    // "dir/", "./dir" and the fully-qualified spelling all name one dir
    def qualify(d: String): String = {
      val p = new Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toString
    }
    val qIn = inDirs.map(qualify)
    qIn.diff(qIn.distinct).headOption.foreach { dup =>
      throw new IllegalArgumentException(
        s"mergeStates input state dir $dup is listed more than once — " +
          "a duplicated input would double-count that region's fold")
    }
    if (qIn.contains(qualify(outDir)))
      throw new IllegalArgumentException(
        "mergeStates output dir must not be one of the inputs (the " +
          "merge would read and clobber the same state); use a fresh " +
          "output dir")
    // a WINDOWED state dir fed to an all-time merge: its own state file
    // name differs, so the face's read legitimately found nothing — but
    // "holds no folded batches" would misdiagnose the mistake. Refuse
    // with the real reason: ring states from different checkpoints hold
    // non-aligned batch windows, so a merged "last N batches" is not
    // well-defined.
    states.filter(s => lastBatchId(s._2) < 0L).foreach { case (d, _) =>
      val dirPath = new Path(d)
      val fs = dirPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      WindowedRing.StateFileNames.find(n =>
          try fs.exists(new Path(dirPath, n))
          catch { case scala.util.control.NonFatal(_) => false })
        .foreach { ringFile =>
          throw new IllegalStateException(
            s"$face merge input $d holds a WINDOWED ring state " +
              s"($ringFile), not an all-time fold — ring states from " +
              "different checkpoints hold non-aligned batch windows, " +
              "so a merged \"last N batches\" is not well-defined. " +
              "Merge the all-time faces instead, or compare the " +
              "windowed envelopes side by side")
        }
    }
    states.find(s => lastBatchId(s._2) < 0L).foreach { case (d, _) =>
      throw new IllegalStateException(
        s"$face under $d holds no folded batches — refusing to merge " +
          s"an empty region (it would silently misreport the $globalNoun " +
          "as complete); start that fold or drop it from the merge")
    }
    // each regional fold is bound to ONE checkpoint, so two inputs with
    // the same binding are the same stream's state twice (a copied dir,
    // or the same dir under two spellings a remote FS qualified apart):
    // every additive statistic (sums, bin counts, MG mass, nRows) would
    // silently double-count that region
    val ckpts = states.map(s => checkpoint(s._2))
    ckpts.diff(ckpts.distinct).headOption.foreach { dup =>
      throw new IllegalStateException(
        s"mergeStates: two input ${face}s carry the same checkpoint " +
          s"binding '$dup' — the checkpoint is the stream's identity, " +
          "so these are the same regional fold twice and merging them " +
          "would double-count that region; drop the duplicate (re-fold " +
          "under a distinct checkpoint if the regions really are " +
          "different streams)")
    }
    if (priorLastBatchId >= 0L)
      throw new IllegalStateException(
        s"merge output dir $outDir already holds a folded $face — " +
          "merges never clobber; use a fresh output dir")
    ("merged:" + ckpts.sorted.mkString("[", ",", "]"),
      states.map(s => lastBatchId(s._2)).max)
  }

  /** The face-binding refusal every merge runs after [[guard]]: all
    * inputs must carry the same `what` (value column, ordered pair, k,
    * binning, ...); returns that one binding. `why` says what a mixed
    * merge would break. */
  def sameBinding[B](what: String, bindings: Seq[B], show: B => String,
      why: String): B = {
    val distinct = bindings.distinct
    if (distinct.size > 1)
      throw new IllegalStateException(
        s"mergeStates: inputs fold different $what " +
          distinct.map(show).mkString(", ") + " — " + why)
    distinct.head
  }

  /** The shared union-cap refusal for the grouped merges: regional
    * group sets may be disjoint, so the UNION can exceed what any one
    * region held. */
  def checkMergedGroupCap(face: String, mergedGroups: Int,
      maxGroups: Int): Unit =
    if (mergedGroups > maxGroups)
      throw new IllegalStateException(
        s"merged $face would hold $mergedGroups groups, past " +
          s"maxGroups=$maxGroups — the regional group sets union wider " +
          "than the cap. Raise maxGroups if the merged driver/monitor " +
          "can hold it, or coarsen the group key before folding")
}
