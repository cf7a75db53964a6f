package graft.streaming

/** The sliding-window ring contract: the pieces every windowed face
  * ([[StreamingWindowedMoments]], [[StreamingWindowedHistogram]],
  * [[StreamingWindowedDistinct]], [[StreamingWindowedHeavyHitters]])
  * must agree on, so the refusal messages and the eviction rule cannot
  * drift between them — the window-width validation, the ring file-name
  * registry [[StateMerge]] probes, the merge refusal, the common
  * bindings and the slide. The state file itself goes through the same
  * [[FoldStateStore]] as every all-time face. */
private[streaming] object WindowedRing {

  /** Every ring state file name — [[StateMerge]] probes these so a
    * windowed dir fed to an all-time merge is refused with the real
    * reason instead of the misleading "holds no folded batches". A new
    * ring face MUST add its file name here. */
  val StateFileNames: Seq[String] = Seq("moments_window_state.json",
    "hist_window_state.json", "distinct_window_state.json",
    "mg_window_state.json")

  /** A ring face's state file name, checked against
    * [[StateFileNames]] when the face's store is built. */
  def registered(stateName: String): String = {
    require(StateFileNames.contains(stateName),
      s"ring state file '$stateName' must be registered in " +
        "WindowedRing.StateFileNames (the StateMerge ring probe reads " +
        "that list)")
    stateName
  }

  def requireWindow(window: Int): Unit =
    require(window > 0, s"window must be positive, got $window")

  /** The ring faces' OWN merge refusal — the flat-dir-into-ring mistake
    * (someone calling a windowed face's mergeStates at all): every ring
    * face exposes a `mergeStates` that throws this, so the error names
    * the real reason instead of a missing method or a generic read
    * failure. ONE message with the all-time remediation. */
  def refuseMerge(face: String): Nothing =
    throw new UnsupportedOperationException(
      s"$face cannot be cross-cluster merged: ring states from " +
        "different checkpoints hold non-aligned batch windows (batch " +
        "ids restart per checkpoint and slide independently), so a " +
        "merged \"last N batches\" is not well-defined. Merge the " +
        "all-time faces instead, or compare the windowed envelopes " +
        "side by side")

  /** The two ring-universal binding refusals: checkpoint identity (the
    * family rule) and WINDOW WIDTH identity (ring-specific: widening
    * cannot recover already-evicted batches, narrowing silently
    * reinterprets history). Face-specific bindings (value column /
    * binning) are checked by the caller after this. */
  def checkCommonBindings(face: String, stateDir: String,
      stCheckpoint: String, checkpoint: String, stWindow: Int,
      window: Int): Unit = {
    FoldStateStore.checkCheckpoint(face, stateDir, stCheckpoint, checkpoint)
    if (stWindow != window)
      throw new IllegalStateException(
        s"$face at $stateDir was folded at window=$stWindow but this " +
          s"stream uses window=$window — a window's ring is only " +
          "meaningful at its own width (widening cannot recover " +
          "already-evicted batches; narrowing silently reinterprets " +
          "history). Use a fresh state dir to change the window")
  }

  /** The eviction rule: append the new slot, keep the newest `window`.
    * ONE definition so every face slides identically (empty batches
    * occupy slots — the window counts ingest time, not rows). */
  def slide[T](ring: Seq[T], entry: T, window: Int): Seq[T] =
    (ring :+ entry).takeRight(window)
}
