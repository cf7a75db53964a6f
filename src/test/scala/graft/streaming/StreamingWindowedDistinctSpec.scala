package graft.streaming

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Sliding-window cardinality (the ring design's third instantiation,
  * on the promoted [[FoldStateStore]] scaffold): the window union's
  * registers EQUAL the one-shot sketch over exactly the newest `window`
  * batches' rows (the HLL semilattice — canonical-estimate equality,
  * the flat face's estimator-normalization rule), eviction really
  * drops evicted batches' values, exact window counters, replay
  * idempotence, and binding guards (checkpoint, (lgK, column), AND the
  * window width). */
class StreamingWindowedDistinctSpec extends SparkSpec {
  import spark.implicits._

  private def stageOrdered(src: String, batches: Seq[Seq[String]],
      base: Long = 1600000000000L): Unit =
    graft.queries.QueryShapes.stageOrderedBatches(
      batches.map(_.toDF("value")), src, base)

  test("window union EQUALS the one-shot sketch over the newest N batches") {
    val tmp = Files.createTempDirectory("graft_swdis_").toString
    // batch 0 holds 400 ids never seen again: with window=3 over 6
    // batches they MUST leave the estimate after eviction — the trap
    // for a single-running-sketch design (HLL registers have no
    // inverse; only a ring of per-batch sketches can forget)
    val batches: Seq[Seq[String]] =
      Seq((0 until 400).map(i => s"only0_$i")) ++
        (1 until 6).map(b => (0 until 100).map(j => s"v${b * 50 + j}"))
    stageOrdered(s"$tmp/src", batches)
    val q = StreamingWindowedDistinct.ingest(spark, s"$tmp/src",
      s"$tmp/state", s"$tmp/chk", window = 3, maxFilesPerTrigger = 1)
    q.processAllAvailable(); q.stop()
    val st = StreamingWindowedDistinct.readState(spark, s"$tmp/state")
    assert(st.lastBatchId == 5L && st.window == 3)
    assert(st.ring.map(_._1) == Seq(3L, 4L, 5L), "ring holds newest 3")
    val want = batches.takeRight(3).flatten
    assert(st.nRows == want.size.toLong && st.nNull == 0L,
      "window envelope counters must describe exactly the window")
    // the HLL semilattice: union of the ring's per-batch sketches has
    // the SAME registers as the one-shot sketch over the window's rows
    // — canonical estimates are therefore EQUAL, not merely close
    val (_, _, twin) = StreamingDistinct.batchSketch(
      want.toDF("value"), "value", st.lgK)
    assert(StreamingWindowedDistinct.canonicalEstimate(st) ==
      StreamingDistinct.canonicalEstimate(st.lgK, twin),
      "ring union registers diverged from the one-shot window sketch")
    // eviction is real: batch 0's 400 unique ids are gone — the window
    // estimate must sit near the window's ~200 distinct, not near 600
    val est = st.estimate.get
    val exact = want.distinct.size.toDouble
    assert(math.abs(est - exact) / exact <= 0.05,
      s"windowed estimate $est not within 5% of window-exact $exact")

    // resume under the same checkpoint: new arrivals slide the window
    stageOrdered(s"$tmp/src", Seq((0 until 30).map(i => s"w$i")),
      base = 1600000100000L)
    val q2 = StreamingWindowedDistinct.ingest(spark, s"$tmp/src",
      s"$tmp/state", s"$tmp/chk", window = 3, maxFilesPerTrigger = 1)
    q2.processAllAvailable(); q2.stop()
    val st2 = StreamingWindowedDistinct.readState(spark, s"$tmp/state")
    assert(st2.ring.map(_._1) == Seq(4L, 5L, 6L))
    val want2 = (batches :+ (0 until 30).map(i => s"w$i")).takeRight(3)
      .flatten
    val (_, _, twin2) = StreamingDistinct.batchSketch(
      want2.toDF("value"), "value", st2.lgK)
    assert(StreamingWindowedDistinct.canonicalEstimate(st2) ==
      StreamingDistinct.canonicalEstimate(st2.lgK, twin2),
      "post-resume window diverged")
  }

  test("replay idempotence, null accounting, binding guards, state roundtrip") {
    val tmp = Files.createTempDirectory("graft_swdis_g_").toString
    val ck = "file:ckpt-a"
    val b0 = Seq(Some("a"), Some("b"), None).map(v => Tuple1(v.orNull))
      .toDF("value")
    val st1 = StreamingWindowedDistinct.applyBatch(spark, tmp, 12, 3, ck,
      b0, "value", 0L)
    assert(st1.ring.size == 1 && st1.nRows == 3L && st1.nNull == 1L)
    assert(math.rint(st1.estimate.get) == 2.0)
    // replayed batch id: skipped, state unchanged (content equality —
    // the BatchSlot sketch-bytes equals override)
    val st1b = StreamingWindowedDistinct.applyBatch(spark, tmp, 12, 3, ck,
      Seq("zz").toDF("value"), "value", 0L)
    assert(st1b == st1)
    // the state file round-trips through the promoted scaffold
    val rt = StreamingWindowedDistinct.readState(spark, tmp)
    assert(rt == st1, "state roundtrip diverged")
    // wrong checkpoint / lgK / column / WINDOW: loud refusals
    intercept[IllegalStateException](StreamingWindowedDistinct.applyBatch(
      spark, tmp, 12, 3, "file:ckpt-B", b0, "value", 1L))
    val eK = intercept[IllegalStateException](StreamingWindowedDistinct
      .applyBatch(spark, tmp, 14, 3, ck, b0, "value", 1L))
    assert(eK.getMessage.contains("lgK=12") &&
      eK.getMessage.contains("lgK=14"))
    intercept[IllegalStateException](StreamingWindowedDistinct.applyBatch(
      spark, tmp, 12, 3, ck, Seq("x").toDF("other"), "other", 1L))
    val eW = intercept[IllegalStateException](StreamingWindowedDistinct
      .applyBatch(spark, tmp, 12, 5, ck, b0, "value", 1L))
    assert(eW.getMessage.contains("window=3") &&
      eW.getMessage.contains("window=5"))
    // fresh state under an advanced checkpoint: the omitted-data guard
    val fresh = Files.createTempDirectory("graft_swdis_f_").toString
    intercept[IllegalStateException](StreamingWindowedDistinct.applyBatch(
      spark, fresh, 12, 3, ck, b0, "value", 5L))
    // an all-null batch occupies a slot with an EMPTY sketch (estimate
    // unchanged; the no-values rule), and an empty batch slides too
    val st2 = StreamingWindowedDistinct.applyBatch(spark, tmp, 12, 3, ck,
      Seq(Tuple1(null: String)).toDF("value"), "value", 1L)
    assert(st2.ring.size == 2 && st2.ring.last._2.sketch.isEmpty)
    assert(st2.nNull == 2L &&
      math.rint(st2.estimate.get) == 2.0)
    // ingest argument validation
    intercept[IllegalArgumentException](StreamingWindowedDistinct.ingest(
      spark, s"$tmp/nosrc", s"$tmp/nostate", s"$tmp/nochk", window = 0))
    intercept[IllegalArgumentException](StreamingWindowedDistinct.ingest(
      spark, s"$tmp/nosrc", s"$tmp/nostate", s"$tmp/nochk", window = 3,
      lgK = 2))
  }
}
