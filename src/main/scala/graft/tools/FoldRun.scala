package graft.tools

import graft.BenchSession
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{HeavyHitters, HistogramSketch, Profile}
import graft.operators.HistogramSketch.HistogramSpec
import graft.queries.QueryShapes
import graft.streaming._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** Long-run probe for the streaming folds (results -> SCALING.md): for one
  * face and mode, stage `batches` micro-batches of real rows (replicated
  * per scale) one file per batch with strictly increasing mtimes, drive
  * them through the fold's `ingest` one file per trigger, record per batch
  * the trigger wall time and the post-batch state size (a locked read —
  * it cannot hit the lock-free read's by-design contention error), then
  * assert the folded state EQUALS its batch twin over the staged corpus
  * (over the newest `window` batches for a windowed ring).
  *
  * {{{
  * sbt "runMain graft.tools.FoldRun /root/testdata/sf0.1 --face hist --mode grouped"
  * }}}
  *  - `--face hh|hist|sample|moments|comoments|distinct`, `--mode
  *    flat|grouped|windowed` (windowed: moments, hist and distinct).
  *  - `--scales 1,10`: replication decades, one leg each.
  *  - `--batches 50`: micro-batches per leg.
  *  - `--groups N` (grouped): WIDTH — N synthetic sources carved from the
  *    real rows, shifted by a per-batch stride coprime to N so the state
  *    reaches N groups within the first batches even when the corpus has
  *    fewer ids; the group cap is raised to cover N.
  *  - `--poll-ms M`: a thread calls `readStateLocked` every M ms during
  *    ingest and the reader latency is printed; the writer's cost is the
  *    s/batch delta against a run without the flag.
  *  - `--widths 6,64` (windowed): ring widths, one leg each.
  *  - `--grow` (distinct): suffix values per (batch, replica) so the
  *    distinct universe grows by the batch size every batch; without it
  *    every batch replays the same values.
  * The sample face runs every leg at k = 32 and k = 1024. Session cores
  * come from SPARK_GRAFT_CPUS ([[graft.BenchSession]]).
  */
object FoldRun {

  final case class Options(scales: Seq[Int] = Seq(1, 10), batches: Int = 50,
      groups: Option[Int] = None, pollMs: Long = 0L,
      widths: Seq[Int] = Seq(6, 64), grow: Boolean = false)

  /** One leg's outcome: its tag and whether the fold equalled its twin. */
  final case class Leg(tag: String, equal: Boolean)

  /** What one (face, mode) pair supplies to the shared loop. */
  private final case class Fold(stateFile: String,
      start: (String, String, String) => StreamingQuery, // (src, state, chk)
      stateSize: String => Long, // state dir -> size, by one locked read
      truth: (String, DataFrame) => (Boolean, String)) // (state dir, corpus)

  private val SampleKs = Seq(32, 1024)
  private val HistSpec = HistogramSpec(0.0, 1000.0, 2000)
  private val StageEpoch = 1600000000000L

  def run(spark: SparkSession, face: String, mode: String, corpusDir: String,
      opts: Options = Options()): Seq[Leg] = {
    val windowed = mode == "windowed"
    val width = opts.groups.filter(_ => mode == "grouped")
    val params = if (windowed) opts.widths
      else if (face == "sample") SampleKs else Seq(0)
    val folds = params.map(p => p -> fold(spark, face, mode, p, width))
    val base = Tables.load(spark, corpusDir,
      if (face == "hist") "events" else "documents")
    for (scale <- opts.scales; (p, f) <- folds) yield {
      val tag = s"foldrun-$face-$mode" + width.fold("")(g => s"-w$g") +
        (if (opts.grow) "-grow" else "") +
        (if (windowed) s"-window$p" else if (face == "sample") s"-k$p" else "") +
        s"-${scale}x"
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_${tag}_").toString
      try Leg(tag, runLeg(spark, f, tag, tmp, opts,
        i => stage(base, face, scale, i, width, opts.grow),
        if (windowed) Some(p) else None))
      finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  /** The loop every face shares; returns whether the fold was EQUAL. */
  private def runLeg(spark: SparkSession, f: Fold, tag: String, tmp: String,
      opts: Options, batch: Int => DataFrame, window: Option[Int]): Boolean = {
    val (src, state, chk) = (s"$tmp/src", s"$tmp/state", s"$tmp/chk")
    for (i <- 1 to opts.batches)
      QueryShapes.stageOrderedBatches(Seq(batch(i)), src, StageEpoch + i * 1000L)
    val rows = new ConcurrentLinkedQueue[(Long, Double, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        // Spark swallows listener exceptions: a failed read is recorded
        // as a -1 sentinel, never dropped from the data
        if (p.numInputRows > 0)
          rows.add((p.batchId, p.durationMs.get("triggerExecution") / 1000.0,
            try f.stateSize(state) catch { case NonFatal(_) => -1L }))
      }
    }
    val pollLat = new ConcurrentLinkedQueue[java.lang.Long]()
    val pollErr = new AtomicInteger(0)
    @volatile var polling = opts.pollMs > 0
    val poller = new Thread(() => while (polling) {
      val p0 = System.nanoTime()
      try { f.stateSize(state); pollLat.add(System.nanoTime() - p0) }
      catch { case NonFatal(_) => pollErr.incrementAndGet() }
      try Thread.sleep(opts.pollMs)
      catch { case _: InterruptedException => polling = false }
    }, "foldrun-locked-poller")
    poller.setDaemon(true)
    spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    val q = f.start(src, state, chk)
    if (polling) poller.start()
    val total =
      try {
        q.processAllAvailable()
        val drained = (System.nanoTime() - t0) / 1e9
        // progress events reach the listener asynchronously: let the last
        // batches' events land before the listener is removed
        val deadline = System.nanoTime() + 5000000000L
        while (rows.size < opts.batches && System.nanoTime() < deadline)
          Thread.sleep(10)
        drained
      } finally {
        q.stop()
        polling = false
        if (poller.isAlive) { poller.interrupt(); poller.join(5000) }
        spark.streams.removeListener(listener)
      }
    val recs = rows.toArray(Array.empty[(Long, Double, Long)]).sortBy(_._1)
    val files = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified())
    val corpus = spark.read.parquet(
      window.fold(files)(files.takeRight).map(_.getAbsolutePath).toSeq: _*)
    val (equal, detail) = f.truth(state, corpus)
    val stateBytes = new java.io.File(s"$state/${f.stateFile}").length()
    println(s"[$tag] === batches=${opts.batches} " +
      f"total=$total%.1fs state_bytes=$stateBytes " +
      s"max_state_size=${recs.map(_._3).maxOption.getOrElse(0L)} " +
      s"dropped_samples=${recs.count(_._3 < 0)} " +
      s"equivalence=${if (equal) "EQUAL" else "MISMATCH"} ($detail) ===")
    recs.foreach { case (b, s, n) =>
      println(f"[$tag] batch=$b%3d wall=$s%6.2fs state_size=$n%9d") }
    // a ring's steady state starts once it is full
    val steady = recs.drop(window.fold(3)(w => math.max(3, w + 1)))
      .map(_._2).sorted
    if (steady.nonEmpty)
      println(f"[$tag] steady median=${steady(steady.length / 2)}%.2fs " +
        f"max=${steady.last}%.2fs")
    if (opts.pollMs > 0) {
      val lats = pollLat.toArray(Array.empty[java.lang.Long])
        .map(_.longValue / 1e6).sorted
      if (lats.nonEmpty)
        println(f"[$tag] locked-read poller (${opts.pollMs}ms cadence): " +
          f"n=${lats.length} median=${lats(lats.length / 2)}%.1fms " +
          f"p99=${lats((lats.length * 99) / 100)}%.1fms " +
          f"max=${lats.last}%.1fms errors=${pollErr.get()}")
      else println(s"[$tag] locked-read poller: n=0 errors=${pollErr.get()}")
    }
    equal
  }

  /** One staged batch: the face's columns over the base table replicated
    * `scale` times, with `source` the table's own group column unless a
    * width leg synthesizes `width` sources. */
  private def stage(base: DataFrame, face: String, scale: Int, i: Int,
      width: Option[Int], grow: Boolean): DataFrame = {
    val rep = base.withColumn("rep", explode(sequence(lit(0), lit(scale - 1))))
    val id = col(if (face == "hist") "event_id" else "doc_id")
    val source = width match {
      case Some(g) =>
        // the first stride >= 4999 coprime to g walks the whole residue ring
        val stride = Iterator.from(4999)
          .find(s => BigInt(s).gcd(BigInt(g)) == 1).get.toLong
        concat(lit("src_"), pmod(id * scale + col("rep") + lit(i * stride),
          lit(g.toLong)).cast("string"))
      case None => col(if (face == "hist") "event_type" else "source")
    }
    val values: Seq[Column] = face match {
      case "hh" => Seq(col("text"))
      case "hist" => Seq(col("value"))
      // ids disjoint per batch and replica: the id universe grows with the
      // stream, the case the bottom-k must stay O(k) against
      case "sample" => Seq(
        (id + col("rep") * 1000000L + lit(i * 100000000L)).as("doc_id"),
        col("n_chars").cast("double").as("value"))
      case "moments" => Seq(col("n_chars").as("value"))
      case "comoments" => Seq(col("n_chars").as("x"),
        (col("n_chars") * 2 + pmod(id, lit(7L))).as("y"))
      case _ =>
        val fp = TextFunctions.contentFingerprint(col("text"))
        // the trailing separator keeps (batch 1, rep 10) and (batch 11,
        // rep 0) apart
        Seq((if (grow) concat(fp, lit(s"_b${i}_"), col("rep").cast("string"))
          else fp).as("value"))
    }
    rep.select(source.as("source") +: values: _*)
  }

  /** The (face, mode) pair's ingest, state-size reader and truth check;
    * `p` is the ring width (windowed) or the sample's k. */
  private def fold(spark: SparkSession, face: String, mode: String, p: Int,
      width: Option[Int]): Fold = {
    def cap(default: Int) = width.fold(default)(g => math.max(g + 10, default))
    def tokens(corpus: DataFrame, keep: Column*) = corpus.select(
      keep :+ explode(TextFunctions.tokens(col("text"))).as("token"): _*)
    def canonical(lgK: Int, sketch: Array[Byte]) =
      StreamingDistinct.canonicalEstimate(lgK, sketch)
    (face, mode) match {
      case ("hh", "flat") => Fold("mg_state.json",
        (src, sd, chk) => StreamingHeavyHitters.ingest(spark, src, sd, chk,
          denominator = 200L, sketchK = 512, maxFilesPerTrigger = 1),
        sd => StreamingHeavyHitters.readStateLocked(spark, sd).counts.size,
        (sd, corpus) => {
          val toks = tokens(corpus)
          val got = StreamingHeavyHitters
            .heavyHittersFromState(spark, sd, toks, "token", 200L)
            .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
          (got == HeavyHitters.exact(toks, "token", 200L, sketchK = 512)
            .collect().map(r => (r.getString(0), r.getLong(1))).toSeq,
            s"${got.length} heavy hitters")
        })
      case ("hh", "grouped") => Fold("mg_grouped_state.json",
        (src, sd, chk) => StreamingGroupedHeavyHitters.ingest(spark, src, sd,
          chk, denominator = 100L, sketchK = 256, maxFilesPerTrigger = 1,
          maxGroups = cap(StreamingGroupedHeavyHitters.DefaultMaxGroups)),
        sd => StreamingGroupedHeavyHitters.readStateLocked(spark, sd).totalEntries,
        (sd, corpus) => {
          val toks = tokens(corpus, col("source"))
          val got = StreamingGroupedHeavyHitters
            .heavyHittersFromState(spark, sd, toks, "source", "token", 100L)
            .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
            .toSeq
          (got == HeavyHitters
            .exactPerGroup(toks, "source", "token", 100L, sketchK = 256)
            .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
            .toSeq, s"${got.length} grouped heavy hitters")
        })
      case ("hist", "flat") => Fold("hist_state.json",
        (src, sd, chk) => StreamingHistogram.ingest(spark, src, sd, chk,
          HistSpec, maxFilesPerTrigger = 1),
        sd => StreamingHistogram.readStateLocked(spark, sd).bins.size,
        (sd, corpus) => {
          val st = StreamingHistogram.readState(spark, sd)
          (st.bins == binCounts(corpus),
            s"${st.bins.size} exact bins, n=${st.n}")
        })
      case ("hist", "grouped") => Fold("hist_grouped_state.json",
        (src, sd, chk) => StreamingGroupedHistogram.ingest(spark, src, sd, chk,
          HistSpec, groupCol = "source", maxFilesPerTrigger = 1,
          maxGroups = cap(StreamingGroupedHistogram.DefaultMaxGroups)),
        sd => StreamingGroupedHistogram.readStateLocked(spark, sd).totalCells,
        (sd, corpus) => {
          val st = StreamingGroupedHistogram.readState(spark, sd)
          val twin = corpus
            .filter(col("source").isNotNull && col("value").isNotNull)
            .select(col("source"), HistSpec.binExpr(col("value")).as("bin"))
            .groupBy("source", "bin").agg(count(lit(1)))
            .collect().groupBy(_.getString(0))
            .map { case (g, rs) => g -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap }
          (st.groups.map { case (g, h) => g -> h.bins } == twin,
            s"${st.groups.size} groups x exact bins, state_cells=${st.totalCells}")
        })
      case ("hist", "windowed") => Fold("hist_window_state.json",
        (src, sd, chk) => StreamingWindowedHistogram.ingest(spark, src, sd, chk,
          HistSpec, p, maxFilesPerTrigger = 1),
        sd => StreamingWindowedHistogram.readStateLocked(spark, sd).ring.size,
        (sd, corpus) => (StreamingWindowedHistogram.readState(spark, sd)
          .aggregate.bins == binCounts(corpus), s"window=$p, exact bins"))
      case ("sample", "flat") => Fold("sample_state.json",
        (src, sd, chk) => StreamingSample.ingest(spark, src, sd, chk, k = p,
          idCol = "doc_id", valueCol = Some("value"), maxFilesPerTrigger = 1),
        sd => StreamingSample.readStateLocked(spark, sd).entries.size,
        (sd, corpus) => {
          val st = StreamingSample.readState(spark, sd)
          (st.entries ==
            StreamingSample.batchBottomK(corpus, p, valueCol = Some("value")),
            s"k=$p, ${st.entries.size} entries")
        })
      case ("sample", "grouped") => Fold("sample_grouped_state.json",
        (src, sd, chk) => StreamingGroupedSample.ingest(spark, src, sd, chk,
          k = p, valueCol = Some("value"), maxFilesPerTrigger = 1,
          maxGroups = cap(StreamingGroupedSample.DefaultMaxGroups)),
        sd => StreamingGroupedSample.readStateLocked(spark, sd).totalEntries,
        (sd, corpus) => {
          val st = StreamingGroupedSample.readState(spark, sd)
          val twin = StreamingGroupedSample
            .batchBottomKPerGroup(corpus, p, valueCol = Some("value"))
            .collect().groupBy(_.getString(0))
            .map { case (g, rs) =>
              g -> rs.map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq }
          (st.groups.map { case (g, gs) =>
            g -> gs.entries.map(e => (e.key, e.id)).sorted } == twin,
            s"k=$p, ${st.groups.size} groups, ${st.totalEntries} entries")
        })
      case ("moments", "flat") => Fold("moments_state.json",
        (src, sd, chk) => StreamingMoments.ingest(spark, src, sd, chk,
          maxFilesPerTrigger = 1),
        sd => if (StreamingMoments.readStateLocked(spark, sd).lastBatchId >= 0L) 1L else 0L,
        (sd, corpus) => {
          val m = StreamingMoments.readState(spark, sd).moments
          (m == StreamingMoments.batchMoments(corpus, "value"),
            s"rows=${m.nRows}, sum=${m.sum}, sum_sq=${m.sumSq}")
        })
      case ("moments", "grouped") => Fold("moments_grouped_state.json",
        (src, sd, chk) => StreamingGroupedMoments.ingest(spark, src, sd, chk,
          groupCol = "source", maxFilesPerTrigger = 1,
          maxGroups = cap(StreamingGroupedMoments.DefaultMaxGroups)),
        sd => StreamingGroupedMoments.readStateLocked(spark, sd).groups.size,
        (sd, corpus) => {
          val st = StreamingGroupedMoments.readState(spark, sd)
          (st.groups == Profile.momentsPerGroup(corpus, "source", "value")
            .collect().map(r => r.getString(0) ->
              StreamingMoments.momentsFromRow(r, 1, "foldrun truth")).toMap,
            s"${st.groups.size} groups x seven exact numbers")
        })
      case ("moments", "windowed") => Fold("moments_window_state.json",
        (src, sd, chk) => StreamingWindowedMoments.ingest(spark, src, sd, chk,
          p, maxFilesPerTrigger = 1),
        sd => StreamingWindowedMoments.readStateLocked(spark, sd).ring.size,
        (sd, corpus) => (StreamingWindowedMoments.readState(spark, sd)
          .aggregate == StreamingMoments.batchMoments(corpus, "value"),
          s"window=$p, seven exact numbers"))
      case ("comoments", "flat") => Fold("comoments_state.json",
        (src, sd, chk) => StreamingComoments.ingest(spark, src, sd, chk,
          maxFilesPerTrigger = 1),
        sd => if (StreamingComoments.readStateLocked(spark, sd).lastBatchId >= 0L) 1L else 0L,
        (sd, corpus) => {
          val c = StreamingComoments.readState(spark, sd).comoments
          (c == StreamingComoments.batchComoments(corpus, "x", "y"),
            s"xy_sum=${c.xySum}, corr=${c.correlation}")
        })
      case ("comoments", "grouped") => Fold("comoments_grouped_state.json",
        (src, sd, chk) => StreamingGroupedComoments.ingest(spark, src, sd, chk,
          groupCol = "source", maxFilesPerTrigger = 1,
          maxGroups = cap(StreamingGroupedComoments.DefaultMaxGroups)),
        sd => StreamingGroupedComoments.readStateLocked(spark, sd).groups.size,
        (sd, corpus) => {
          val st = StreamingGroupedComoments.readState(spark, sd)
          (st.groups == Profile.comomentsPerGroup(corpus, "source", "x", "y")
            .collect().map(r => r.getString(0) ->
              StreamingComoments.comomentsFromRow(r, 1, "foldrun truth")).toMap,
            s"${st.groups.size} groups x thirteen exact numbers")
        })
      // HLL folds: exact counters plus the canonical estimate, which the
      // semilattice makes equal on a drained stream
      case ("distinct", "flat") => Fold("distinct_state.json",
        (src, sd, chk) => StreamingDistinct.ingest(spark, src, sd, chk,
          maxFilesPerTrigger = 1),
        sd => StreamingDistinct.readStateLocked(spark, sd).sketch.length,
        (sd, corpus) => {
          val st = StreamingDistinct.readState(spark, sd)
          val (n, nNull, sk) = StreamingDistinct.batchSketch(corpus, "value", st.lgK)
          val exact = corpus.select(countDistinct(col("value"))).head().getLong(0)
          val est = st.estimate.getOrElse(0.0)
          ((st.nRows, st.nNull, canonical(st.lgK, st.sketch)) ==
            (n, nNull, canonical(st.lgK, sk)),
            f"exact_distinct=$exact estimate=$est%.1f " +
              f"rel_err=${math.abs(est - exact) / math.max(1L, exact)}%.4f")
        })
      case ("distinct", "grouped") => Fold("distinct_grouped_state.json",
        (src, sd, chk) => StreamingGroupedDistinct.ingest(spark, src, sd, chk,
          groupCol = "source", maxFilesPerTrigger = 1,
          maxGroups = cap(StreamingGroupedDistinct.DefaultMaxGroups)),
        sd => StreamingGroupedDistinct.readStateLocked(spark, sd)
          .groups.valuesIterator.map(_.sketch.length.toLong).sum,
        (sd, corpus) => {
          val st = StreamingGroupedDistinct.readState(spark, sd)
          val twin = corpus.filter(col("source").isNotNull).groupBy("source")
            .agg(count(lit(1)), count(col("value")),
              hll_sketch_agg(col("value"), lit(st.lgK)),
              countDistinct(col("value")))
            .collect().map { r =>
              val sk = if (r.getLong(2) == 0L || r.isNullAt(3)) Array.empty[Byte]
                else r.getAs[Array[Byte]](3)
              r.getString(0) -> ((r.getLong(1), r.getLong(1) - r.getLong(2),
                canonical(st.lgK, sk)), r.getLong(4))
            }.toMap
          val errs = st.groups.collect { case (g, gd) if twin.contains(g) =>
            math.abs(gd.estimate.getOrElse(0.0) - twin(g)._2) /
              math.max(1L, twin(g)._2) }
          (st.groups.map { case (g, gd) =>
            g -> (gd.nRows, gd.nNull, canonical(st.lgK, gd.sketch)) } ==
            twin.map { case (g, (t, _)) => g -> t },
            f"${st.groups.size} groups, max_rel_err=${errs.maxOption.getOrElse(0.0)}%.4f")
        })
      case ("distinct", "windowed") => Fold("distinct_window_state.json",
        (src, sd, chk) => StreamingWindowedDistinct.ingest(spark, src, sd, chk,
          p, maxFilesPerTrigger = 1),
        sd => StreamingWindowedDistinct.readStateLocked(spark, sd).ring.size,
        (sd, corpus) => {
          val st = StreamingWindowedDistinct.readState(spark, sd)
          (StreamingWindowedDistinct.canonicalEstimate(st) ==
            canonical(st.lgK, StreamingDistinct.batchSketch(corpus, "value", st.lgK)._3),
            s"window=$p, canonical estimate")
        })
      case _ => throw new IllegalArgumentException(
        s"unsupported --face $face --mode $mode (faces: hh, hist, sample, " +
          "moments, comoments, distinct; modes: flat, grouped, and windowed " +
          "for moments, hist and distinct)")
    }
  }

  private def binCounts(corpus: DataFrame): Map[Int, Long] =
    HistogramSketch.counts(corpus, "value", HistSpec)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  def main(args: Array[String]): Unit = {
    @annotation.tailrec
    def parse(a: List[String], kv: Map[String, String]): Map[String, String] =
      a match {
        case "--grow" :: t => parse(t, kv + ("grow" -> "true"))
        case k :: v :: t if k.startsWith("--") => parse(t, kv + (k.drop(2) -> v))
        case d :: t => parse(t, kv + ("dir" -> d))
        case Nil => kv
      }
    val kv = parse(args.toList, Map.empty)
    val d = Options()
    val unknown = kv.keySet -- Set("dir", "face", "mode", "scales", "batches",
      "groups", "poll-ms", "widths", "grow")
    require(unknown.isEmpty && kv.contains("face"),
      s"usage: FoldRun [sfDir] --face F [--mode flat|grouped|windowed] " +
        s"[--scales ${d.scales.mkString(",")}] [--batches ${d.batches}] " +
        s"[--groups N] [--poll-ms M] [--widths ${d.widths.mkString(",")}] [--grow]${
          if (unknown.isEmpty) "" else s" (unknown: ${unknown.mkString(", ")})"}")
    def ints(k: String, default: Seq[Int]) =
      kv.get(k).fold(default)(_.split(",").map(_.trim.toInt).toSeq)
    val opts = Options(ints("scales", d.scales),
      kv.get("batches").fold(d.batches)(_.toInt), kv.get("groups").map(_.toInt),
      kv.get("poll-ms").fold(d.pollMs)(_.toLong), ints("widths", d.widths),
      kv.contains("grow"))
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).agg(sum("id")).collect() // JIT and codegen warm-up
    val legs =
      try run(spark, kv("face"), kv.getOrElse("mode", "flat"),
        kv.getOrElse("dir", "/root/testdata/sf0.1"), opts)
      finally spark.stop()
    println(s"[foldrun] ${legs.count(_.equal)}/${legs.size} legs EQUAL")
    if (!legs.forall(_.equal)) sys.exit(1)
  }
}
