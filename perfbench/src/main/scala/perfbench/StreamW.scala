package perfbench

import graft.streaming.{Streaming, StreamingGroupedMoments, StreamingMoments,
  StreamingWindowedMoments}
import graft.streaming.StreamingMoments.Moments
import java.io.File
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `stream`: seeded arrival files go through `Streaming.ingest`, one
  * restart per file (`seconds / 2` files, at least 3), migrating every
  * second micro-batch; about 5% of the
  * rows repeat an earlier id and a few are malformed (wrong dimension,
  * unparseable metadata, null embedding) and must be quarantined. Then a
  * flat, a grouped and a windowed moments fold each drain their own
  * seeded event files with `maxFilesPerTrigger = 1`. */
object StreamW {
  val ArrivalRows = 1000
  val EventFiles = 6
  val EventRows = 4000
  val Window = 4
  val Folds = Seq("flat", "grouped", "windowed")

  /** One arrival file: fresh rows, duplicates of earlier rows and
    * malformed rows, plus the counts the store must end up with. */
  final case class Arrival(rows: Seq[Row], fresh: Int, malformed: Int)

  /** Ingest restarts per run (one arrival file each), scaled by the
    * measured seconds, so every run's median sees the same batch mix. */
  def restarts(env: Env): Int = math.max(3, env.seconds / 2)

  def arrivals(env: Env): Seq[Arrival] = {
    val r = Gen.rng(env.seed, 40)
    val baseMs = env.nowMs - 8 * Gen.DaySec * 1000
    val seen = mutable.ArrayBuffer[Row]()
    (0 until restarts(env)).map { f =>
      val out = mutable.ArrayBuffer[Row]()
      var fresh = 0
      var bad = 0
      for (i <- 0 until ArrivalRows) {
        val u = r.nextDouble()
        if (u < 0.05 && seen.nonEmpty) out += seen(r.nextInt(seen.size))
        else if (u < 0.055) {
          val id = f"bad-$f%03d-$i%04d"
          out += (r.nextInt(3) match {
            case 0 => Row(id, Array.fill(Gen.Dim - 1)(0.5f).toSeq, null, ts(baseMs, f, i))
            case 1 => Row(id, env.mix.sample(r).toSeq, "{not json", ts(baseMs, f, i))
            case _ => Row(id, null, null, ts(baseMs, f, i))
          })
          bad += 1
        } else {
          val g = Gen.row(f"s$f%03d-$i%04d", env.mix, r, old = true)
          val row = Row(g.id, g.vec.toSeq, g.metadata, ts(baseMs, f, i))
          out += row; seen += row; fresh += 1
        }
      }
      Arrival(out.toSeq, fresh, bad)
    }
  }

  // all arrivals sit in one 4-minute band, well inside the 10-minute
  // dedup watermark, and 8 days back so every migration moves rows
  private def ts(baseMs: Long, f: Int, i: Int) =
    new java.sql.Timestamp(baseMs + f * 10000L + i * 10L)

  val eventSchema: StructType = new StructType()
    .add("source", StringType).add("value", LongType)

  def events(env: Env, salt: Long): Seq[Seq[(String, Long)]] = {
    val r = Gen.rng(env.seed, 50 + salt)
    Seq.fill(EventFiles)(Seq.fill(EventRows)(
      (s"s${r.nextInt(8)}", (r.nextGaussian() * 1000).toLong + 5000)))
  }

  def moments(vs: Seq[Long]): Moments =
    Moments(vs.size, 0, vs.min, vs.max, vs.map(BigInt(_)).sum, vs.map(v => BigInt(v) * v).sum)

  /** Write each file's rows as one parquet part into `dir`, with strictly
    * increasing modification times so the file source takes them in
    * order. Spark writes them to a staging dir first. */
  def writeFiles(spark: SparkSession, files: Seq[Seq[Row]], schema: StructType,
      staging: String, dir: String): Seq[File] = {
    val tagged = files.zipWithIndex.flatMap { case (rs, f) => rs.map(r => Row.fromSeq(f +: r.toSeq)) }
    val full = StructType(StructField("file", IntegerType, nullable = false) +: schema.fields)
    val df = spark.createDataFrame(tagged.asJava, full)
    df.repartition(org.apache.spark.sql.functions.col("file")).write
      .partitionBy("file").parquet(staging)
    new File(dir).mkdirs()
    val t = System.currentTimeMillis() - 3600 * 1000L
    files.indices.map { f =>
      val part = new File(staging, s"file=$f").listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new File(new File(dir).getParentFile, s"${new File(dir).getName}-pending-$f.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t + f * 1000L)
      dst
    }
  }

  /** Micro-batch progress of a finished query: (batch durations by phase,
    * input rows). */
  def progress(q: StreamingQuery): Seq[(Map[String, Long], Long)] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(p =>
      (p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap, p.numInputRows))

  def run(env: Env): Unit = {
    val spark = env.spark
    env.listener()
    val arr = arrivals(env)
    // nullable on disk: the malformed rows include a null embedding
    val arrivalSchema = StructType(Streaming.arrivalSchema.fields.map(_.copy(nullable = true)))
    val arrivalFiles = writeFiles(spark, arr.map(_.rows), arrivalSchema,
      env.dir("arrivals_staging"), env.dir("arrivals"))
    val foldEvents = Folds.zipWithIndex.map { case (f, i) => f -> events(env, i) }.toMap
    val foldFiles = Folds.map { f =>
      f -> writeFiles(spark, foldEvents(f).map(_.map { case (s, v) => Row(s, v) }), eventSchema,
        env.dir(s"events_staging_$f"), env.dir(s"events_$f"))
    }.toMap
    // warm-up: one ingest restart and one fold pass on throw-away dirs
    val warmStore = env.newStore("warm_store")
    warmStore.initIfNeeded(Gen.Dim)
    val warmSrc = new File(env.dir("warm_src")); warmSrc.mkdirs()
    java.nio.file.Files.copy(arrivalFiles.head.toPath, new File(warmSrc, "w.parquet").toPath)
    Streaming.ingest(warmStore, warmSrc.getPath, env.dir("warm_ckpt")).awaitTermination()
    val warmEv = new File(env.dir("warm_ev")); warmEv.mkdirs()
    java.nio.file.Files.copy(foldFiles("grouped").head.toPath, new File(warmEv, "e.parquet").toPath)
    StreamingGroupedMoments.ingest(spark, warmEv.getPath, env.dir("warm_state"),
      env.dir("warm_fold_ckpt"), maxFilesPerTrigger = 1).awaitTermination()
    val heap0 = Jvm.liveOldGenMb()
    val setupS = (System.nanoTime() - env.startNs) / 1e9

    if (env.trace) env.tr.begin()
    val store = env.newStore("stream_store")
    store.initIfNeeded(Gen.Dim)
    val src = new File(env.dir("arrivals")); src.mkdirs()
    val batches = mutable.ArrayBuffer[(String, Map[String, Long], Long)]()
    val starts = mutable.ArrayBuffer[Double]()
    val phases = mutable.ArrayBuffer[(String, Long, Long)]()
    val t0 = System.nanoTime()
    arrivalFiles.foreach { f =>
      java.nio.file.Files.move(f.toPath, new File(src, f.getName).toPath)
      val s0 = System.nanoTime()
      val q = Streaming.ingest(store, src.getPath, env.dir("ingest_ckpt"), migrateEvery = 2)
      starts += (System.nanoTime() - s0) / 1e6
      q.awaitTermination()
      progress(q).foreach { case (d, n) => batches += (("ingest", d, n)) }
    }
    val tIngest = System.nanoTime()
    phases += (("ingest", t0, tIngest))
    val stateDirs = Folds.map(f => f -> env.dir(s"state_$f")).toMap
    Folds.foreach { f =>
      val dir = new File(env.dir(s"events_$f"))
      foldFiles(f).foreach(p => java.nio.file.Files.move(p.toPath, new File(dir, p.getName).toPath))
      val p0 = System.nanoTime()
      val q = f match {
        case "flat" => StreamingMoments.ingest(spark, dir.getPath, stateDirs(f),
          env.dir(s"ckpt_$f"), maxFilesPerTrigger = 1)
        case "grouped" => StreamingGroupedMoments.ingest(spark, dir.getPath, stateDirs(f),
          env.dir(s"ckpt_$f"), maxFilesPerTrigger = 1)
        case "windowed" => StreamingWindowedMoments.ingest(spark, dir.getPath, stateDirs(f),
          env.dir(s"ckpt_$f"), Window, maxFilesPerTrigger = 1)
      }
      starts += (System.nanoTime() - p0) / 1e6
      q.awaitTermination()
      progress(q).foreach { case (d, n) => batches += ((f, d, n)) }
      phases += ((f, p0, System.nanoTime()))
    }
    val t1 = System.nanoTime()
    if (env.trace) env.tr.finish()
    val heap1 = Jvm.settledOldGenMb()

    // output checks: accepted and quarantined counts, folded moments
    val st = store.stats()
    env.res.check(st.recentCount + st.historicalCount == arr.map(_.fresh).sum,
      s"stream accepted ${st.recentCount + st.historicalCount} rows, expected ${arr.map(_.fresh).sum}")
    val quarantined = spark.read.parquet(s"${store.path}/quarantine").count()
    env.res.check(quarantined == arr.map(_.malformed).sum,
      s"stream quarantined $quarantined rows, expected ${arr.map(_.malformed).sum}")
    env.res.check(batches.count(_._1 == "ingest") == arr.size,
      s"${batches.count(_._1 == "ingest")} ingest batches for ${arr.size} files")
    val flatExp = moments(foldEvents("flat").flatten.map(_._2))
    env.res.check(StreamingMoments.readState(spark, stateDirs("flat")).moments == flatExp,
      "flat fold state differs from the events' moments")
    val grouped = StreamingGroupedMoments.readState(spark, stateDirs("grouped")).groups
    val groupedExp = foldEvents("grouped").flatten.groupBy(_._1).map { case (k, v) => k -> moments(v.map(_._2)) }
    env.res.check(grouped == groupedExp, "grouped fold state differs from the events' moments")
    val ring = StreamingWindowedMoments.readState(spark, stateDirs("windowed")).ring.map(_._2)
    val ringExp = foldEvents("windowed").takeRight(Window).map(e => moments(e.map(_._2)))
    env.res.check(ring == ringExp, "windowed fold ring differs from the newest files' moments")

    val kinds = batches.groupBy(_._1).map { case (k, bs) =>
      k -> bs.map(_._2.getOrElse("triggerExecution", 0L).toDouble).toSeq
    }
    val rows = batches.map(_._3).sum
    if (!env.trace) {
      env.endToEnd(setupS, (heap0, heap1), kinds, kinds, kinds.values.flatten.toSeq, batches.size,
        rows / ((t1 - t0) / 1e9), "input rows per second (ingest and folds)")
    } else {
      val r = env.res
      for (ph <- Seq("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning",
          "getBatch"))
        r.put(s"streaming.${ph}_ms", batches.map(_._2.getOrElse(ph, 0L).toDouble).sum / batches.size,
          "ms", batches.size, "mean over all micro-batches (whole-ms progress values)")
      Bus.drain(spark)
      phases.foreach { case (name, lo, hi) =>
        val js = env.tr.jobs.asScala.filter(j => j.start >= lo && j.start <= hi).toSeq
        val nb = math.max(1, batches.count(_._1 == name))
        r.put(s"streaming.tasks_per_batch.$name",
          Layers.stageSum(env, js)(_.tasks).toDouble / nb, "count", nb)
      }
      Folds.foreach(f => r.put(s"streaming.state_bytes.$f", Fixture.bytes(stateDirs(f)).toDouble,
        "bytes", 1))
      r.put("streaming.start_ms", Stats.median(starts.toSeq), "ms", starts.size,
        "query start() call, median")
      val migs = env.tr.named("store.migrate")
      r.put("streaming.migrations", migs.size.toDouble, "count", 1)
      r.put("streaming.migrate_ms", migs.map(_.ms).sum, "ms", migs.size, "total")
      r.put("store.migrate_s", migs.map(_.ms).sum / 1000, "s", migs.size)
      Layers.phase(env, "stream", t0, t1)
      Layers.storeFiles(env, "stream_store", arr.map(_.fresh).sum)
      r.put("jvm.gc_ms", env.tr.gcWindowMs.toDouble, "ms", 1, "GC time in the measured phase")
    }
  }
}
