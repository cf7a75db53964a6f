package perfbench

import graft.store.VectorStore
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark entry point.
  *
  * {{{
  * perfbench.Main --workload <serve_read|serve_mixed|stream>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  * }}}
  *
  * Writes one JSON object to `--out`: `correct`, `attempted`, `failed`,
  * the first `failures`, and a `detail` list of metrics (name, value, unit,
  * sample count, note). With `--trace 0` the metrics are the
  * end-to-end set; with `--trace 1` the per-layer set, measured on a
  * second pass of the same seed with spans recorded (see [[Layers]]). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File, out: File)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("out")))
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv)
    require(Set("serve_read", "serve_mixed", "stream", "train")(args.workload),
      s"unknown workload ${args.workload}")
    args.work.mkdirs()
    Log(s"start ${args.workload} seed=${args.seed}")
    val spark = Env.session(args.work)
    Log("session up")
    val res = new Result
    val tr = new Tracer
    try {
      val env = new Env(spark, args, tr, res, t0)
      args.workload match {
        case "serve_read" => Serve.read(env)
        case "serve_mixed" => Serve.mixed(env)
        case "stream" => StreamW.run(env)
        case "train" =>
          // one short pass over every workload's code: the run that
          // records the class-data sharing archive at build time
          for (w <- Seq("serve_mixed", "stream")) {
            val sub = new Env(spark, args.copy(workload = w, work = new File(args.work, w)),
              tr, new Result, System.nanoTime())
            w match {
              case "serve_mixed" => Serve.mixed(sub)
              case "stream" => StreamW.run(sub)
            }
          }
      }
      if (args.trace) {
        Layers.functions(env)
        tr.dump(new File(args.work.getParentFile, s"trace-${args.workload}-${args.seed}.jsonl"))
      }
    } finally spark.stop()
    val w = new java.io.PrintWriter(args.out, "UTF-8")
    try w.println(res.toJson) finally w.close()
  }
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1000.0}%7.2fs] $msg")
}

/** What every workload shares: the session, the run's directories, the
  * tracer, the result and the seeded inputs. */
final class Env(val spark: SparkSession, val args: Main.Args, val tr: Tracer,
    val res: Result, val startNs: Long) {
  val seed: Long = args.seed
  val trace: Boolean = args.trace
  val nowMs: Long = System.currentTimeMillis()
  val mix = new Gen.Mixture(seed)
  def dir(name: String): String = new File(args.work, name).getAbsolutePath

  /** Store config: 32 IVF clusters over the historical tier, 8 probed. */
  val storeConfig = VectorStore.Config(nClusters = 32, nProbe = 8)

  /** Every store is a [[TracingStore]]: untraced runs use it only for
    * its search entry clock; its spans record only while tracing. */
  def newStore(name: String): TracingStore =
    new TracingStore(spark, dir(name), storeConfig, tr)

  def listener(): Unit = if (trace) spark.sparkContext.addSparkListener(new JobListener(tr))

  def seconds: Int = args.seconds

  /** End-to-end metrics every workload reports (see the README). `heap`
    * is (end of set-up, after the traffic) old-gen MB, the second gated;
    * `p50_ms` is the geometric mean of the medians of `p50Groups`; every
    * kind in `kinds` is also printed with its median and tail, and `all`
    * (every request's latency) with its tail (not gated: a run's few
    * samples per kind do not make a repeatable tail). */
  def endToEnd(setupS: Double, heap: (Double, Double), p50Groups: Map[String, Seq[Double]],
      kinds: Map[String, Seq[Double]], all: Seq[Double], ops: Int, opsPerS: Double,
      opUnit: String): Unit = {
    val groups = p50Groups.filter(_._2.nonEmpty)
    res.put("setup_s", setupS, "s", 1)
    res.put("heap_live_mb", heap._2, "MB", Jvm.SettleSamples,
      "old gen after the traffic: minimum of post-GC samples")
    res.put("heap_setup_mb", heap._1, "MB", 1,
      "old gen after two full GCs at the end of set-up; not gated")
    res.put("p50_ms", Stats.geomean(groups.values.map(Stats.median).toSeq), "ms", ops,
      "geomean of the medians of " + groups.keys.toSeq.sorted.mkString(", "))
    res.put("ops_per_s", opsPerS, "1/s", ops, opUnit)
    for ((k, v) <- kinds.toSeq.sortBy(_._1) if v.nonEmpty) {
      res.put(s"$k.p50_ms", Stats.median(v), "ms", v.size, "not gated")
      val (t, which) = Stats.tail(v)
      res.put(s"$k.tail_ms", t, "ms", v.size, s"$which; not gated")
    }
    val (t, which) = Stats.tail(all)
    res.put("all.tail_ms", t, "ms", all.size, s"$which; not gated")
  }
}

object Env {
  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The Bench session settings at `local[<cores>]`, with every local
    * directory inside the run's work dir. */
  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "ckpt").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val corpusSchema: StructType = new StructType()
    .add("id", StringType, nullable = false)
    .add("embedding", ArrayType(FloatType, containsNull = false))
    .add("metadata", StringType)
    .add("ts", TimestampType)

  def corpusDF(spark: SparkSession, rows: Seq[Gen.Row], nowMs: Long): DataFrame = {
    val rs = rows.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.id, r.vec.toSeq, r.metadata, Gen.tsFor(i, r.old, nowMs))
    }
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), corpusSchema)
  }

  def queryDF(spark: SparkSession, qs: Seq[Array[Float]]): DataFrame = {
    import spark.implicits._
    qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("query_id", "q_embedding")
  }
}

/** The serving fixture: a two-tier store built through the library API.
  * Old rows migrate into 32 IVF clusters with PQ codes; the recent tier
  * gets a routed HNSW graph. Each step is timed under its operator name. */
object Fixture {
  private def timed(name: String)(body: => Unit): (String, Double) = {
    val t = System.nanoTime(); body
    val ms = (System.nanoTime() - t) / 1e6
    Log(f"build $name: $ms%.0f ms")
    (name, ms)
  }

  def build(env: Env, store: VectorStore, rows: Seq[Gen.Row]): Seq[(String, Double)] = Seq(
    timed("insert_df")(store.insertDF(Env.corpusDF(env.spark, rows, env.nowMs))),
    timed("migrate")(store.migrate()),
    timed("hnsw_build")(store.buildRecentIndex(metric = "l2", numBlobs = Env.Cpus,
      routed = true)),
    timed("pq_train")(store.enablePq(m = 8, kCodes = 64, trainSize = 4000)))

  /** SQ and BQ codes over the historical tier. No served search kind reads
    * them, so only a traced run builds them, after its measured phase, for
    * their operator times; every run's set-up is the shorter for it. */
  def scalarCodes(store: VectorStore): Seq[(String, Double)] = Seq(
    timed("sq_encode")(store.enableSq()),
    timed("bq_encode")(store.enableBq()))

  /** Recursive copy of a store directory (a fresh copy per run). */
  def copy(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val it = java.nio.file.Files.walk(src)
    try it.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally it.close()
  }

  /** Bytes under a directory, optionally only below named children. */
  def bytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val it = java.nio.file.Files.walk(p)
      try it.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally it.close()
    }
  }

  /** Parquet part files under the named children of a store. */
  def partFiles(store: String, children: Seq[String]): Long = children.map { c =>
    val p = java.nio.file.Paths.get(store, c)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val it = java.nio.file.Files.walk(p)
      try it.filter(f => f.getFileName.toString.endsWith(".parquet")).count()
      finally it.close()
    }
  }.sum
}
