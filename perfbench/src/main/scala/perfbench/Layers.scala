package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, computed from the [[Tracer]]'s
  * spans, jobs and stages. Layer names follow the repo's modules:
  * `serve` (RestServer), `store` (VectorStore), `core` (Hadoop FS I/O
  * under FsSwap / WriterLease), `operators` (index and scan operators),
  * `functions` (distance and filter kernels), `streaming` (ingest and
  * folds), plus `jvm` and the tracing overhead itself. A metric that a
  * workload does not exercise is absent here and reported as 0. */
object Layers {
  private def ms(ns: Long): Double = ns / 1e6

  def jobsOf(env: Env, op: Long): Seq[JobRec] =
    env.tr.jobs.asScala.filter(_.op == op).toSeq

  def stageSum(env: Env, jobs: Seq[JobRec])(f: StageRec => Long): Long =
    jobs.flatMap(_.stages).distinct.flatMap(id => Option(env.tr.stages.get(id))).map(f).sum

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A store call with its jobs: the call span, the jobs it tagged, and
    * the end of its last job (or of the call, if later). */
  final case class Call(span: Span, jobs: Seq[JobRec]) {
    val end: Long = (jobs.map(_.end) :+ span.end).max
    def kind: String = span.name.stripPrefix("store.").stripPrefix("search.")
    def intervals: Seq[(Long, Long)] = jobs.map(j => (j.start, j.end))
  }

  def calls(env: Env, lo: Long, hi: Long): Seq[Call] = {
    Bus.drain(env.spark)
    env.tr.named("store.").filter(s => s.start >= lo && s.start <= hi)
      .sortBy(_.start).map(s => Call(s, jobsOf(env, s.id)))
  }

  /** Client requests matched to the store call that served them: the
    * dispatcher is serial, so each call belongs to the earliest-sent
    * unmatched request of its kind that was in flight around it. Cached
    * searches reach no store call. */
  def matchCalls(ops: Seq[Op], cs: Seq[Call]): Seq[(Op, Call)] = {
    val pending = mutable.Map[String, mutable.ArrayBuffer[Op]]()
    ops.filterNot(_.cached).sortBy(_.send)
      .foreach(o => pending.getOrElseUpdate(o.kind, mutable.ArrayBuffer()) += o)
    cs.flatMap { c =>
      pending.get(c.kind).flatMap { q =>
        val i = q.indexWhere(o => o.send <= c.span.start && o.recv >= c.span.end)
        if (i < 0) None else Some(q.remove(i) -> c)
      }
    }
  }

  def serve(env: Env, ops: Seq[Op], window: (Long, Long),
      maint: Seq[(String, Double)], path: Boolean): Unit = {
    val r = env.res
    val cs = calls(env, window._1, window._2)
    val matched = matchCalls(ops, cs)
    // client request spans, and each store call linked to its request
    val reqIds = ops.map { o =>
      val id = env.tr.nextId()
      env.tr.add(Span(id, s"http.${o.kind}", o.send, o.recv))
      o -> id
    }.toMap
    matched.foreach { case (o, c) => env.tr.parents.put(c.span.id, reqIds(o)) }
    val searches = ops.filter(_.isSearch)
    val ms0 = matched.filter(_._1.isSearch)
    r.put("serve.self_ms", Stats.median(ms0.map { case (o, c) => ms(o.recv - c.end) }),
      "ms", ms0.size, "last Spark job of the store call to the response: rows to JSON, HTTP")
    r.put("serve.wait_ms", Stats.median(matched.map { case (o, c) => ms(c.span.start - o.send) }),
      "ms", matched.size, "client send to store-call start: queueing and decode")
    r.put("serve.cache_hit_ratio",
      if (searches.isEmpty) 0.0 else searches.count(_.cached).toDouble / searches.size,
      "ratio", searches.size)
    for (k <- Serve.Mix.map(_._1)) {
      val mk = ms0.filter(_._1.kind == k)
      val n = mk.size
      r.put(s"store.plan_ms.$k", Stats.median(mk.map(_._2.span.ms)), "ms", n)
      r.put(s"store.result_ms.$k", Stats.median(mk.map { case (_, c) => ms(c.end - c.span.end) }), "ms", n)
      r.put(s"store.jobs_per_search.$k", mean(mk.map(_._2.jobs.size.toDouble)), "count", n)
      r.put(s"store.tasks_per_search.$k",
        mean(mk.map(m => stageSum(env, m._2.jobs)(_.tasks).toDouble)), "count", n)
      r.put(s"store.driver_gap_ms.$k", Stats.median(mk.map { case (_, c) =>
        ms(Intervals.uncovered(c.span.start, c.end, c.intervals))
      }), "ms", n, "store-call time no Spark job covers")
      r.put(s"store.rows_read_per_result.$k", mean(mk.map { case (o, c) =>
        stageSum(env, c.jobs)(_.recordsRead).toDouble / math.max(1, o.hits.size)
      }), "count", n)
      // the blocking path of this kind: the medians of its self times
      // added up, to set against the untraced latency (serve_read only: on
      // serve_mixed the path is mostly queueing)
      if (path)
        r.put(s"trace.path_ms.$k", Seq[((Op, Call)) => Long](
          { case (o, c) => c.span.start - o.send },
          { case (_, c) => Intervals.uncovered(c.span.start, c.end, c.intervals) },
          { case (_, c) => Intervals.covered(c.span.start, c.end, c.intervals) },
          { case (o, c) => o.recv - c.end }
        ).map(f => Stats.median(mk.map(m => ms(f(m))))).sum, "ms", n,
          "sum of the medians of serve wait, store driver gap, job time, serve self")
    }
    val writes = matched.filterNot(_._1.isSearch)
    for (k <- Seq("insert", "batch_insert", "delete", "get")) {
      val w = writes.filter(_._1.kind == k)
      if (w.nonEmpty)
        r.put(s"store.write_ms.$k", Stats.median(w.map { case (_, c) => ms(c.end - c.span.start) }),
          "ms", w.size)
    }
    val realWrites = writes.filter(_._1.kind != "get")
    if (realWrites.nonEmpty)
      r.put("store.jobs_per_write", mean(realWrites.map(_._2.jobs.size.toDouble)), "count",
        realWrites.size)
    maint.foreach {
      case ("vacuum", t) => r.put("store.vacuum_s", t / 1000, "s", 1)
      case ("migrate", t) => r.put("store.migrate_s", t / 1000, "s", 1)
      case ("reindex", t) => r.put("store.reindex_s", t / 1000, "s", 1)
      case ("pq_rebuild", t) => r.put("operators.pq_train_s", t / 1000, "s", 1)
      case _ =>
    }
    phase(env, "serve", window._1, window._2)
    r.put("jvm.gc_ms", env.tr.gcWindowMs.toDouble, "ms", 1, "GC time in the traced window")
  }

  /** FS bytes written per write and write amplification (bytes written
    * per raw vector byte inserted) over the traced window of serve_mixed.
    * The local file system counts bytes, not operations. */
  def writeIo(env: Env, writes: Int, insertedRows: Int): Unit = {
    val fs = env.tr.fsWindow
    if (writes > 0)
      env.res.put("core.fs_write_kb_per_write", fs.bytesWritten / 1024.0 / writes, "KB", writes)
    if (insertedRows > 0)
      env.res.put("core.write_amp", fs.bytesWritten.toDouble / (insertedRows * Gen.Dim * 4L),
        "ratio", insertedRows)
  }

  /** Executor busy share, shuffle and spill bytes of the jobs that
    * started inside a phase. */
  def phase(env: Env, name: String, lo: Long, hi: Long): Unit = {
    Bus.drain(env.spark)
    val js = env.tr.jobs.asScala.filter(j => j.start >= lo && j.start <= hi).toSeq
    val run = stageSum(env, js)(_.runMs)
    env.res.put(s"operators.core_util.$name", run / (ms(hi - lo) * Env.Cpus), "ratio", js.size,
      "executor run time over wall x cores")
    env.res.put(s"operators.shuffle_bytes.$name", stageSum(env, js)(_.shuffleWrite).toDouble,
      "bytes", js.size)
    env.res.put(s"operators.spill_bytes.$name", stageSum(env, js)(_.spill).toDouble, "bytes", js.size)
  }

  /** Fixture build steps as operator metrics (seconds). */
  def build(env: Env, steps: Seq[(String, Double)]): Unit = steps.foreach {
    case ("migrate", t) => env.res.put("store.migrate_s", t / 1000, "s", 1)
    case ("hnsw_build", t) =>
      env.res.put("operators.hnsw_build_s", t / 1000, "s", 1)
      env.res.put("store.reindex_s", t / 1000, "s", 1)
    case (k, t) => env.res.put(s"operators.${k}_s", t / 1000, "s", 1)
  }

  /** Live part files and space amplification of a store directory. */
  def storeFiles(env: Env, name: String, rows: Int): Unit = {
    env.res.put("store.live_files",
      Fixture.partFiles(env.dir(name), Seq("recent", "tombstones")).toDouble, "count", 1,
      "parquet parts under recent/ and tombstones/")
    env.res.put("store.space_amp", Fixture.bytes(env.dir(name)).toDouble / (rows * Gen.Dim * 4L),
      "ratio", 1, "store bytes over raw vector bytes")
  }

  /** Tracing overhead: the untraced against the traced requests of one
    * interleaved client stream, per kind. */
  def overhead(env: Env, untraced: Seq[Op], traced: Seq[Op]): Unit = {
    def med(os: Seq[Op]) = os.groupBy(_.kind).map { case (k, v) => k -> Stats.median(v.map(_.ms)) }
    val (u, t) = (med(untraced), med(traced))
    val kinds = u.keySet.intersect(t.keySet).toSeq
    u.foreach { case (k, v) => env.res.put(s"trace.untraced_p50_ms.$k", v, "ms",
      untraced.count(_.kind == k)) }
    if (kinds.nonEmpty) {
      val gu = Stats.geomean(kinds.map(u)); val gt = Stats.geomean(kinds.map(t))
      env.res.put("trace.overhead_pct", 100 * (gt - gu) / gu, "%", traced.size,
        "traced minus untraced geomean p50, same run")
    }
  }

  /** Kernel passes of the `functions` layer over a fixed block: a
    * broadcast block of queries against the corpus, timed with 64 and
    * with 1 query so the per-job fixed cost cancels. */
  def functions(env: Env): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExpressions.{vecCosine, vecL2}
    val spark = env.spark
    val rows = Gen.corpus(env.seed, env.mix, 20000)
    val corpus = Env.corpusDF(spark, rows, env.nowMs).repartition(Env.Cpus).cache()
    corpus.count()
    val qs = Gen.queries(env.seed, 77, env.mix, 64)
    def pass(n: Int, f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): Double = {
      val q = broadcast(Env.queryDF(spark, qs.take(n)))
      (0 until 3).map { _ =>
        val t = System.nanoTime()
        corpus.crossJoin(q).agg(sum(f(col("embedding"), col("q_embedding")))).collect()
        (System.nanoTime() - t).toDouble
      }.min
    }
    for ((name, f) <- Seq("l2" -> vecL2 _, "cosine" -> vecCosine _)) {
      pass(64, f) // warm
      val perPair = (pass(64, f) - pass(1, f)) / (rows.size * 63.0)
      env.res.put(s"functions.${name}_ns_per_pair", perPair, "ns", rows.size * 63L,
        "(64-query pass - 1-query pass) / pairs; min of 3")
    }
    def filt(p: org.apache.spark.sql.Column): Double = (0 until 3).map { _ =>
      val t = System.nanoTime(); corpus.filter(p).count(); (System.nanoTime() - t).toDouble
    }.min
    val pred = graft.functions.FilterJson.predicate(Gen.Filter50.json, col("metadata"))
    filt(pred)
    env.res.put("functions.filter_ns_per_row", (filt(pred) - filt(lit(true))) / rows.size, "ns",
      rows.size, "FilterJson.predicate pass minus a bare count; min of 3")
    corpus.unpersist()
  }
}
