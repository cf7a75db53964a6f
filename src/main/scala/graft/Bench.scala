package graft

import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * A warm-up pass (session init + parquet footer reads + one tiny kNN job)
  * runs first so the numbers measure the queries, not JVM/classloader/
  * codegen warm-up — the analog of the reference's cache pre-warming
  * (`docs/PERFORMANCE_TUNING.md:168-174`, 17x first-search effect).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession.builder().getOrCreate()
    // the resolved core count of the session actually built (reported in
    // the total and summary lines; local[N] parallelism is N)
    val cpus = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: JIT, codegen, parquet footers, broadcast machinery
    spark.range(1000000L).agg(sum("id")).collect()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q0 = emb.limit(1).select(col("embedding").as("q_emb"))
    emb.crossJoin(broadcast(q0))
      .select(graft.functions.VectorExpressions.vecCosine(col("embedding"), col("q_emb")))
      .agg(count(lit(1))).collect()
    // JIT-warm the interpreted HOF lambdas of the text pipeline (shingle
    // md5 hashing + minhash) on a small sample, like the kNN kernel above
    spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
      .select(graft.functions.TextFunctions.minhashSignature(col("text"), 2, 8).as("sig"))
      .agg(count(lit(1))).collect()
    // index build is a once-per-corpus-version cost (the reference also
    // excludes index construction from its warm search numbers): build the
    // persisted HNSW graphs + IVF inverted file here so the *_scale ANN
    // queries measure steady-state serving
    graft.queries.AnnQueries.ensureHnswScaleIndex(spark, sfDir)
    graft.queries.AnnQueries.ensureIvfScaleIndex(spark, sfDir)
    graft.queries.AnnQueries.ensureBqScaleIndex(spark, sfDir)
    graft.queries.AnnQueries.ensureOpqBenchModels(spark, sfDir)
    graft.queries.StoreQueries.ensureServingStore(spark, sfDir)
    graft.queries.StoreQueries.ensureScaleServingStore(spark, sfDir)

    // best-of-N per query (default 3): the warm steady-state number, the
    // same framing as the reference's warm-cache figures (BASELINE.md).
    // Three temporally-separated samples (r5, was 2): host-contention
    // windows of tens of seconds were observed poisoning BOTH samples of
    // the big compute rows (knn_scale swung 2.1 -> 3.0 s between two
    // same-code sweeps); a third pass costs ~25% more wall and caps that.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // optional comma-separated subset for local iteration (full run when unset)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // iterations run as FULL PASSES over the query list (pass 1 of every
    // query, then pass 2) rather than back-to-back per query: the min is
    // then taken over temporally separated samples, so a transient
    // slow window (GC cycle, background load, page-cache eviction) can't
    // poison both measurements of the same query — observed as a
    // contiguous alphabetical band of 5-10x outliers in full sweeps whose
    // members were all normal when re-run in isolation
    val times = scala.collection.mutable.Map.empty[String, Double]
    // a query that throws must NOT masquerade as a fast number: failures
    // are excluded from the timing min and reported in an "errors" object
    val errs = scala.collection.mutable.Map.empty[String, String]
    for (_ <- 0 until iters; (name, fn) <- selected) {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch {
          case e: Throwable =>
            errs(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
            false
        }
      val t = (System.nanoTime() - t0) / 1e9
      if (ok) times(name) = math.min(times.getOrElse(name, Double.MaxValue), t)
      // drop cached blocks a query left behind (e.g. the minhash signature
      // table) so later queries aren't timed under its memory pressure —
      // run-order sensitivity is exactly what skewed the round-2 numbers
      spark.sharedState.cacheManager.clearCache()
    }
    // a name that succeeded at least once reports its best time; one that
    // failed every pass reports ONLY under "errors" (never a number)
    val results = selected.flatMap { case (name, _) =>
      times.get(name).map(name -> _) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = selected.collect {
      case (name, _) if !times.contains(name) => name -> errs(name) }
    val errJson = failed.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replaceAll("[\"\\\\\n\r\t]", " ") + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // The driver captures only the TAIL of sbt output; at 87+ queries the
    // single full line can exceed that window and lose its leading fields
    // (BENCH_r05/r06 lost "total" and the alphabetically-first timings;
    // the r7 capture lost 31 per-query rows). Emit lines LARGEST FIRST so
    // whatever the window size, truncation eats from the redundant big
    // line and the tail always holds, in order: (1) the full line
    // (everything, may lose its head), (2) a compact per-query line with
    // rounded times (all rows, ~25 bytes each — survives any plausible
    // window), (3) the smallest self-contained summary line last.
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir","iters":$iters,"cpus":$cpus}"""
    println(fullJson)
    // The stdout lines race the driver's finite tail-capture window (three
    // rounds of ordering tricks still lost the alphabetically-first rows),
    // so the COMPLETE result map is ALSO written as a file artifact. The
    // DEFAULT path is UNTRACKED (/tmp): the tracked closing artifact
    // (BENCH_LOCAL.json in the repo) is written only when the closing
    // procedure passes it EXPLICITLY via SPARK_GRAFT_BENCH_FILE — two
    // rounds running, casual re-runs (including the driver's own
    // post-round sweep) clobbered the committed closing map because the
    // default pointed at the tracked path.
    // per-PROCESS file name: a fixed shared default would let two
    // concurrent bare runs silently clobber each other's always-complete
    // record (and a second user's write fail on the first user's file) —
    // the very failure class the file artifact exists to end
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE", {
      val d = java.nio.file.Paths.get("/tmp/graft_bench")
      try {
        java.nio.file.Files.createDirectories(d)
        // per-PID files accumulate forever on a long-lived host (PIDs
        // rarely recycle) — sweep siblings older than a day at startup;
        // recent ones stay so concurrent runs never clobber each other
        val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
        val listing = java.nio.file.Files.list(d) // directory stream: close it
        try listing.forEach { p =>
          try if (p.getFileName.toString.startsWith("BENCH_LOCAL.")
              && java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff)
            java.nio.file.Files.deleteIfExists(p)
          catch { case _: Throwable => () }
        } finally listing.close()
      } catch { case _: Throwable => () }
      d.resolve(s"BENCH_LOCAL.${ProcessHandle.current().pid()}.json").toString
    })
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
        fullJson + "\n")
      // stderr, not stdout: the stdout lines race the driver's finite
      // tail-capture window and must stay exactly the three JSON lines
      System.err.println(s"[bench] complete result map written to $outFile")
    } catch { case e: Throwable =>
      System.err.println(s"bench file write failed ($outFile): $e") }
    val qsCompact = results
      .map { case (k, v) => "\"" + k + "\":" + math.rint(v * 10000) / 10000 }
      .mkString("{", ",", "}")
    println(s"""{"metric":"queries","queries":$qsCompact,"n":${results.size}}""")
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"summary","total":$total,"unit":"sec","n":${results.size},"errors_n":${failed.size},"slowest":$slowest,"sf":"$sfDir","iters":$iters,"cpus":$cpus}""")
    spark.stop()
  }
}
