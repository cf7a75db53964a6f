package graft.tools

import graft.BenchSession
import graft.operators.{Dedup, Hnsw, Ivf, Knn}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-exponent probe for the flagship shapes: exact scan
  * (`knn_scale`), probed IVF (`ann_ivf_scale`), routed saved-HNSW
  * (`store_hnsw_scale`'s recent tier) — each run at 1x (100K x 64, the
  * bench corpus size), 10x (1M x 64) and 100x (10M x 64 — a measured
  * three-point curve, not a two-point extrapolation) — plus the
  * MinHash-LSH near-dup pair scan (`minhash_lsh_pairs`) at 1x/10x/100x of
  * the documents table, all from deterministic perturbation corpora
  * staged under /tmp (testdata itself is read-only). Prints a
  * time-vs-size table for SCALING.md.
  *
  * Index construction follows each shape's steady-state sizing rule:
  * clusters scale with sqrt(N) (the standard IVF prescription), so probed
  * work per query grows ~sqrt(scale); HNSW blob SIZE stays fixed (more
  * blobs at 10x) with the same probeBlobs, so routed probe work per query
  * is ~flat and only the routing table grows. The exact scan has no index
  * and must grow ~linearly — that contrast is the measurement.
  */
object ScalingCurve {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = BenchSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).agg(sum("id")).collect()

    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      .persist()
    queries.count()

    def corpusAt(reps: Int): String = {
      val path = s"/tmp/graft_scaling/corpus_r$reps"
      val done = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(done)) {
        e.select(col("vec_id"), col("embedding"),
            explode(sequence(lit(0), lit(reps - 1))).as("i"))
          .select((col("vec_id") * reps + col("i")).as("id"),
            transform(col("embedding"),
              x => (x.cast("double") + col("i").cast("double") * 0.001).cast("float"))
              .as("embedding"))
          .repartition(col("id"))
          .write.mode("overwrite").parquet(path)
      }
      path
    }

    def best(name: String, iters: Int = 3)(f: => Long): Double = {
      var b = Double.MaxValue
      (1 to iters).foreach { i =>
        val t0 = System.nanoTime()
        val n = f
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[scaling] $name%-28s pass$i $t%7.2fs ($n rows)")
        b = math.min(b, t)
        spark.sharedState.cacheManager.clearCache()
      }
      b
    }

    // SPARK_GRAFT_SCALING_ONLY=search|graph|lsh (comma list) re-runs one
    // family
    // against the cached /tmp corpora; SPARK_GRAFT_SCALING_BANDS (e.g.
    // "4x2,4x4") picks LSH bandings — r=4 is the S-curve fix for the
    // candidate fan-out the 4x2 100x point measures (see SCALING.md)
    val only = sys.env.get("SPARK_GRAFT_SCALING_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def enabled(family: String) = only.forall(_.contains(family))

    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, Double)]
    for (reps <- Seq(50, 500, 5000)
         if enabled("search") || enabled("hh") ||
           ((enabled("graph") || enabled("maintain") ||
             enabled("integrity")) && reps <= 500)) {
      val n = 2000L * reps // sf0.1 has 2000 base vectors
      println(s"[scaling] === corpus ${n / 1000}K (reps=$reps) ===")
      // lazy: the hh family reads documents.parquet only — an hh-only run
      // must not pay the (minutes, GBs at reps=5000) replicated VECTOR
      // corpus build the other families need
      lazy val corpus = spark.read.parquet(corpusAt(reps))

      // exact scan: no index, cost must track corpus size ~linearly
      if (enabled("search"))
        results += (("exact_scan", reps, n,
          best("exact knn.batch")(
            Knn.batch(corpus, queries, k = 10, metric = "l2").count())))

      // probed IVF: clusters ~ sqrt(N) (32 at 100K, 100 at 1M, 316 at
      // 10M), nProbe 4 — probed rows per query ~ 4·sqrt(N)
      val nClusters = reps match {
        case 50 => 32; case 500 => 100; case _ => 316 }
      val ivfBase = s"/tmp/graft_scaling/ivf_r${reps}_k$nClusters"
      val ivfDone = new org.apache.hadoop.fs.Path(s"$ivfBase/data/_SUCCESS")
      val fs = ivfDone.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (enabled("search") ||
          ((enabled("maintain") || enabled("integrity")) && reps <= 500)) {
        if (!fs.exists(ivfDone)) {
          val t0 = System.nanoTime()
          val cents = Ivf.train(corpus, Ivf.IvfConfig(nClusters = nClusters,
            maxIterations = 10, trainSize = 10000, initMode = "driver"))
          Ivf.writePartitioned(Ivf.assign(corpus, cents), s"$ivfBase/data")
          Ivf.exportCentroids(cents, s"$ivfBase/centroids")
          println(f"[scaling] ivf build (k=$nClusters) ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
        val ivfData = spark.read.parquet(s"$ivfBase/data")
        val ivfCents = spark.read.parquet(s"$ivfBase/centroids")
        if (enabled("search"))
          results += (("ivf_probed", reps, n,
            best(s"ivf n_probe=4 k=$nClusters")(
              Ivf.searchBatch(ivfData, ivfCents, queries, k = 10, nProbe = 4).count())))

        // routed saved-HNSW: fixed blob size (corpus partitioned into
        // N/5000-row cluster blobs), fixed probeBlobs — per-query cost should
        // be ~flat; only routing-table size grows with the blob count
        val hnswPath = s"/tmp/graft_scaling/hnsw_r$reps/g"
        val hDone = new org.apache.hadoop.fs.Path(hnswPath, "_SUCCESS")
        if (!fs.exists(hDone)) {
          val t0 = System.nanoTime()
          // co-locate by the IVF clustering so routing has real structure
          val clustered = Ivf.assign(corpus, ivfCents)
            .repartition(nClusters, col("cluster_id")).drop("cluster_id")
          Hnsw.buildAndSave(clustered, hnswPath,
            cfg = Hnsw.HnswConfig(efConstruction = 100, efSearch = 80))
          println(f"[scaling] hnsw build ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
        if (enabled("search"))
          results += (("hnsw_routed", reps, n,
            best("hnsw routed probeBlobs=6")(
              Hnsw.searchSaved(spark, hnswPath, queries, k = 10, efSearch = 120,
                probeBlobs = 6).count())))

        // saved-index MAINTENANCE cost curve (r10): the ops behind
        // store_hnsw_crud at index scale, each on a fresh mutable COPY of
        // the routed index. Claims measured: insert ~ batch build + the
        // O(index bytes) id-peek anti-join scan; delete/vacuum = one full
        // blob rewrite each (cost tracks index bytes); compact touches
        // only sub-threshold fragment blobs (~flat as the index grows).
        if (enabled("maintain") && reps <= 500) {
          val mRoot = s"/tmp/graft_scaling/hnsw_maint_r$reps"
          fs.delete(new org.apache.hadoop.fs.Path(mRoot), true)
          fs.mkdirs(new org.apache.hadoop.fs.Path(mRoot))
          val mPath = s"$mRoot/g"
          org.apache.hadoop.fs.FileUtil.copy(fs,
            new org.apache.hadoop.fs.Path(hnswPath), fs,
            new org.apache.hadoop.fs.Path(mPath), false, true,
            spark.sparkContext.hadoopConfiguration)
          val batch = corpus.filter(col("id") % 100 === 0)
            .select((col("id") + lit(n * 10)).as("id"), col("embedding"))
            .repartition(4)
          results += (("maint_insert", reps, n,
            best("insertIntoSaved 1%", iters = 1)(
              Hnsw.insertIntoSaved(batch, mPath))))
          val delIds = 0L.until(n, 100L)
          results += (("maint_delete", reps, n,
            best("deleteFromSaved 1%", iters = 1)(
              Hnsw.deleteFromSaved(spark, mPath, delIds))))
          results += (("maint_vacuum", reps, n,
            best("vacuumSaved", iters = 1)(
              Hnsw.vacuumSaved(spark, mPath))))
          results += (("maint_compact", reps, n,
            best("compactSaved", iters = 1)(
              Hnsw.compactSaved(spark, mPath, minNodes = 2048,
                targetNodes = 4096))))
        }

        // integrity probe cost curve (r11): checkSavedIntegrity fully
        // decodes every blob => linear in index bytes (the deliberate
        // price of a REAL integrity check vs the header peek);
        // store checkIntegrity = one groupBy(id) shuffle over the live
        // union + one join per enabled code tier => linear in live rows
        if (enabled("integrity") && reps <= 500) {
          results += (("integ_saved", reps, n,
            best("checkSavedIntegrity", iters = 2)(
              Hnsw.checkSavedIntegrity(spark, hnswPath).blobs)))
          val sRoot = s"/tmp/graft_scaling/integ_store_r$reps"
          val sCfg = graft.store.VectorStore.Config(
            recentThresholdSeconds = 3600, nClusters = nClusters, nProbe = 4)
          if (!fs.exists(new org.apache.hadoop.fs.Path(sRoot, "manifest.json"))) {
            val t0 = System.nanoTime()
            val st0 = new graft.store.VectorStore(spark, sRoot, sCfg)
            st0.insertDF(corpus.select(col("id").cast("string").as("id"),
              col("embedding"),
              (current_timestamp() - expr("INTERVAL 7200 SECONDS")).as("ts")))
            st0.migrate()
            st0.enableSq()
            println(f"[scaling] integ store build ${(System.nanoTime() - t0) / 1e9}%.2fs")
          }
          val st = new graft.store.VectorStore(spark, sRoot, sCfg)
          results += (("integ_store", reps, n,
            best("store checkIntegrity", iters = 2)(
              st.checkIntegrity().liveHistorical)))
        }
      }

      // two-pass exact heavy hitters (r11): the MG pass is a token scan
      // with O(k) state per task, the recount a candidate-only shuffle —
      // total cost must track token count LINEARLY at any cardinality
      if (enabled("hh")) {
        val mult = reps / 50 // 1x / 10x / 100x the sf0.1 token stream
        val toks = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("text"),
            explode(org.apache.spark.sql.functions.sequence(
              lit(0), lit(mult - 1))).as("i"))
          .select(explode(
            graft.functions.TextFunctions.tokens(col("text"))).as("token"))
        results += (("hh_exact", reps, n,
          best("heavy hitters 2-pass")(
            graft.operators.HeavyHitters.exact(toks, "token",
              denominator = 200L, sketchK = 512).count())))
        // grouped variant: GROUP COUNT scales with the multiplier (each
        // replica becomes its own source), so the candidate relation —
        // the broadcast-or-shuffle side of the recount, bounded by
        // groups x k — itself grows 1x/10x/100x. Its measured size is
        // logged per scale: that's the number that decides when the
        // mechanical broadcastMaxCandidates fallback fires.
        val gtoks = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("source"), col("text"),
            explode(org.apache.spark.sql.functions.sequence(
              lit(0), lit(mult - 1))).as("i"))
          .select(concat(col("source"), lit("_"), col("i")).as("src"),
            explode(
              graft.functions.TextFunctions.tokens(col("text"))).as("token"))
        val nCand = gtoks.groupBy("src")
          .agg(graft.operators.HeavyHitters.mgCandidates(256)(col("token"))
            .as("cand"))
          .select(explode(col("cand"))).count()
        println(s"[scaling] hh_grouped candidate relation: $nCand rows " +
          s"(groups x <=256)")
        results += (("hh_grouped", reps, n,
          best("heavy hitters grouped")(
            graft.operators.HeavyHitters.exactPerGroup(gtoks, "src", "token",
              denominator = 100L, sketchK = 256).count())))
      }

      // blocked k-NN GRAPH build (KnnJoin.blocked): the scale claim is
      // different from probed search — here the cluster count scales with
      // N (fixed ~1000-row blocks, the SemDeDup posture), so total pair
      // work is N x blockSize, i.e. LINEAR in N, vs the N^1.5 a
      // sqrt(N)-clusters blocking would cost. 1x/10x only: the 100x point
      // is 100x the 1x cost by this linearity (and the 1x->10x ratio is
      // the evidence).
      if (enabled("graph") && reps <= 500) {
        // the graph-build sizing rule (clusters ∝ N at fixed block)
        val gk = math.max(32, graft.operators.Tuning.suggestGraphBlocks(n)._1)
        val gBase = s"/tmp/graft_scaling/graphblk_r${reps}_k$gk"
        val gDone = new org.apache.hadoop.fs.Path(s"$gBase/_SUCCESS")
        if (!fs.exists(gDone)) {
          val t0 = System.nanoTime()
          val cents = Ivf.train(corpus, Ivf.IvfConfig(nClusters = gk,
            maxIterations = 10, trainSize = 20000, initMode = "driver"))
          Ivf.assign(corpus, cents).repartition(col("cluster_id"))
            .write.mode("overwrite").parquet(gBase)
          println(f"[scaling] graph blocks (k=$gk) ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
        val blocks = spark.read.parquet(gBase)
        results += (("knn_graph_blk", reps, n,
          best(s"knn graph blocked k=$gk")(
            graft.operators.KnnJoin.blocked(blocks, k = 10,
              blockCol = "cluster_id").count())))
      }
    }

    // MinHash-LSH near-dup pair scan — the flagship curation cost. The
    // corpus is the documents table replicated with a replica tag token
    // spliced in every 3 words: replicas of the same doc land WELL below
    // the 0.5 Jaccard bar (~0.2 — most 2-shingles touch a tag), so the
    // duplicate RATE stays that of the base corpus instead of every
    // replica group becoming a quadratic near-dup clique. Cost should
    // then track corpus size ~linearly (hashing + banded join on
    // bounded buckets), which is the claim SCALING.md makes for 100x.
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val bandings = sys.env.getOrElse("SPARK_GRAFT_SCALING_BANDS", "4x2")
      .split(",").map { s =>
        val Array(b, r) = s.trim.split("x"); (b.toInt, r.toInt) }
    val docFamilies = Seq("lsh", "clusters", "bpe")
    for (reps <- Seq(1, 10, 100)
         if docFamilies.exists(enabled) &&
           (reps < 100 || enabled("lsh"))) { // 100x staged only for lsh
      val nDocs = docs.count() * reps
      println(s"[scaling] === documents ${nDocs / 1000}K (reps=$reps) ===")
      val path = s"/tmp/graft_scaling/docs_r$reps"
      val done = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
      val fs2 = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs2.exists(done)) {
        val toks = split(col("text"), "\\s+")
        val tagged = transform(
          sequence(lit(0), floor((size(toks) - 1) / 3.0).cast("int")),
          g => concat(concat_ws(" ", slice(toks, g * 3 + 1, lit(3))),
            lit(" zz"), col("i")))
        docs.select(col("doc_id"), col("text"),
            explode(sequence(lit(0), lit(reps - 1))).as("i"))
          .select((col("doc_id") * reps + col("i")).as("doc_id"),
            concat_ws(" ", tagged).as("text"))
          .repartition(col("doc_id"))
          .write.mode("overwrite").parquet(path)
      }
      val corpus = spark.read.parquet(path)
      if (enabled("lsh"))
      for ((bands, rpb) <- bandings)
        results += ((s"lsh_${bands}x$rpb", reps, nDocs,
          best(s"minhash lsh pairs ${bands}x$rpb")(
            Dedup.minhashLshPairs(corpus, shingleN = 2, bands = bands,
              rowsPerBand = rpb, threshold = 0.5).count())))

      // label-propagation family over the SAME corpus: the scale claim is
      // rounds ~ O(log cluster diameter) — FLAT in corpus size (the
      // replica corpus repeats the base graph's structure, so diameter is
      // unchanged) — with per-round cost ∝ pairs. The pair list is
      // materialized first so the propagation number times the loop, not
      // a re-run of the LSH pipeline per round.
      if (enabled("clusters")) {
        val pairsPath = s"/tmp/graft_scaling/pairs_r$reps"
        val pDone = new org.apache.hadoop.fs.Path(pairsPath, "_SUCCESS")
        if (!fs2.exists(pDone))
          Dedup.minhashLshPairs(corpus, shingleN = 2, bands = 4,
            rowsPerBand = 2, threshold = 0.5)
            .write.mode("overwrite").parquet(pairsPath)
        val pairs = spark.read.parquet(pairsPath)
        val nPairs = pairs.count()
        // the leg measures the DISTRIBUTED rounds' scaling, not the
        // bounded in-driver fast path
        spark.conf.set("spark.graft.dedup.localClusterMaxEdges", "0")
        results += ((s"dup_clusters", reps, nPairs,
          best(s"duplicateClusters ($nPairs pairs)")(
            Dedup.duplicateClusters(pairs).count())))
        println(s"[scaling] propagation rounds: ${Dedup.lastPropagationRounds}")
        // keep-best adds one struct-min aggregate on top of the labels —
        // its delta over dup_clusters is the cost of that single exchange
        results += ((s"dup_keep_best", reps, nPairs,
          best(s"clusterRepresentatives")(
            Dedup.clusterRepresentatives(pairs,
              corpus.select(col("doc_id"),
                graft.functions.TextFunctions.qualityScore(col("text")).as("q")),
              qualityCol = "q").count())))
      }

      // BPE training cost vs rounds at the production shape (255
      // merges/round, the placeholder cap): each round is ONE pair-count
      // shuffle over the so-far-rewritten corpus plus a bounded top-K
      // collect, so wall time should grow ~linearly in rounds (the
      // round-r scan carries one BpeApply loop over (r-1)*K merges, a
      // slowly growing scan-side term).
      if (enabled("bpe") && reps <= 10)
        for (rounds <- 1 to 5)
          results += ((s"bpe_train_r$rounds", reps, nDocs,
            best(s"bpe train rounds=$rounds (${nDocs / 1000}K docs)", iters = 2)({
              graft.functions.BpeTokenizer.train(corpus,
                mergesPerRound = 255, rounds = rounds).size.toLong
            })))
    }

    println("[scaling] shape | corpus | best-of-3 sec | sec per 100K rows")
    results.foreach { case (shape, _, n, t) =>
      println(f"[scaling] $shape%-12s ${n / 1000}%6dK $t%8.2f ${t / (n / 100000.0)}%8.3f")
    }
    spark.stop()
  }
}
