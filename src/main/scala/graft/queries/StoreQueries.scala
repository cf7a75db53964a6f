package graft.queries

import graft.core.Tables
import graft.store.VectorStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store-serving-path queries: the VectorStore searched through its
  * persisted serving artifacts — the saved-HNSW recent tier
  * (`buildRecentIndex` / `searchBatch(useRecentIndex = true)`, X12's
  * reference shape `hybrid/core.rs:441-486`) and the PQ code tier
  * (`enablePq` / `searchBatchPq`, `ivf/persistence.rs:170-250`) — plus the
  * streaming near-dup ingest throughput probe (§2.11).
  */
object StoreQueries {
  type Q = (SparkSession, String) => DataFrame

  // private[graft]: PlanDump opens the same persisted stores these
  // helpers build and must use the SAME config, not a hand-copied one
  private[graft] val storeConfig = VectorStore.Config(
    recentThresholdSeconds = 3600, nClusters = 8, nProbe = 8)

  /** Build-once serving store per corpus version: embeddings split across
    * both tiers (even vec_ids aged into the clustered historical tier,
    * odd ones recent), recent tier indexed with saved HNSW, historical
    * tier PQ-encoded. Bump the version suffix when construction changes —
    * a stale /tmp store must never outlive the code that built it. */
  def ensureServingStore(s: SparkSession, dir: String): String =
    QueryShapes.buildOnce(s, "store_idx_v5", s"$dir/embeddings.parquet") { base =>
      val st = new VectorStore(s, s"$base/store", storeConfig)
      val e = Tables.load(s, dir, "embeddings")
      val oldTs = java.sql.Timestamp.from(
        java.time.Instant.now().minusSeconds(7200))
      st.insertDF(e.select(
        col("vec_id").cast("string").as("id"),
        col("embedding"),
        to_json(struct(col("label"),
          (col("vec_id") % 2).as("parity"))).as("metadata"),
        when(col("vec_id") % 2 === 0, lit(oldTs))
          .otherwise(current_timestamp()).as("ts")))
      st.migrate()          // evens -> clustered historical (trains centroids)
      st.buildRecentIndex() // odds served from the saved HNSW graph
      st.enablePq(m = 8, kCodes = 64, trainSize = 2000)
      st.enableSq()         // u8 code tier over the same historical rows
      st.enableBq()         // sign-bit code tier (coarsest rung, 32x smaller)
    }

  /** Build-once store behind `store_opq_search`: the ann_opq anisotropic
    * corpus ([[QueryShapes.stretchedCorpus]]) ingested through the bulk
    * front door with every row aged past the recent threshold, so after
    * `migrate` the WHOLE corpus serves from the clustered historical tier
    * — the tier the code tables encode. PQ and OPQ are both enabled on
    * the IDENTICAL budget (m=8, 16 codes, 1000-sample training — the
    * ann_opq budget), which is what makes the row's ge_plain gate a real
    * tier-vs-tier comparison through the store front door. */
  def ensureOpqServingStore(s: SparkSession, dir: String): String =
    QueryShapes.buildOnce(s, "store_idx_opq_v1", s"$dir/embeddings.parquet") { base =>
      val st = new VectorStore(s, s"$base/store", storeConfig)
      val corpus = QueryShapes.stretchedCorpus(Tables.load(s, dir, "embeddings"))
      val oldTs = java.sql.Timestamp.from(
        java.time.Instant.now().minusSeconds(7200))
      st.insertDF(corpus.select(
        col("id").cast("string").as("id"), col("embedding"),
        lit(oldTs).as("ts")))
      st.migrate() // everything -> clustered historical (trains centroids)
      st.enablePq(m = 8, kCodes = 16, trainSize = 1000)
      st.enableOpq(m = 8, kCodes = 16, trainSize = 1000, iters = 5)
    }

  private def queries8(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))

  private val scaleStoreConfig = VectorStore.Config(
    recentThresholdSeconds = 3600, nClusters = 32, nProbe = 4)

  /** The scale twin of [[ensureServingStore]]: the 100K-row
    * [[QueryShapes.scaleCorpus]] ingested through `insertDF` (the bulk
    * front door), parity-split across tiers by row id — evens aged into
    * the clustered historical tier (32 clusters, PQ'd and SQ'd), odds
    * recent behind the saved HNSW graph. This is the store whose AMORTIZED
    * serving throughput the store_*_scale bench rows measure; 8-query rows
    * measure fixed plan overhead instead. */
  def ensureScaleServingStore(s: SparkSession, dir: String): String =
    // v6: +PQ code tier
    QueryShapes.buildOnce(s, "store_idx_scale_v6",
        s"$dir/embeddings.parquet") { base =>
      val st = new VectorStore(s, s"$base/store", scaleStoreConfig)
      val corpus = QueryShapes.scaleCorpus(Tables.load(s, dir, "embeddings"))
      val oldTs = java.sql.Timestamp.from(
        java.time.Instant.now().minusSeconds(7200))
      st.insertDF(corpus.select(
        col("id").cast("string").as("id"),
        col("embedding"),
        when(col("id") % 2 === 0, lit(oldTs))
          .otherwise(current_timestamp()).as("ts")))
      st.migrate()          // evens -> clustered historical (trains centroids)
      // routed: blobs co-located by the store's coarse clusters, so scale
      // searches probe each query's nearest blobs instead of all 32 — the
      // O(probeBlobs)-per-query shape a heavily-sharded index needs
      st.buildRecentIndex(metric = "l2", routed = true)
      st.enablePq(m = 8, kCodes = 64, trainSize = 2000)
      st.enableSq()
      st.enableBq()
    }

  /** 100 corpus-vector queries against the scale store, aimed at one tier
    * by parity: `offset = 1` hits the odd (recent/HNSW) rows, `offset = 0`
    * the even (historical/code-tier) rows. The embedding arithmetic is
    * scaleCorpus's i-th perturbation exactly, so rank-1 self-retrieval at
    * distance 0 is the oracle contract. */
  private def scaleQueries(e: DataFrame, offset: Int): DataFrame =
    e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(offset).cast("double") * 0.001)
            .cast("float")).as("q_embedding"))

  val queries: Map[String, Q] = Map(
    // X12 through the store front door with BOTH serving indexes live:
    // recent tier from saved HNSW, historical from probed IVF. Every query
    // is a corpus vector, so rank-1 must be the row itself at distance 0
    // regardless of which tier holds it.
    "store_hnsw_search" -> ((s, dir) => {
      val base = ensureServingStore(s, dir)
      val st = new VectorStore(s, s"$base/store", storeConfig)
      val e = Tables.load(s, dir, "embeddings")
      st.searchBatch(queries8(e), k = 10, metric = "l2", nProbe = 8,
          useRecentIndex = true)
        .groupBy("query_id")
        .agg(min_by(col("id"), col("distance")).as("id"),
          round(min(col("distance")), 6).as("distance"))
        .orderBy("query_id")
    }),
    // Store-path IVF-PQ: the historical tier served from its 8-byte codes
    // (ADC shortlist + exact rerank), gated as recall@10 against the
    // store's exact hybrid path over the same live view. nProbe equals
    // nClusters (8), so the store's "exact" denominator is TRUE exact
    // over the live view — which is the whole undeleted embeddings
    // corpus — and DuckDB replays its digest (r11), pinning the
    // denominator cross-engine like the ann_*pq* rows.
    "store_ivfpq_search" -> ((s, dir) => {
      val base = ensureServingStore(s, dir)
      val st = new VectorStore(s, s"$base/store", storeConfig)
      val qs = queries8(Tables.load(s, dir, "embeddings"))
      val approx = st.searchBatchPq(qs, k = 10, nProbe = 8, shortlist = 200)
      val exact = st.searchBatch(qs, k = 10, metric = "l2", nProbe = 8)
      graft.operators.Ivf.evaluateRecall(approx, exact)
        .select(col("n_queries"), (col("avg_recall") >= 0.8).as("recall_ok"))
        .crossJoin(QueryShapes.exactDigest(exact))
    }),
    // Store-path IVF-SQ: the historical tier served from its u8 codes
    // (dequantize-on-the-fly shortlist + exact rerank). Every query is a
    // corpus vector and the shortlist comfortably covers the true
    // neighbor, so rank-1 is the row itself at exactly distance 0 — the
    // same self-retrieval oracle as store_hnsw_search.
    "store_sq_search" -> ((s, dir) => {
      val base = ensureServingStore(s, dir)
      val st = new VectorStore(s, s"$base/store", storeConfig)
      val e = Tables.load(s, dir, "embeddings")
      st.searchBatchSq(queries8(e), k = 10, nProbe = 8, shortlist = 200)
        .groupBy("query_id")
        .agg(min_by(col("id"), col("distance")).as("id"),
          round(min(col("distance")), 6).as("distance"))
        .orderBy("query_id")
    }),
    // Store-path cosine over the u8 code tier: the reference's DEFAULT
    // metric served from the quantized artifact (dequantized-cosine
    // shortlist + exact cosine rerank), across both store tiers. Same
    // self-retrieval contract: rank-1 is the query row at cosine
    // distance 0 regardless of tier.
    "store_cosine_search" -> ((s, dir) => {
      val base = ensureServingStore(s, dir)
      val st = new VectorStore(s, s"$base/store", storeConfig)
      val e = Tables.load(s, dir, "embeddings")
      st.searchBatchSq(queries8(e), k = 10, nProbe = 8, shortlist = 200,
          metric = "cosine")
        .groupBy("query_id")
        .agg(min_by(col("id"), col("distance")).as("id"),
          round(min(col("distance")), 6).as("distance"))
        .orderBy("query_id")
    }),
    // Store-path IVF-BQ: the historical tier served from its packed
    // sign-bit words (xor+popcount shortlist + exact rerank). The
    // shortlist covers most of the tier at this SF, so the rerank
    // recovers the self-hit exactly: same self-retrieval oracle as the
    // SQ row, through the coarsest (32x-compressed) code tier.
    "store_bq_search" -> ((s, dir) => {
      val base = ensureServingStore(s, dir)
      val st = new VectorStore(s, s"$base/store", storeConfig)
      val e = Tables.load(s, dir, "embeddings")
      st.searchBatchBq(queries8(e), k = 10, nProbe = 8, shortlist = 200)
        .groupBy("query_id")
        .agg(min_by(col("id"), col("distance")).as("id"),
          round(min(col("distance")), 6).as("distance"))
        .orderBy("query_id")
    }),
    // X12 at the 100-query scale: the full store serving composition
    // (saved-HNSW recent tier + probed historical tier + tombstone/delta
    // plumbing) amortized over 100 queries — the number a real user gets
    // from the store front door, vs ann_hnsw_scale's bare operator path.
    // Odd-parity queries live in the recent tier, so the saved graph is
    // the tier that must produce each self-hit.
    "store_hnsw_scale" -> ((s, dir) => {
      val base = ensureScaleServingStore(s, dir)
      val st = new VectorStore(s, s"$base/store", scaleStoreConfig)
      val e = Tables.load(s, dir, "embeddings")
      st.searchBatch(scaleQueries(e, 1), k = 10, metric = "l2", nProbe = 4,
          useRecentIndex = true, recentEfSearch = 160, recentProbeBlobs = 8)
        .groupBy("query_id")
        .agg(min_by(col("id"), col("distance")).as("id"),
          round(min(col("distance")), 6).as("distance"))
        .orderBy("query_id")
    }),
    // The u8 code tier at the 100-query scale: even-parity queries live in
    // the historical tier, so every self-hit comes through the quantized
    // scan (probed dim-byte codes -> dequantized shortlist -> exact
    // rerank) composed with the store's tombstone/delta plumbing; the
    // recent tier is served from its saved graph (the steady-state shape —
    // both tiers from artifacts, no full scan anywhere).
    "store_sq_scale" -> ((s, dir) => {
      val base = ensureScaleServingStore(s, dir)
      val st = new VectorStore(s, s"$base/store", scaleStoreConfig)
      val e = Tables.load(s, dir, "embeddings")
      st.searchBatchSq(scaleQueries(e, 0), k = 10, nProbe = 4, shortlist = 200,
          useRecentIndex = true, recentProbeBlobs = 6)
        .groupBy("query_id")
        .agg(min_by(col("id"), col("distance")).as("id"),
          round(min(col("distance")), 6).as("distance"))
        .orderBy("query_id")
    }),
    // The sign-bit tier at the 100-query scale: same framing as
    // store_sq_scale but the historical candidates come from the
    // xor+popcount scan of the packed words — the cheapest code tier's
    // amortized serving number through the full store composition.
    "store_bq_scale" -> ((s, dir) => {
      val base = ensureScaleServingStore(s, dir)
      val st = new VectorStore(s, s"$base/store", scaleStoreConfig)
      val e = Tables.load(s, dir, "embeddings")
      st.searchBatchBq(scaleQueries(e, 0), k = 10, nProbe = 4, shortlist = 200,
          useRecentIndex = true, recentProbeBlobs = 6)
        .groupBy("query_id")
        .agg(min_by(col("id"), col("distance")).as("id"),
          round(min(col("distance")), 6).as("distance"))
        .orderBy("query_id")
    }),
    // The 8-byte PQ code tier at the 100-query scale, completing the
    // hnsw/pq/sq/bq serving matrix. Perturbation families sit ~0.008 apart
    // while PQ reconstruction error is larger, so exact self-retrieval is
    // not the honest contract here (unlike SQ/BQ whose rerank recovers
    // it); the gate is recall@10 against the TRUE exact top-10 over the
    // live view (= the full scale corpus — no deletes in this store),
    // whose rank-10 (id, distance) digest DuckDB fully REPLAYS per query
    // with the same round-then-rank tie convention — the
    // store_hnsw_recall contract, closing the one recall gate that used
    // to keep a constant-true oracle over a probed denominator.
    // recall_ok itself stays Spark-computed (the PQ+routed-blob serving
    // walk is not SQL), gated per query with the average gated in-row.
    // Deterministic: PQ training and k-means are seeded.
    "store_pq_scale" -> ((s, dir) => {
      import s.implicits._
      val base = ensureScaleServingStore(s, dir)
      val st = new VectorStore(s, s"$base/store", scaleStoreConfig)
      val e = Tables.load(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val approx = st.searchBatchPq(qs, k = 10, nProbe = 4, shortlist = 200,
          useRecentIndex = true, recentProbeBlobs = 6)
        .select(col("query_id"), col("id").cast("long").as("id"))
      val exact = graft.operators.Knn.batch(
        QueryShapes.scaleCorpus(e), qs, k = 10, metric = "l2",
        roundDecimals = 6)
      val perQ = exact
        .join(approx.withColumn("hit", lit(1)), Seq("query_id", "id"), "left")
        .groupBy("query_id")
        .agg(
          (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)))
            .as("recall"),
          max(when(col("rank") === 10, col("id"))).as("exact_id10"),
          max(when(col("rank") === 10, col("distance"))).as("exact_d10"))
        .select(col("query_id"), col("recall"), col("exact_id10"),
          round(col("exact_d10"), 6).as("exact_d10"))
        .collect() // bounded: one row per query (vec_id < 100)
      val avgRecall = perQ.map(_.getDouble(1)).sum / perQ.length
      require(avgRecall >= 0.7,
        f"PQ-tier avg recall@10 = $avgRecall%.4f fell below the 0.7 gate")
      perQ.toSeq.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3),
          r.getDouble(1) >= 0.5))
        .toDF("query_id", "exact_id10", "exact_d10", "recall_ok")
        .orderBy("query_id")
    }),
    // The OPQ code tier through the store front door, gated tier-vs-tier:
    // on the anisotropic stretched corpus (every row historical, so every
    // hit comes through a code-table scan + exact rerank), the OPQ tier's
    // recall@10 must beat-or-match the plain-PQ tier built on the
    // IDENTICAL budget — the measured ann_opq contract (learned rotation
    // recovers the recall plain subspace slicing wastes on anisotropy),
    // now reachable through the store API (enableOpq / searchBatchOpq /
    // searchMode("opq")). The exact denominator's digest is fully
    // DuckDB-replayed (stretchedDigestSql), pinning it cross-engine.
    "store_opq_search" -> ((s, dir) => {
      val base = ensureOpqServingStore(s, dir)
      val st = new VectorStore(s, s"$base/store", storeConfig)
      val corpus = QueryShapes.stretchedCorpus(Tables.load(s, dir, "embeddings"))
      val qs = corpus.filter(col("id") < 8)
        .select(col("id").as("query_id"), col("embedding").as("q_embedding"))
      val exact = graft.operators.Knn.batch(corpus, qs, k = 10,
        metric = "l2", roundDecimals = 6)
      val opq = st.searchBatchOpq(qs, k = 10, nProbe = 8, shortlist = 30)
        .select(col("query_id"), col("id").cast("long").as("id"))
      val plain = st.searchBatchPq(qs, k = 10, nProbe = 8, shortlist = 30)
        .select(col("query_id"), col("id").cast("long").as("id"))
      val rOpq = graft.operators.Ivf.evaluateRecall(opq, exact)
        .select(lit(1).as("j"), col("n_queries"),
          col("avg_recall").as("opq_recall"))
      val rPlain = graft.operators.Ivf.evaluateRecall(plain, exact)
        .select(lit(1).as("j"), col("avg_recall").as("plain_recall"))
      rOpq.join(rPlain, "j")
        .select(col("n_queries"),
          (col("opq_recall") >= 0.5).as("recall_ok"),
          (col("opq_recall") >= col("plain_recall")).as("ge_plain"))
        .crossJoin(QueryShapes.exactDigest(exact))
    }),
    // §2.11 streaming near-dup ingest: the documents table staged as an
    // arrival directory, streamed through dedupIngest (MinHash-bucketed,
    // per-batch cost = batch x collisions). AvailableNow with no
    // maxFilesPerTrigger drains the whole directory in ONE micro-batch, so
    // the accepted set is exactly the in-batch greedy pair-drop: documents
    // minus every verified-duplicate pair's larger id — which a batch
    // DuckDB replay of the same MinHash/LSH/Jaccard pipeline predicts.
    // Output is the deterministic (count, id-checksum) of that set; the
    // bench row's wall-clock still measures end-to-end ingest throughput
    // (docs/s curve documented in SCALING.md).
    // F11/S6 metadata schema validation, end-to-end: deterministic
    // metadata variants keyed off doc_id run through the store's real
    // validator (required = key PRESENCE with null-is-always-valid,
    // typed fields, recursion into array items), and the oracle pins the
    // exact verdict strings — a validator that treated an explicit null
    // as missing, or skipped nested items, would mismatch. The schema
    // JSON ships into the closure as a string and parses per partition
    // (executor-side map, no driver loop).
    // The deep integrity scan (the reference's check_integrity analog,
    // ivf/persistence.rs:299-349) made driver-visible: a store is built
    // from the embeddings table, then four defect classes are PLANTED
    // out-of-band (past insert's validation, the only way they can occur)
    // with counts that are pure modulo filters over the source table —
    // wrong-dim rows (vec_id % 17), within-tier duplicate ids (odd
    // vec_id % 23), cross-tier duplicates (even vec_id % 29, the state a
    // scan racing migrate() observes), and historical rows addressing a
    // nonexistent centroid (vec_id % 31, which also drifts the SQ code
    // tier snapshot taken before the plant). DuckDB recomputes every
    // reported count and the is_complete verdict from the same
    // construction arithmetic (the filter_matrix pattern: closed-form
    // both sides) — a scan that undercounted a class, folded cross-tier
    // dups into is_complete, or missed code-tier drift hash-mismatches.
    "integrity_scan" -> ((s, dir) => {
      import graft.store.VectorStore
      import s.implicits._
      val path = java.nio.file.Files.createTempDirectory("graft_integrity_q_").toString
      val store = new VectorStore(s, path, VectorStore.Config(
        recentThresholdSeconds = 7L * 24 * 3600, nClusters = 8, nProbe = 4))
      val emb = Tables.load(s, dir, "embeddings")
      store.insertDF(emb.select(
        concat(lit("v"), col("vec_id")).as("id"),
        col("embedding"),
        when(col("vec_id") % 2 === 0, lit("2020-01-01 00:00:00"))
          .otherwise(lit("2026-01-01 23:00:00")).cast("timestamp").as("ts")))
      val now = Some(java.sql.Timestamp.valueOf("2026-01-02 00:00:00"))
      store.migrate(now) // evens -> clustered historical (8 centroids)
      // r13: EVERY code tier enabled (the reference's check_integrity
      // walks every persisted structure, ivf/persistence.rs:299-349;
      // r15: + the OPQ tier) — all four snapshot the historical tier
      // BEFORE the plants, so the
      // historical plant drifts each tier's `missing` identically, and
      // the bq orphan plant below drifts `orphaned` on ONE tier only
      // (the per-tier split a single-tier replay could fake)
      store.enableSq()
      store.enableBq()
      store.enablePq(m = 4, kCodes = 16, trainSize = 2048)
      store.enableOpq(m = 4, kCodes = 16, trainSize = 2048, iters = 1)
      val ts = lit("2026-01-01 23:30:00").cast("timestamp")
      // orphaned-code plant: bq_codes rows whose ids exist in NO tier
      // (the crash-between-tier-rewrite-and-code-refresh direction the
      // missing plant can't exercise) — count = a pure modulo filter
      emb.filter(col("vec_id") % 37 === 0).select(
          concat(lit("orph"), col("vec_id")).as("id"),
          concat(lit("vidorph"), col("vec_id")).as("vid"),
          ts.as("ts"),
          array(lit(0L)).as("words"),
          lit(0L).as("cluster_id"))
        .write.mode("append").partitionBy("cluster_id")
        .parquet(s"$path/bq_codes")
      val wrongDim = emb.filter(col("vec_id") % 17 === 0).select(
        concat(lit("wd"), col("vec_id")).as("id"),
        concat(lit("vidwd"), col("vec_id")).as("vid"),
        array(lit(1.0f), lit(2.0f)).as("embedding"),
        lit(null).cast("string").as("metadata"), ts.as("ts"))
      val dups = emb.filter(col("vec_id") % 2 === 1 && col("vec_id") % 23 === 0)
        .select(concat(lit("v"), col("vec_id")).as("id"),
          concat(lit("viddup"), col("vec_id")).as("vid"),
          col("embedding"), lit(null).cast("string").as("metadata"), ts.as("ts"))
      val cross = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") % 29 === 0)
        .select(concat(lit("v"), col("vec_id")).as("id"),
          concat(lit("vidx"), col("vec_id")).as("vid"),
          col("embedding"), lit(null).cast("string").as("metadata"), ts.as("ts"))
      wrongDim.unionByName(dups).unionByName(cross)
        .write.mode("append").parquet(s"$path/recent")
      emb.filter(col("vec_id") % 31 === 0).select(
          concat(lit("ic"), col("vec_id")).as("id"),
          concat(lit("vidic"), col("vec_id")).as("vid"),
          col("embedding"), lit(null).cast("string").as("metadata"),
          ts.as("ts"), lit(9999).as("cluster_id"))
        // the historical tier is hive-partitioned by cluster_id — the
        // plant lands as a cluster_id=9999/ leaf the reader discovers
        .write.mode("append").partitionBy("cluster_id")
        .parquet(s"$path/historical")
      val r = store.checkIntegrity()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      val (sqMissing, sqOrphaned) = r.codeTierDrift("sq_codes")
      val (pqMissing, pqOrphaned) = r.codeTierDrift("pq_codes")
      val (opqMissing, opqOrphaned) = r.codeTierDrift("opq_codes")
      val (bqMissing, bqOrphaned) = r.codeTierDrift("bq_codes")
      Seq((r.liveRecent, r.liveHistorical, r.wrongDimCount,
          r.duplicateIdCount, r.crossTierDuplicateCount,
          r.invalidClusterCount, sqMissing, sqOrphaned,
          pqMissing, pqOrphaned, opqMissing, opqOrphaned,
          bqMissing, bqOrphaned, r.isComplete))
        .toDF("live_recent", "live_historical", "wrong_dim_count",
          "duplicate_id_count", "cross_tier_dup_count",
          "invalid_cluster_count", "sq_missing", "sq_orphaned",
          "pq_missing", "pq_orphaned", "opq_missing", "opq_orphaned",
          "bq_missing", "bq_orphaned", "is_complete")
    }),
    // The r14 confirm pass, driver-visible on its own row (integrity_scan
    // keeps its r13 shape and band): a store is built from a bounded
    // slice of the embeddings table, TWO defects wearing transient
    // signatures are planted out-of-band — cross-tier duplicates (even
    // vec_id % 29, a pure modulo filter) and one covered recent-index
    // part deleted under the index — and checkIntegrity(confirmTransients
    // = true) must (a) run the confirm re-probe (no live writer lease),
    // (b) report BOTH defects as confirmed (they persist through the
    // second, lease-quiesced observation), and (c) leave is_complete
    // ungated by the transient classes. DuckDB recomputes the cross-tier
    // count (raw AND confirmed — they must agree on a persistent plant)
    // from the same modulo arithmetic; the index legs are deterministic
    // by construction (one coalesced plant part = stale 1, one deleted
    // covered part = missing 1, confirmed 1).
    "integrity_confirm" -> ((s, dir) => {
      import graft.store.VectorStore
      import s.implicits._
      val path = java.nio.file.Files.createTempDirectory("graft_integconf_q_").toString
      try {
        val store = new VectorStore(s, path, VectorStore.Config(
          recentThresholdSeconds = 7L * 24 * 3600, nClusters = 4, nProbe = 2))
        val emb = Tables.load(s, dir, "embeddings").filter(col("vec_id") < 2000)
        store.insertDF(emb.select(
          concat(lit("v"), col("vec_id")).as("id"),
          col("embedding"),
          when(col("vec_id") % 2 === 0, lit("2020-01-01 00:00:00"))
            .otherwise(lit("2026-01-01 23:00:00")).cast("timestamp").as("ts")))
        val now = Some(java.sql.Timestamp.valueOf("2026-01-02 00:00:00"))
        store.migrate(now) // evens -> historical; odds stay recent
        store.buildRecentIndex() // records the rewritten recent parts
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def parts(): Seq[String] = {
          val it = fs.listFiles(new org.apache.hadoop.fs.Path(path, "recent"), true)
          val b = Seq.newBuilder[String]
          while (it.hasNext) {
            val f = it.next()
            if (f.getPath.getName.endsWith(".parquet") && f.getLen > 0)
              b += f.getPath.toString
          }
          b.result()
        }
        val covered = parts().sorted
        // cross-tier plant: ids live in historical, planted into recent —
        // ONE part (coalesce) so the stale count is deterministic too
        val ts = lit("2026-01-01 23:30:00").cast("timestamp")
        emb.filter(col("vec_id") % 2 === 0 && col("vec_id") % 29 === 0)
          .select(concat(lit("v"), col("vec_id")).as("id"),
            concat(lit("vidxc"), col("vec_id")).as("vid"),
            col("embedding"), lit(null).cast("string").as("metadata"),
            ts.as("ts"))
          .coalesce(1).write.mode("append").parquet(s"$path/recent")
        // out-of-band deletion of a COVERED part: the persistent form of
        // the index-missing transient (odd-id rows only — the cross plant
        // above is untouched, so the two defect classes stay independent)
        fs.delete(new org.apache.hadoop.fs.Path(covered.head), false)
        val r = store.checkIntegrity(confirmTransients = true)
        Seq((r.crossTierDuplicateCount, r.confirmedCrossTierDuplicateCount,
            r.recentIndexStaleParts, r.recentIndexMissingParts,
            r.confirmedRecentIndexMissingParts, r.transientsConfirmed,
            r.isComplete))
          .toDF("cross_tier_dup_count", "confirmed_cross_tier_dup_count",
            "recent_index_stale_parts", "recent_index_missing_parts",
            "confirmed_recent_index_missing_parts", "transients_confirmed",
            "is_complete")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(path))
    }),
    // X15/X16 tier migration, end-to-end with the no-double-count contract
    // as the oracle: rows older than the threshold move recent->historical
    // in two bounded maintenance slices (the first capped at 100 — X16's
    // maxVectors policy; the cap forces the capped anti-join rewrite path,
    // not just the ts-cutoff filter), after which recent+historical must
    // partition the corpus exactly — a migrate that left migrated rows in
    // the recent tier (the reference's double-count bug,
    // hybrid/core.rs:579,632) or dropped survivors would break the counts.
    // Timestamps are injected deterministically (vec_id % 3 == 0 rows are
    // years older than the 7-day threshold) and "now" is pinned, so DuckDB
    // predicts every count from the source table alone.
    "migrate_tiers" -> ((s, dir) => {
      import graft.store.VectorStore
      val path = java.nio.file.Files.createTempDirectory("graft_migrate_q_").toString
      val store = new VectorStore(s, path)
      val emb = Tables.load(s, dir, "embeddings")
      store.insertDF(emb.select(
        concat(lit("v"), col("vec_id")).as("id"),
        col("embedding"),
        to_json(struct(col("label"))).as("metadata"),
        when(col("vec_id") % 3 === 0, lit("2020-01-01 00:00:00"))
          .otherwise(lit("2026-01-01 23:00:00")).cast("timestamp").as("ts")))
      val now = Some(java.sql.Timestamp.valueOf("2026-01-02 00:00:00"))
      val m1 = store.migrate(now, maxVectors = 100)
      val m2 = store.migrate(now)
      val st = store.stats()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      import s.implicits._
      Seq((m1, m2, st.recentCount, st.historicalCount))
        .toDF("migrated_first", "migrated_second", "recent_count", "historical_count")
    }),
    "schema_validate" -> ((s, dir) => {
      import s.implicits._
      val schemaJson =
        """{"fields": {"title": {"type": "string"}, "score": {"type": "number"},
          |  "tags": {"type": "array", "items": {"type": "string"}}},
          | "required": ["title"]}""".stripMargin
      val meta = when(col("doc_id") % 5 === 0,
          lit("""{"title": "t", "score": 1.5, "tags": ["a", "b"]}"""))
        .when(col("doc_id") % 5 === 1, lit("""{"score": 2}"""))
        .when(col("doc_id") % 5 === 2, lit("""{"title": 7}"""))
        .when(col("doc_id") % 5 === 3, lit("""{"title": "t", "tags": ["a", 3]}"""))
        .otherwise(lit("""{"title": null, "score": null}"""))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), meta.as("m"))
        .as[(Long, String)]
        .mapPartitions { it =>
          val schema = graft.store.MetadataSchema.parse(schemaJson)
          it.map { case (id, m) => (id, schema.validate(Some(m)).getOrElse("ok")) }
        }
        .toDF("doc_id", "verdict")
        .orderBy("doc_id")
    }),
    // J4 tombstone application as its own oracle row: soft-deleted ids are
    // masked from the live read view by the store's anti-join (the
    // reference's deleted_vectors filter, `hybrid/persistence.rs`), WITHOUT
    // vacuum — so the surviving id set is pure tombstone semantics, which
    // DuckDB predicts from the id arithmetic. Re-deleting an already-
    // tombstoned id must be idempotent (second count 0) — the dup-delete
    // edge crud_lifecycle doesn't isolate.
    "tombstone_antijoin" -> ((s, dir) => {
      import graft.store.VectorStore
      val path = java.nio.file.Files.createTempDirectory("graft_tomb_q_").toString
      val store = new VectorStore(s, path)
      val emb = Tables.load(s, dir, "embeddings").filter(col("vec_id") < 200)
      store.insertDF(emb.select(
        concat(lit("t"), col("vec_id")).as("id"), col("embedding")))
      val delIds = 0.until(200, 3).map(i => s"t$i")
      val d1 = store.delete(delIds)
      val d2 = store.delete(delIds) // idempotent: already tombstoned
      require(d2.deletedCount == 0,
        s"re-delete of tombstoned ids deleted ${d2.deletedCount} rows")
      val out = store.vectors.select(col("id"))
        .withColumn("n_deleted", lit(d1.deletedCount))
        .orderBy("id")
      out.count() // materialize before the scratch dir goes
      val res = out.collect()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      import s.implicits._
      res.map(r => (r.getString(0), r.getLong(1))).toSeq
        .toDF("id", "n_deleted")
    }),
    "streaming_ingest" -> ((s, dir) => {
      import s.implicits._
      // stream drive + cleanup under try/finally: a mid-run failure must
      // not leak a live streaming query or scratch data into the sweep
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_q_").toString
      try {
        val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
        docs.write.parquet(s"$tmp/src")
        val nSource = docs.count()
        val q = graft.streaming.Streaming.dedupIngest(
          s, s"$tmp/src", s"$tmp/acc", s"$tmp/chk")
        try q.processAllAvailable() finally q.stop()
        val acc = s.read.parquet(s"$tmp/acc/docs")
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("idsum"))
          .head()
        // everything above already executed — the returned frame is local
        Seq((nSource, acc.getLong(0), acc.getLong(1)))
          .toDF("n_source", "n_accepted", "accepted_id_sum")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(tmp))
    }))

  val oracles: Map[String, String] = Map(
    // tombstone anti-join: survivors = ids not divisible by 3; the delete
    // count rides every row (constant column, exact)
    "tombstone_antijoin" ->
      """SELECT 't' || vec_id AS id,
        |  (SELECT count(*) FROM embeddings
        |     WHERE vec_id < 200 AND vec_id % 3 = 0)::BIGINT AS n_deleted
        |FROM embeddings WHERE vec_id < 200 AND vec_id % 3 <> 0
        |ORDER BY id""".stripMargin,
    // every planted defect count is a modulo filter over the source
    // table; live counts add the plants to the parity split, every code
    // tier's snapshot predates the historical plant (missing = that
    // plant, identically per tier), the bq orphan plant drifts ONE
    // tier's orphaned count, and is_complete excludes the cross-tier
    // class while including all six drift legs
    "integrity_scan" ->
      """WITH c AS (SELECT
        |  count(*) FILTER (WHERE vec_id % 2 = 1) AS n_odd,
        |  count(*) FILTER (WHERE vec_id % 2 = 0) AS n_even,
        |  count(*) FILTER (WHERE vec_id % 17 = 0) AS n_wd,
        |  count(*) FILTER (WHERE vec_id % 2 = 1 AND vec_id % 23 = 0) AS n_dup,
        |  count(*) FILTER (WHERE vec_id % 2 = 0 AND vec_id % 29 = 0) AS n_cross,
        |  count(*) FILTER (WHERE vec_id % 31 = 0) AS n_ic,
        |  count(*) FILTER (WHERE vec_id % 37 = 0) AS n_orph
        |  FROM embeddings)
        |SELECT (n_odd + n_wd + n_dup + n_cross)::BIGINT AS live_recent,
        |  (n_even + n_ic)::BIGINT AS live_historical,
        |  n_wd::BIGINT AS wrong_dim_count, n_dup::BIGINT AS duplicate_id_count,
        |  n_cross::BIGINT AS cross_tier_dup_count,
        |  n_ic::BIGINT AS invalid_cluster_count,
        |  n_ic::BIGINT AS sq_missing, CAST(0 AS BIGINT) AS sq_orphaned,
        |  n_ic::BIGINT AS pq_missing, CAST(0 AS BIGINT) AS pq_orphaned,
        |  n_ic::BIGINT AS opq_missing, CAST(0 AS BIGINT) AS opq_orphaned,
        |  n_ic::BIGINT AS bq_missing, n_orph::BIGINT AS bq_orphaned,
        |  (n_wd = 0 AND n_dup = 0 AND n_ic = 0 AND n_orph = 0) AS is_complete
        |FROM c""".stripMargin,
    // the confirm pass on persistent plants: raw == confirmed on the
    // modulo-planted cross-tier dups (a confirm that re-read the same
    // observation, or intersected against the wrong set, drifts one of
    // the pair); the index legs are 1 by construction; the transient
    // classes must not gate is_complete even when CONFIRMED (alerting is
    // the monitor's job — the report's contract is unchanged)
    "integrity_confirm" ->
      """SELECT
        |  (SELECT count(*) FROM embeddings
        |     WHERE vec_id < 2000 AND vec_id % 2 = 0 AND vec_id % 29 = 0)::BIGINT
        |    AS cross_tier_dup_count,
        |  (SELECT count(*) FROM embeddings
        |     WHERE vec_id < 2000 AND vec_id % 2 = 0 AND vec_id % 29 = 0)::BIGINT
        |    AS confirmed_cross_tier_dup_count,
        |  CAST(1 AS BIGINT) AS recent_index_stale_parts,
        |  CAST(1 AS BIGINT) AS recent_index_missing_parts,
        |  CAST(1 AS BIGINT) AS confirmed_recent_index_missing_parts,
        |  TRUE AS transients_confirmed,
        |  TRUE AS is_complete""".stripMargin,
    // every count is closed-form: eligible = the old-ts band; the first
    // slice is capped at 100; the end state must partition the corpus
    "migrate_tiers" ->
      """WITH c AS (SELECT count(*) AS n,
        |    count(*) FILTER (vec_id % 3 = 0) AS elig FROM embeddings)
        |SELECT least(elig, 100)::BIGINT AS migrated_first,
        |  (elig - least(elig, 100))::BIGINT AS migrated_second,
        |  (n - elig)::BIGINT AS recent_count,
        |  elig::BIGINT AS historical_count
        |FROM c""".stripMargin,
    // the validator's verdicts, pinned literally per doc_id band: valid
    // full doc / missing required / wrong scalar type / bad array item /
    // explicit nulls (present + null = VALID under null-is-always-valid)
    "schema_validate" ->
      """SELECT doc_id, CASE doc_id % 5
        |  WHEN 0 THEN 'ok'
        |  WHEN 1 THEN 'missing required field: title'
        |  WHEN 2 THEN 'title: expected string'
        |  WHEN 3 THEN 'tags[1]: expected string'
        |  ELSE 'ok' END AS verdict
        |FROM documents ORDER BY doc_id""".stripMargin,
    "store_hnsw_search" ->
      """SELECT vec_id AS query_id, CAST(vec_id AS VARCHAR) AS id,
        |  0.0 AS distance
        |FROM embeddings WHERE vec_id < 8 ORDER BY vec_id""".stripMargin,
    "store_ivfpq_search" ->
      s"""WITH ${QueryShapes.exactDigestSql("l2", 8)}
         |SELECT CAST(8 AS BIGINT) AS n_queries, true AS recall_ok,
         |  exact_id_checksum, exact_dist_sum FROM dg""".stripMargin,
    "store_sq_search" ->
      """SELECT vec_id AS query_id, CAST(vec_id AS VARCHAR) AS id,
        |  0.0 AS distance
        |FROM embeddings WHERE vec_id < 8 ORDER BY vec_id""".stripMargin,
    "store_bq_search" ->
      """SELECT vec_id AS query_id, CAST(vec_id AS VARCHAR) AS id,
        |  0.0 AS distance
        |FROM embeddings WHERE vec_id < 8 ORDER BY vec_id""".stripMargin,
    "store_cosine_search" ->
      """SELECT vec_id AS query_id, CAST(vec_id AS VARCHAR) AS id,
        |  0.0 AS distance
        |FROM embeddings WHERE vec_id < 8 ORDER BY vec_id""".stripMargin,
    "store_hnsw_scale" ->
      """SELECT vec_id AS query_id, CAST(vec_id * 50 + 1 AS VARCHAR) AS id,
        |  0.0 AS distance
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin,
    "store_sq_scale" ->
      """SELECT vec_id AS query_id, CAST(vec_id * 50 AS VARCHAR) AS id,
        |  0.0 AS distance
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin,
    "store_bq_scale" ->
      """SELECT vec_id AS query_id, CAST(vec_id * 50 AS VARCHAR) AS id,
        |  0.0 AS distance
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin,
    // full replay of the exact top-10 denominator per query: rank-10
    // (id, rounded distance) over the reconstructed scale corpus — same
    // recipe and tie convention as store_hnsw_recall. recall_ok is the
    // Spark-computed PQ serving-path gate (constant-true in the replay).
    "store_pq_scale" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |  FROM embeddings WHERE vec_id < 100),
        |c AS (
        |  SELECT e.vec_id * 50 + i.i AS id,
        |    list_transform(e.embedding, x -> (x::DOUBLE + i.i * 0.001)::FLOAT) AS emb
        |  FROM embeddings e, range(0, 50) i(i)),
        |ex AS (
        |  SELECT query_id, id, d,
        |    row_number() OVER (PARTITION BY query_id ORDER BY d, id) AS rn
        |  FROM (SELECT q.query_id, c.id,
        |      round(list_distance(c.emb::DOUBLE[], q.qe), 6) AS d
        |    FROM c CROSS JOIN q))
        |SELECT query_id, id AS exact_id10, d AS exact_d10, true AS recall_ok
        |FROM ex WHERE rn = 10 ORDER BY query_id""".stripMargin,
    // store_opq_search: the recall gates are Spark-computed (the code-tier
    // serving walk is not SQL); DuckDB fully replays the exact
    // denominator's digest over the same stretched-corpus arithmetic —
    // the ann_opq oracle contract, through the store front door.
    "store_opq_search" ->
      s"""WITH ${QueryShapes.stretchedDigestSql(8)}
         |SELECT CAST(8 AS BIGINT) AS n_queries, true AS recall_ok,
         |  true AS ge_plain, exact_id_checksum, exact_dist_sum FROM dg""".stripMargin,
    // Batch replay of the streaming near-dup ingest: one AvailableNow
    // micro-batch means accepted = documents minus every verified pair's
    // larger id (same MinHash/LSH/Jaccard pipeline as minhash_lsh_pairs,
    // at dedupIngest's threshold 0.5). Checksum = sum of accepted ids.
    "streaming_ingest" -> {
      import TextQueries.{toksSql, hash32}
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, list_distinct(
         |  list_transform(range(1, len(toks)),
         |    i -> ${hash32("toks[i] || ' ' || toks[i+1]")}::BIGINT)) AS hs
         |  FROM t),
         |sig AS (SELECT doc_id, hs,
         |  [list_min(list_transform(hs, h -> (h * (2 * i + 1) + 7919 * i) % 4294967311))::BIGINT
         |   FOR i IN range(1, 9)] AS sig
         |  FROM sh),
         |banded AS (SELECT doc_id, b AS band, sig[b*2+1:b*2+2] AS bucket
         |  FROM sig, range(0, 4) r(b)),
         |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         |pairs AS (SELECT id_a, id_b, a.hs AS hs_a, b.hs AS hs_b
         |  FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b),
         |removed AS (SELECT DISTINCT id_b AS doc_id FROM pairs
         |  WHERE len(list_intersect(hs_a, hs_b))::DOUBLE / len(list_distinct(hs_a || hs_b)) >= 0.5)
         |SELECT count(*) AS n_source,
         |  count(*) FILTER (WHERE r.doc_id IS NULL) AS n_accepted,
         |  sum(d.doc_id) FILTER (WHERE r.doc_id IS NULL)::BIGINT AS accepted_id_sum
         |FROM documents d LEFT JOIN removed r ON d.doc_id = r.doc_id""".stripMargin
    })
}
