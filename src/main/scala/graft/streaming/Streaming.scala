package graft.streaming

import graft.store.VectorStore
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (SURVEY.md §2.11). The reference declares
  * but never wires an update stream (`src/api/rest.rs:727-738`,
  * `src/client/rust.rs:71-98`); its genuinely streaming-shaped semantics —
  * continuous ingestion, id-dedup, periodic recent->historical migration
  * (X15/X16, `hybrid/maintenance.rs:286-475`) — map to:
  *
  *  - `readStream` over an arrival directory
  *  - watermarked `dropDuplicatesWithinWatermark` on the vector id (the
  *    reference dedups by id at insert, `hybrid/core.rs:317-321`)
  *  - `foreachBatch` appending into the store's recent tier, with the
  *    migration job as a micro-batch side task (the MigrationScheduler
  *    analog — a Spark trigger instead of a tokio loop)
  *  - event-time windowed aggregation over event streams (watermark + late
  *    data handling), which the reference lacks entirely
  */
object Streaming {

  /** Source schema for vector arrival files: (id, embedding, metadata, ts). */
  val arrivalSchema: StructType = StructType(
    VectorStore.vectorSchema.filterNot(_.name == "vid"))

  /** Continuous ingest into a VectorStore. Each micro-batch: dedup within
    * the stream (watermarked), anti-join against already-stored vids, append
    * to the recent tier; every `migrateEvery` batches run tier migration
    * under `migrationPolicy` (X16: per-run vector cap, batch accounting,
    * quiet hours — [[MigrationScheduler]]). `migrationPolicy
    * .checkIntervalBatches` multiplies `migrateEvery` when both are set;
    * the usual usage is migrateEvery = 1 and the cadence in the policy. */
  def ingest(store: VectorStore, sourceDir: String, checkpointDir: String,
      watermark: String = "10 minutes", migrateEvery: Int = 0,
      migrationPolicy: MigrationPolicy = MigrationPolicy()): StreamingQuery = {
    val spark = store.spark
    val scheduler = new MigrationScheduler(store, migrationPolicy)
    val cadence = migrateEvery.toLong * migrationPolicy.checkIntervalBatches
    val src = spark.readStream.schema(arrivalSchema).parquet(sourceDir)
    val deduped = src
      .withColumn("vid", VectorStore.vidExpr(col("id")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("vid")
    deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.dimension match {
          case None =>
            val d = batch.select(size(col("embedding"))).head(1)
            if (d.nonEmpty) store.initIfNeeded(d.head.getInt(0))
          case Some(_) =>
        }
        if (store.dimension.nonEmpty) {
          // the same structural gate as the batch front doors (insert /
          // insertDF): a row with a wrong-dimension embedding corrupts
          // every later distance, and unparseable metadata JSON poisons
          // every later filtered read (FilterJson runs parse_json). The
          // batch APIs THROW; a stream must not die on one bad producer
          // row, so bad rows quarantine with their reason instead —
          // visible, never silent, never in the store.
          val dim = store.dimension.get
          val rowErr = when(col("embedding").isNull, lit("null embedding"))
            .when(size(col("embedding")) =!= dim,
              concat(lit(s"dimension mismatch: store=$dim row="),
                size(col("embedding"))))
            .when(col("metadata").isNotNull &&
              try_parse_json(col("metadata")).isNull,
              lit("metadata is not valid JSON"))
          val checked = batch
            .select(col("id"), col("vid"), col("embedding"), col("metadata"),
              col("ts"), rowErr.as("err"))
            .persist()
          try {
            val bad = checked.filter(col("err").isNotNull)
            if (bad.limit(1).count() > 0)
              bad.write.mode(SaveMode.Append)
                .parquet(s"${store.path}/quarantine")
            val fresh = checked.filter(col("err").isNull).drop("err")
              .join(store.vectors.select("vid"), Seq("vid"), "left_anti")
            fresh.write.mode(SaveMode.Append).parquet(s"${store.path}/recent")
          } finally checked.unpersist()
          if (cadence > 0 && batchId > 0 && batchId % cadence == 0)
            scheduler.runMigration()
        }
        ()
      }
      .start()
  }

  /** Streaming near-duplicate document ingest — the continuous form of the
    * training-data dedup pipeline: each arriving micro-batch of documents
    * is (1) near-dup-deduplicated within itself (greedy keep-smallest-id,
    * like `Dedup.dropNearDuplicates`), then (2) checked against everything
    * already accepted via MinHash band buckets, and only survivors append
    * to the accepted corpus.
    *
    * The accepted state is ONE parquet table under `acceptedDir`: `docs/`
    * (doc_id, text, hs — the shingle-hash set for Jaccard verify — and
    * bks — the per-band LSH bucket keys, band = array index). An arriving
    * doc joins the exploded `bks` of the accepted state on its own band
    * keys (parquet column pruning keeps that read to (doc_id, bks); at
    * scale: a table bucketed by the band key → shuffle-free), fetches only
    * colliding candidates' hash sets, and is rejected iff a verified
    * Jaccard >= threshold. Per batch the scan cost is |batch| x
    * collisions, never |corpus|; per batch the state I/O is ONE append and
    * one pruned read (folding the former separate buckets/ table halved
    * the fixed floor's write count, the dominant term — see SCALING.md).
    *
    * Append-per-batch grows the state's FILE count without bound over a
    * long-lived stream, so every `compactEveryBatches` micro-batches the
    * state is folded back to a bounded file set when it holds more than
    * `compactMinFiles` parts (tmp+swap with a crash-recovery marker — the
    * same contract as the store's tier rewrites; 0 disables). The current
    * file count is observable via [[acceptedStateFileCount]].
    *
    * Single-stream contract: ONE live stream per `acceptedDir`. The
    * checkpoint dir already serializes restarts of the same stream, but
    * nothing stops a caller starting two streams with different
    * checkpoints against one accepted state — that is undefined behavior
    * (both would append and compact the same table), same as any two
    * writers on one Spark output path. Readers of the accepted table are
    * always safe (swap recovery is lock-serialized with compaction).
    */
  def dedupIngest(spark: org.apache.spark.sql.SparkSession, sourceDir: String,
      acceptedDir: String, checkpointDir: String, shingleN: Int = 2,
      bands: Int = 4, rowsPerBand: Int = 2, threshold: Double = 0.5,
      minQuality: Option[Double] = None,
      lang: Option[String] = None,
      maxFilesPerTrigger: Int = 0,
      broadcastDocLimit: Long = 100000L,
      broadcastByteLimit: Long = 64L << 20,
      maxBucket: Int = 0,
      compactEveryBatches: Int = 16,
      compactMinFiles: Int = 64): StreamingQuery = {
    import graft.functions.TextFunctions._
    val docsPath = s"$acceptedDir/docs"
    val srcSchema = new StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    val numHashes = bands * rowsPerBand
    // repair a crashed compaction swap BEFORE the stream starts, not only
    // per batch: an empty source (no trigger ever fires) must still leave
    // the state readable for batch consumers
    recoverStateSwap(spark, docsPath)
    // maxFilesPerTrigger > 0 bounds each micro-batch (latency / memory
    // knob); 0 = drain everything available in one batch, which maximizes
    // docs/s — per-batch cost has a fixed floor (checkpoint commit + the
    // LSH shuffles), so bigger batches amortize it (see SCALING.md)
    val reader = spark.readStream.schema(srcSchema)
    val src =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(sourceDir)
      else reader.parquet(sourceDir)
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batchRaw: DataFrame, batchId: Long) =>
        // finish any state compaction a previous process died inside (the
        // same tmp+swap+marker recovery contract as the store's tier
        // rewrites — see VectorStore.recoverSwaps)
        recoverStateSwap(spark, docsPath)
        // an arrival batch is often ONE file = ONE partition (a producer
        // wrote it in one commit), which would run the md5-heavy shingle
        // hashing below on a single core — spread it first (measured 2x+
        // end-to-end docs/s at local[32]; the reshuffle moves only the
        // batch's raw text once)
        val batch = graft.operators.Dedup.spread(batchRaw)
        // the streaming face of the batch prep funnel: cheap map-side
        // quality/language gates run BEFORE any hashing, so rejected docs
        // never cost an md5 pass or a bucket lookup
        val gates = minQuality.map(m => round(qualityScore(col("text")), 6) >= m) ++
          lang.map(lg => langId(col("text")) === lg)
        val gated = gates.reduceOption(_ && _).map(batch.filter).getOrElse(batch)
        // hash set + band keys computed ONCE per doc and carried through
        // everything downstream: in-batch pair generation, the
        // accepted-state collide join, AND the state append all read these
        // two columns (previously the minhash/banding ran twice and the
        // state kept a second buckets/ table)
        val hashed = gated
          .select(col("doc_id"), col("text"),
            array_distinct(shingleHashes(col("text"), shingleN)).as("hs"))
          .withColumn("bks", sigBandKeys(
            minhashFromHashes(col("hs"), numHashes), bands, rowsPerBand))
          .persist()
        // materializes the cache (the first action would anyway) and sizes
        // the batch: only a BOUNDED batch may ride the broadcast side of
        // the LSH/state joins below. A typical micro-batch always is; an
        // unbounded AvailableNow drain of a deep backlog is not, and
        // broadcasting its hash sets would be the driver OOM the rest of
        // this file is designed to avoid — those batches fall back to the
        // shuffle plans (which is exactly when shuffles are worth paying).
        // The gate is on BYTES, not just rows: the broadcast relations
        // carry each doc's full shingle-hash array `hs`, so 100k LONG
        // documents can be hundreds of MB at a row-only limit — estimate
        // the dominant term (8 bytes per hash + ~64 bytes/row of band
        // keys and struct overhead) from the already-persisted batch and
        // require both bounds.
        try {
        val batchStats = hashed.agg(
          count(lit(1)), coalesce(sum(size(col("hs"))), lit(0L))).head()
        val nDocs = batchStats.getLong(0)
        val estBytes = batchStats.getLong(1) * 8L + nDocs * 64L
        val smallBatch = nDocs <= broadcastDocLimit && estBytes <= broadcastByteLimit
        def bcIfSmall(df: DataFrame): DataFrame =
          if (smallBatch) broadcast(df) else df
        // (1) in-batch near-dup: keep the smallest id of every colliding
        // pair (hashes AND band keys already materialized — no second
        // md5/minhash pass). smallInput: a bounded micro-batch broadcasts
        // the tiny side instead of paying 3 shuffles of task overhead
        // (AQE can't re-plan under streaming)
        // maxBucket bounds the in-batch candidate fan-out exactly like the
        // batch pipeline: one producer file of thousands of near-identical
        // docs lands in one (band, bucket) and would otherwise self-join
        // N^2/2 candidates before verify (explicit truncation, same
        // no-silent-caps contract — size it with Dedup.lshBucketStats)
        val inPairs = graft.operators.Dedup.minhashLshPairsFromBandKeys(
          hashed.select(col("doc_id").as("id"), col("hs"), col("bks")), threshold,
          smallInput = smallBatch, inputPersisted = true, maxBucket = maxBucket)
        val inKept = hashed.join(
          bcIfSmall(inPairs.select(col("id_b").as("doc_id")).distinct()),
          Seq("doc_id"), "left_anti")
        // (2) against the accepted corpus: band-bucket collision -> verify.
        // One pruned read of the single state table serves both the LSH
        // index (doc_id, bks) and the verify hash sets (doc_id, hs).
        val fs = new org.apache.hadoop.fs.Path(docsPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val survivors =
          if (!fs.exists(new org.apache.hadoop.fs.Path(docsPath, "_SUCCESS"))) inKept
          else {
            val accState = spark.read.parquet(docsPath)
            val accBuckets = accState.select(col("doc_id").as("acc_id"),
              posexplode(col("bks")).as(Seq("band", "bucket")))
            val accDocs = accState
              .select(col("doc_id").as("acc_id"), col("hs").as("acc_hs"))
            // a bounded batch is the small side against accepted state
            // (that's the design: per-batch cost = batch x collisions,
            // never |corpus|), so it rides the broadcast side of every
            // state join and the state is streamed in place — exactly the
            // shuffle-free lookup a (band,bucket)-bucketed state table
            // would give a cluster. Oversized drains take shuffle joins.
            val collide = bcIfSmall(inKept
              .select(col("doc_id"), posexplode(col("bks")).as(Seq("band", "bucket"))))
              .join(accBuckets, Seq("band", "bucket"))
              .select("doc_id", "acc_id").distinct()
            val dupIds = bcIfSmall(collide
              .join(bcIfSmall(inKept.select("doc_id", "hs")), Seq("doc_id")))
              .join(accDocs, Seq("acc_id"))
              .filter(jaccard(col("hs"), col("acc_hs")) >= threshold)
              .select("doc_id").distinct()
            inKept.join(bcIfSmall(dupIds), Seq("doc_id"), "left_anti")
          }
        // ONE state append: a doc row always lands WITH its band keys, so
        // partially-written batches can never leave accepted docs invisible
        // to the dedup lookup (the failure the old two-table write ordering
        // had to rule out). Bounded batches coalesce: their survivors are a
        // few MB across the session's shuffle partitions, and per-file
        // parquet writer setup — not bytes — dominated the append (AQE is
        // off under streaming, so nothing else merges these partitions);
        // oversized drains keep full write parallelism.
        val outCols = survivors.select("doc_id", "text", "hs", "bks")
        (if (smallBatch)
          outCols.coalesce(math.max(2, spark.sparkContext.defaultParallelism / 8))
        else outCols)
          .write.mode(SaveMode.Append).parquet(docsPath)
        // finally: a transient state-append failure under a supervised
        // restart loop must not strand a persisted copy of every failed
        // batch in executor storage
        } finally hashed.unpersist()
        // the append-per-batch state grows its FILE count without bound
        // over a long-lived stream (reads are column-pruned but every
        // lookup still opens every footer) — periodically fold it back to
        // a bounded file set, tmp+swap so a crash mid-compaction can never
        // lose accepted docs
        if (compactEveryBatches > 0 && batchId > 0 &&
            batchId % compactEveryBatches == 0)
          compactAcceptedState(spark, docsPath, compactMinFiles)
        ()
      }
      .start()
  }

  /** Non-empty parquet part files under the accepted-state table — the
    * bounded-growth signal [[dedupIngest]]'s compaction maintains; exposed
    * so operators (and the spec) can watch it next to the doc count. A PURE
    * reader: it never touches the swap state (recovery belongs to the
    * writer — [[dedupIngest]] runs it at stream start and before every
    * batch), so probing concurrently with a live stream is always safe.
    * Mid-swap windows where the live dir is ABSENT (the compaction's
    * rename-aside window, or a crash stranded there) do not read as a
    * false 0: with the swap marker present the probe falls back to the
    * completed `_tmp` dir (the committed post-swap state), else to the
    * `_old` aside (the pre-swap state) — so a monitor watching this count
    * through a compaction sees pre-count, then (transiently) the post
    * count via the fallback, then the installed post count, never a
    * phantom empty state. */
  def acceptedStateFileCount(spark: org.apache.spark.sql.SparkSession,
      acceptedDir: String): Int = {
    val docs = s"$acceptedDir/docs"
    val p = new org.apache.hadoop.fs.Path(docs)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def countIn(dir: org.apache.hadoop.fs.Path): Int =
      if (!fs.exists(dir)) 0
      else fs.listStatus(dir).count(st =>
        st.getPath.getName.endsWith(".parquet") && st.getLen > 0)
    if (fs.exists(p)) countIn(p)
    else if (fs.exists(swapMarker(docs))) {
      // marker ⇒ tmp is COMPLETE and committed to replacing live; report
      // it, falling back to the aside if tmp was already consumed
      val t = countIn(new org.apache.hadoop.fs.Path(docs + "_tmp"))
      if (t > 0) t else countIn(new org.apache.hadoop.fs.Path(docs + "_old"))
    } else countIn(new org.apache.hadoop.fs.Path(docs + "_old"))
  }

  private def swapMarker(docsPath: String) =
    new org.apache.hadoop.fs.Path(docsPath + "_swap.inprogress")

  /** Crash recovery for [[compactAcceptedState]]'s delete→rename window —
    * the marker contract lives in [[graft.core.FsSwap]], shared with the
    * store's tier rewrites. Runs at stream START and before every batch
    * (not only inside foreachBatch): a mid-swap crash must not leave the
    * state stranded in `_tmp` for batch consumers until the next trigger
    * happens to fire. */
  private def recoverStateSwap(spark: org.apache.spark.sql.SparkSession,
      docsPath: String): Unit = {
    val cur = new org.apache.hadoop.fs.Path(docsPath)
    graft.core.FsSwap.recover(
      cur.getFileSystem(spark.sparkContext.hadoopConfiguration),
      cur, new org.apache.hadoop.fs.Path(docsPath + "_tmp"), swapMarker(docsPath))
  }

  /** Rewrite the accepted-state table down to a bounded file count when it
    * has accreted more than `minFiles` parts. One full read + write of the
    * state — amortized over `compactEveryBatches` micro-batches, the same
    * trade as the store's HNSW blob compaction. The swap is bracketed by
    * an in-progress marker so the state survives a crash at any point. */
  private def compactAcceptedState(spark: org.apache.spark.sql.SparkSession,
      docsPath: String, minFiles: Int): Unit = {
    val cur = new org.apache.hadoop.fs.Path(docsPath)
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(cur, "_SUCCESS"))) return
    val nParts = fs.listStatus(cur).count(st =>
      st.getPath.getName.endsWith(".parquet") && st.getLen > 0)
    if (nParts <= minFiles) return
    val target = math.max(2, spark.sparkContext.defaultParallelism / 8)
    spark.read.parquet(docsPath)
      .coalesce(target)
      .write.mode(SaveMode.Overwrite).parquet(docsPath + "_tmp")
    graft.core.FsSwap.commit(fs, cur,
      new org.apache.hadoop.fs.Path(docsPath + "_tmp"), swapMarker(docsPath))
  }

  /** Event-time windowed aggregation over an event stream: tumbling window
    * counts+sums per event_type with late-data tolerance. Returns the
    * streaming DataFrame to be bound to any sink. */
  def windowedEventCounts(events: DataFrame, windowLen: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))
}
