package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Input shapes shared across query modules — single definitions because
  * oracles depend on their exact arithmetic. */
object QueryShapes {

  /** Exact-ground-truth digest for the PQ-family recall-gate rows: the
    * gates themselves stay Spark-computed (a float k-means shortlist is
    * not SQL-replayable), but the EXACT side — the recall denominator —
    * becomes driver-visible: id membership checksum + rounded distance
    * sum of the exact top-10 frame, which [[exactDigestSql]] replays in
    * DuckDB from the embeddings table. One definition of the arithmetic
    * for both engines (the oracle-generator pattern); a recall gate whose
    * denominator drifted (wrong metric, wrong k, wrong query set, a
    * broken exact path) now hash-mismatches the driver compare instead of
    * silently gating against garbage. Rank-insensitive by design (the
    * store's exact path carries no rank column): membership + distance
    * sum pins the set, and rank is a function of (distance, id) anyway. */
  /** Stage one single-file parquet batch per DataFrame with FORCED
    * strictly-increasing file mtimes, so the file source's timestamp
    * ordering IS the element order — ONE definition for every consumer
    * whose semantics depend on batch ORDER (the sliding-window oracle
    * rows and their specs). The re-stamp threshold derives from the
    * batch count (never a hardcoded constant: a constant lower than the
    * final stamp would let later iterations re-stamp earlier batches'
    * files with the wrong mtime, silently corrupting the very order the
    * windowed comparison depends on). `base` is an arbitrary past
    * epoch-ms; pass a later base to APPEND more ordered batches to an
    * already-staged dir (the new stamps must exceed every old one). */
  def stageOrderedBatches(dfs: Seq[DataFrame], dir: String,
      base: Long = 1600000000000L): Unit = {
    // ONE tagged-union write instead of one scan+write job per batch
    // (guide §2.4/§1.2: N sequential jobs over the same source collapse
    // into one pass): each batch df gets a literal tag, one shuffle
    // hashes each tag to one task, and partitionBy splits the writer by
    // tag — so every non-empty batch lands as exactly one file, exactly
    // as the old per-batch coalesce(1) produced. The files are then
    // MOVED up to the flat layout the file stream source reads, with
    // the mtimes assigned explicitly (batch i = base + i s) — same
    // mtime-order contract, minus the listing/threshold dance.
    import org.apache.spark.sql.functions.{col, lit}
    if (dfs.isEmpty) return // nothing to stage (the old per-batch loop was a no-op)
    val tag = "__graft_batch"
    val staging = dir + "_staged"
    val tagged = dfs.zipWithIndex
      .map { case (df, i) => df.withColumn(tag, lit(i)) }
      .reduce(_ unionByName _)
    // Overwrite: a staging dir stranded by a crashed prior run must not
    // fail every retry (the default ErrorIfExists would).
    tagged.repartition(col(tag)).write.mode("overwrite")
      .partitionBy(tag).parquet(staging)
    val stagingDir = new java.io.File(staging)
    val outDir = new java.io.File(dir); outDir.mkdirs()
    dfs.indices.foreach { i =>
      val partDir = new java.io.File(stagingDir, s"$tag=$i")
      val files = Option(partDir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      if (files.isEmpty) {
        // an EMPTY batch writes no partition dir: fall back to the old
        // per-batch write for just that batch so the stream still sees
        // one (zero-row) file and the batch numbering is unchanged
        dfs(i).coalesce(1).write.mode("append").parquet(dir)
        new java.io.File(dir).listFiles()
          .filter(f => f.getName.endsWith(".parquet"))
          .filter(_.lastModified() > base + dfs.size * 1000L)
          .foreach(f => f.setLastModified(base + i * 1000L))
      } else {
        // The batch-boundary contract is EXACTLY one file per non-empty
        // tag (one staged batch = one micro-batch under
        // maxFilesPerTrigger=1). If the tagged write ever splits a tag
        // across files (a session's maxRecordsPerFile, a future AQE
        // change to RepartitionByExpression), the files would share one
        // mtime and silently split one batch into several — fail loudly
        // instead of corrupting the order the windowed rows depend on.
        require(files.length == 1,
          s"staged batch $i produced ${files.length} files (expected 1): " +
            files.map(_.getName).mkString(", "))
        val f = files.head
        val dst = new java.io.File(outDir, s"batch-$i-0-${f.getName}")
        require(f.renameTo(dst), s"staging rename failed: $f -> $dst")
        dst.setLastModified(base + i * 1000L)
      }
    }
    org.apache.commons.io.FileUtils.deleteQuietly(stagingDir)
  }

  /** Where the build-once query fixtures live (serving stores, scale
    * indexes, trained models). */
  private val FixtureRoot = "/tmp/graft_fixtures"

  /** The fixture dir for `name` over the corpus at `corpusDir` (a file or
    * a dir: pass exactly what the fixture reads, e.g.
    * `$sfDir/embeddings.parquet`, so regenerating an unrelated table keeps
    * it): `name` (which carries the construction version, e.g.
    * `store_idx_v5`) plus a fingerprint of the corpus — its qualified path
    * and every file's relative path, length and mtime, from one listing
    * (no Spark job). A corpus regenerated under the same path gets a new
    * dir, and two corpora never share one (`/a/b` vs `/a_b`). */
  def fixtureDir(s: org.apache.spark.sql.SparkSession, name: String,
      corpusDir: String): String = {
    import org.apache.hadoop.fs.Path
    import java.nio.charset.StandardCharsets.UTF_8
    val root = new Path(corpusDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(root)
    val prefix = qualified.toUri.getPath.stripSuffix("/") + "/"
    val files = Seq.newBuilder[String]
    // listStatus, not listFiles: the local FS builds each LocatedFileStatus
    // by forking a process for the file's permissions (~3 ms a file), and
    // every query call over a fixture comes through here
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else files += s"${st.getPath.toUri.getPath.stripPrefix(prefix)}\t" +
        s"${st.getLen}\t${st.getModificationTime}"
    }
    walk(qualified)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(qualified.toString.getBytes(UTF_8))
    files.result().sorted.foreach(f => md.update(("\n" + f).getBytes(UTF_8)))
    val fp = md.digest().take(8).map(b => f"$b%02x").mkString
    s"$FixtureRoot/${name}_$fp"
  }

  /** Build-once cache shared by every persisted query fixture: returns
    * [[fixtureDir]]`(name, corpusDir)`, first building it if absent.
    * `build` writes into a fresh sibling temp dir (always into
    * sub-paths of it), which is published by ONE atomic rename after
    * `build` returns and the `_DONE` marker is written — so a reader
    * never sees a half-built fixture and a failed build leaves nothing.
    * Of two concurrent builders, the one that loses the rename drops its
    * copy and uses the winner's. A publish also removes this name's temp
    * dirs older than [[StaleBuildMs]], which only a killed build leaves.
    * Fixtures of superseded corpora are kept: another corpus path may
    * still be served from them. */
  def buildOnce(s: org.apache.spark.sql.SparkSession, name: String,
      corpusDir: String)(build: String => Unit): String = {
    import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption}
    val dir = Paths.get(fixtureDir(s, name, corpusDir))
    if (!Files.exists(dir.resolve("_DONE"))) {
      val building = s"${name}_building_"
      val tmp = Files.createDirectories(dir.resolveSibling(
        building + java.util.UUID.randomUUID()))
      try {
        build(tmp.toString)
        Files.createFile(tmp.resolve("_DONE"))
        try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
        catch {
          // another builder published first: keep theirs
          case _: FileSystemException if Files.exists(dir.resolve("_DONE")) => ()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
      val cutoff = System.currentTimeMillis() - StaleBuildMs
      Option(dir.getParent.toFile.listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith(building) && f.lastModified() < cutoff)
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    }
    dir.toString
  }

  /** Age past which a fixture's temp build dir is taken as a killed
    * build's leftover: far above the longest fixture build (minutes). */
  val StaleBuildMs: Long = 24L * 3600 * 1000

  def exactDigest(exact: DataFrame): DataFrame =
    exact.agg(
      sum(col("id").cast("long")).cast("long").as("exact_id_checksum"),
      round(sum(round(col("distance"), 6)), 4).as("exact_dist_sum"))

  /** DuckDB replay of [[exactDigest]] over the raw embeddings corpus:
    * emits a `dg` CTE with (exact_id_checksum, exact_dist_sum) for the
    * exact top-`k` per query over `vec_id < nQueries` queries under
    * `metric` (l2|cosine), round-then-rank ties on (d, id) — the same
    * convention as every knn_* oracle. */
  def exactDigestSql(metric: String, nQueries: Int, k: Int = 10): String = {
    val d = metric match {
      case "l2" => "round(list_distance(e.embedding::DOUBLE[], q.qe), 6)"
      case "cosine" =>
        "round(1.0 - list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6)"
      case other => throw new IllegalArgumentException(s"metric $other")
    }
    s"""ex AS (
       |  SELECT query_id, id, d,
       |    row_number() OVER (PARTITION BY query_id ORDER BY d, id) AS rank
       |  FROM (SELECT q.query_id, e.vec_id AS id, $d AS d
       |    FROM embeddings e CROSS JOIN
       |      (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
       |       FROM embeddings WHERE vec_id < $nQueries) q)),
       |dg AS (SELECT CAST(sum(id) AS BIGINT) AS exact_id_checksum,
       |    round(sum(d), 4) AS exact_dist_sum
       |  FROM ex WHERE rank <= $k)""".stripMargin
  }

  /** The 50x deterministically-perturbed corpus behind every *_scale query
    * and persisted scale index (100K rows at sf0.1): id = vec_id * 50 + i,
    * every coordinate shifted by i * 0.001. The ann_* self-retrieval
    * oracles assert `id = query vec_id * 50 at distance 0` from this exact
    * recipe — change it only together with those oracle SQL strings. The
    * repartition forces the transform-built (boxed) arrays through an
    * UnsafeRow exchange so distance kernels read primitive floats. */
  def scaleCorpus(e: DataFrame): DataFrame = e
    .select(col("vec_id"), col("embedding"), explode(sequence(lit(0), lit(49))).as("i"))
    .select((col("vec_id") * 50 + col("i")).as("id"),
      transform(col("embedding"),
        x => (x.cast("double") + col("i").cast("double") * 0.001).cast("float"))
        .as("embedding"))
    .repartition(col("id"))

  /** Anisotropic corpus behind the ann_opq row (and OpqSpec): dimension i
    * (0-based) scaled by (1 + i/8), so variance piles into the high-index
    * subspaces — the shape plain PQ wastes code budget on and OPQ's
    * learned rotation exists to fix. Double multiply, float cast, exactly
    * what [[stretchedDigestSql]] replays — change them together. */
  def stretchedCorpus(e: DataFrame): DataFrame = e.select(
    col("vec_id").as("id"),
    transform(col("embedding"), (x, i) =>
      (x.cast("double") * (lit(1.0) + i.cast("double") / lit(8.0)))
        .cast("float")).as("embedding"))

  /** DuckDB replay of the exact-top-`k` digest over [[stretchedCorpus]]
    * (L2, `vec_id < nQueries` queries): emits `st` (the stretched corpus)
    * and `dg` (exact_id_checksum, exact_dist_sum) CTEs — the ann_opq
    * analog of [[exactDigestSql]]. The 1-based range index maps to the
    * 0-based Spark transform index via (i-1). */
  def stretchedDigestSql(nQueries: Int, k: Int = 10): String =
    s"""st AS (
       |  SELECT vec_id,
       |    list((embedding[i]::DOUBLE * (1.0 + (i - 1) / 8.0))::REAL::DOUBLE
       |      ORDER BY i) AS emb
       |  FROM embeddings, range(1, 65) t(i) GROUP BY vec_id),
       |ex AS (
       |  SELECT query_id, id, d,
       |    row_number() OVER (PARTITION BY query_id ORDER BY d, id) AS rank
       |  FROM (SELECT q.query_id, e.vec_id AS id,
       |      round(list_distance(e.emb, q.qe), 6) AS d
       |    FROM st e CROSS JOIN
       |      (SELECT vec_id AS query_id, emb AS qe
       |       FROM st WHERE vec_id < $nQueries) q)),
       |dg AS (SELECT CAST(sum(id) AS BIGINT) AS exact_id_checksum,
       |    round(sum(d), 4) AS exact_dist_sum
       |  FROM ex WHERE rank <= $k)""".stripMargin

  /** Per-label element-wise mean centroid (A3) as (label, float[]) —
    * DuckDB recomputes it exactly, which is what makes the label-IVF
    * queries oracle-checkable. One hash aggregate with dim column-avg
    * slots instead of posexplode + two shuffles + collect_list sort:
    * same arithmetic (per-element double avg, cast float), one pass.
    * The slot count comes from the first row's embedding (vectors are
    * dense and uniform — the kernels throw on mismatch anyway), so the
    * aggregate stays dimension-generic. */
  def labelCentroids(emb: DataFrame): DataFrame = {
    val first = emb.select(size(col("embedding"))).head(1)
    // no rows -> no centroids (empty frame with the right shape), matching
    // what a groupBy over an empty input would have produced
    val dim = if (first.isEmpty) 0 else first.head.getInt(0)
    emb.groupBy("label").agg(
      array((0 until dim).map(i =>
        avg(col("embedding").getItem(i)).cast("float")): _*).as("centroid"))
  }

  // Centroid training is index state: computed once per (corpus, subset)
  // and then served, exactly like the persisted scale indexes amortize
  // graph/inverted-file construction (the reference trains its coarse
  // quantizer once too). The cache key embeds the sf dir, so different
  // corpora never share centroids within one JVM.
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Array[Float])]]()

  /** Driver-cached (label, centroid) pairs, sorted by label. `cents` is a
    * [[labelCentroids]]-shaped frame, evaluated only on cache miss. */
  def cachedLabelCentroids(key: String, cents: => DataFrame): Array[(Int, Array[Float])] =
    centroidCache.computeIfAbsent(key, _ =>
      cents.collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1))

  /** The cached centroids re-wrapped as a local relation (no Spark job on
    * the warm path; broadcast directly from the driver arrays). */
  def labelCentroidsDF(s: org.apache.spark.sql.SparkSession, key: String,
      cents: => DataFrame): DataFrame = {
    import s.implicits._
    cachedLabelCentroids(key, cents).toSeq.toDF("label", "centroid")
  }
}
