package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe behind [[Bench]] and every `graft.tools` main:
  * `local[SPARK_GRAFT_CPUS]` (default 4) plus the settings the bench sweep
  * was tuned with. A tool that needs an extra conf adds it to the returned
  * builder before `getOrCreate()`. */
object BenchSession {
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // the persisted index/corpus tables are a few MB per file: with the
      // 128 MB default a whole 25 MB corpus scan bin-packs into 1-2 input
      // partitions and the distance kernels run on 2 of 32 cores. Split
      // small-file scans finer — at real scale files are row-group sized
      // and these settings are irrelevant.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "512k")
      // Many queries x ~5-10 whole-stage-codegen units each overflows the
      // default 100-entry generated-class cache, so pass 2 of an
      // interleaved sweep regenerates + re-JITs every hot kernel — the
      // 10M-row knn_scale loop pays ~1.5 s of C2 warm-up per MEASURED
      // pass while the same query warm-runs in ~0.9 s standalone (the r5
      // post-mortem; same fix class as the r4 ReservedCodeCacheSize=1g:
      // the bench is many-query, the defaults assume few). The size is
      // DERIVED from the registry size, not a constant: a constant was
      // re-invalidated every round the sweep grew (r4: 43 queries, r5:
      // 58, r7: 87) — 60 entries/query covers the observed ~5-10 codegen
      // units per query plus index-build/warm-up plans with >5x headroom,
      // and the 4000 floor keeps the r5-measured sizing as a minimum.
      // the grouped top-k TypedImperativeAggregate keeps a BOUNDED buffer
      // per group (<= max(4k, 64) candidates, ~1 KB at k<=16), so the
      // object-hash aggregate's 128-groups-per-partition fallback budget
      // is far too conservative for it: a partition holding a few hundred
      // vertex groups would silently degrade to sort-based aggregation
      // over the full pair expansion (measured 10x on the k-NN graph
      // shapes). 4096 groups x ~1 KB is single-digit MB per task.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.sql.codegen.cache.maxEntries",
        math.max(4000, SparkEntry.queries.size * 60).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }
}
