package perfbench

import graft.store.VectorStore
import graft.store.VectorStore._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The store handed to `RestServer` (and used directly by the stream
  * workload). Each public call the workloads reach while tracing (the
  * search, get, write and maintenance routes; the stream's migrations)
  * records one span named `store.<op>` and tags every Spark job its thread submits — including
  * the jobs `RestServer` runs on the returned DataFrame after the call —
  * with the span id through [[Tracer.OpKey]]. Nested calls (a method of
  * the store calling another) record nothing extra. With tracing off the
  * calls pass straight through, except that every search still notes when
  * it was entered ([[searchEntries]]). */
final class TracingStore(spark: SparkSession, path: String, config: Config,
    tr: Tracer) extends VectorStore(spark, path, config) {

  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** (System.nanoTime, query) of every outermost `searchMode` call, traced
    * or not: the benchmark's own clock for the server side of a search
    * (see [[Serve.serverMs]]). */
  val searchEntries = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Array[Float])]()

  private def op[T](name: String)(body: => T): T = {
    if (depth.get > 0) return body
    if (!tr.enabled) {
      // an untraced call's jobs must not inherit the last traced call's tag
      spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
      return body
    }
    val id = tr.nextId()
    spark.sparkContext.setLocalProperty(Tracer.OpKey, id.toString)
    depth.set(depth.get + 1)
    val t0 = System.nanoTime()
    try body
    finally {
      depth.set(depth.get - 1)
      tr.add(Span(id, s"store.$name", t0, System.nanoTime()))
    }
  }

  override def searchMode(query: Array[Float], k: Int, mode: String,
      metric: String, filterJson: Option[String],
      scoreThreshold: Option[Double], oversample: Int, probeBlobs: Int,
      includeVectors: Boolean, searchRecent: Boolean,
      searchHistorical: Boolean, nProbe: Int, efSearch: Int): DataFrame = {
    if (depth.get == 0) searchEntries.add((System.nanoTime(), query.clone()))
    op(s"search.${Modes.kind(mode, filterJson)}") {
      super.searchMode(query, k, mode, metric, filterJson, scoreThreshold,
        oversample, probeBlobs, includeVectors, searchRecent,
        searchHistorical, nProbe, efSearch)
    }
  }

  /** `RestServer` reads `vectors` directly only for `GET /vectors/{id}`. */
  override def vectors: DataFrame =
    if (depth.get > 0) super.vectors else op("get")(super.vectors)

  override def insert(batch: Seq[VectorRecord]): InsertResult =
    op(if (batch.size == 1) "insert" else "batch_insert")(super.insert(batch))

  override def delete(ids: Seq[String]): DeleteResult = op("delete")(super.delete(ids))

  override def migrate(nowOverride: Option[java.sql.Timestamp],
      maxVectors: Int): Long = op("migrate")(super.migrate(nowOverride, maxVectors))

  override def vacuum(): VacuumResult = op("vacuum")(super.vacuum())

  override def buildRecentIndex(efConstruction: Int, m: Int, metric: String,
      numBlobs: Int, routed: Boolean): Unit =
    op("reindex")(super.buildRecentIndex(efConstruction, m, metric, numBlobs, routed))

  override def enablePq(m: Int, kCodes: Int, trainSize: Int, retrain: Boolean,
      residual: Boolean): Unit =
    op("pq_train")(super.enablePq(m, kCodes, trainSize, retrain, residual))
}

/** Search-kind names shared by the client, the store spans and the
  * metrics: `exact`, `hnsw` (the saved recent-tier graph), `pq`, and
  * `exact_f1` / `exact_f50` (exact with a 1% or 50% selective filter). */
object Modes {
  def kind(mode: String, filterJson: Option[String]): String = mode match {
    case "exact" => filterJson.fold("exact")(f =>
      "exact_" + Gen.Filters.find(_.json == f).fold("other")(_.name))
    case "recent_index" => "hnsw"
    case other => other
  }
}
