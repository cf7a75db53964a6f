package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.collection.mutable

/** Order statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** The highest percentile with at least ten samples above it: the
    * (n-10)th smallest of n samples, named as a percentile. Below 11
    * samples the maximum, named "max". */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, "none")
    else if (n < 11) (s.last, s"max of $n")
    else (s(n - 11), f"p${100.0 * (n - 10) / n}%.1f of $n")
  }
}

/** One metric line: value, unit, sample count and a note. */
final case class Metric(value: Double, unit: String, n: Long, note: String = "")

/** Outcome of one run: operation counts, failures and named metrics. */
final class Result {
  private var attempted0 = 0L
  private var failed0 = 0L
  private val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, Metric]()

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)

  def fail(msg: String): Unit = synchronized {
    failed0 += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  /** Count one operation; a false `ok` counts it failed. */
  def check(ok: Boolean, msg: => String): Unit = {
    synchronized { attempted0 += 1 }
    if (!ok) fail(msg)
  }

  def put(name: String, value: Double, unit: String, n: Long, note: String = ""): Unit =
    metrics(name) = Metric(value, unit, n, note)

  def toJson: String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("correct", failed == 0)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val detail = root.putArray("detail")
    metrics.foreach { case (k, v) =>
      val d = detail.addObject()
      d.put("name", k); d.put("value", v.value); d.put("unit", v.unit)
      d.put("n", v.n); d.put("note", v.note)
    }
    val f = root.putArray("failures")
    failures.foreach(f.add)
    m.writeValueAsString(root)
  }
}

/** Minimal JSON-over-HTTP client for the in-process server; one per
  * client thread. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()

  def call(method: String, path: String, body: String = null): (Int, JsonNode) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1$path"))
    val req = (if (body == null) b.method(method, HttpRequest.BodyPublishers.noBody())
      else b.header("Content-Type", "application/json")
        .method(method, HttpRequest.BodyPublishers.ofString(body))).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    val txt = resp.body()
    (resp.statusCode(), if (txt == null || txt.isEmpty) null else mapper.readTree(txt))
  }
}

/** Brute-force nearest neighbours (l2) over rows the benchmark holds. */
object Truth {
  val Tol = 1e-4

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Top-k (distance, id), ties broken by id. */
  def topK(rows: Iterable[Gen.Row], q: Array[Float], k: Int): Vector[(Double, String)] =
    rows.iterator.map(r => (l2(q, r.vec), r.id)).toVector.sorted.take(k)

  /** Does an exact response match brute force? `live` rows are certainly
    * visible, `maybeIn` rows may or may not be (a write overlapped the
    * request), `maybeOut` ids may have been removed by an overlapping
    * delete. Every returned hit must be a visible row at its true
    * distance; no certainly-visible row closer than the last hit may be
    * missing. Returns an error message or None. */
  def checkExact(hits: Seq[(String, Double)], q: Array[Float], k: Int,
      live: collection.Map[String, Gen.Row], maybeIn: collection.Map[String, Gen.Row],
      maybeOut: collection.Set[String], filter: Option[Gen.Filter]): Option[String] = {
    def eligible(r: Gen.Row) = filter.forall(_.matches(r))
    if (hits.size > k) return Some(s"${hits.size} hits for k=$k")
    if (hits.zip(hits.drop(1)).exists { case (a, b) => b._2 < a._2 - 1e-9 })
      return Some("hits not sorted by distance")
    for ((id, d) <- hits) {
      val row = live.get(id).orElse(maybeIn.get(id))
        .getOrElse(return Some(s"hit $id is not a live row"))
      if (!eligible(row)) return Some(s"hit $id does not match the filter")
      val t = l2(q, row.vec)
      if (math.abs(t - d) > Tol) return Some(f"hit $id distance $d%.6f, true $t%.6f")
    }
    val got = hits.map(_._1).toSet
    val bound = if (hits.size == k) hits.last._2 - Tol else Double.MaxValue
    val sure = live.valuesIterator.filter(r => eligible(r) && !maybeOut.contains(r.id))
    sure.find(r => !got.contains(r.id) && l2(q, r.vec) < bound)
      .map(r => s"missing ${r.id} at distance ${l2(q, r.vec)}")
  }

  def recall(hits: Seq[String], truth: Seq[String]): Double =
    if (truth.isEmpty) 1.0 else hits.count(truth.toSet).toDouble / truth.size
}
