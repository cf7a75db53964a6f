package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.serve.RestServer
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One client request as the client saw it. */
final case class Op(kind: String, send: Long, recv: Long, status: Int,
    q: Array[Float] = null, filter: Option[Gen.Filter] = None,
    hits: Seq[(String, Double)] = Nil, cached: Boolean = false,
    id: String = null, vec: Array[Float] = null, repeat: Boolean = false) {
  def ms: Double = (recv - send) / 1e6
  def isSearch: Boolean = Serve.SearchKinds.contains(kind)
}

/** One write the writer client completed, for the replay check. */
final case class Write(send: Long, recv: Long, inserted: Seq[Gen.Row],
    deleted: Seq[String])

/** The two HTTP workloads. Both drive an in-process `RestServer` over
  * the [[Fixture]] store with closed-loop clients.
  *
  *  - `serve_read`: one client, unique k=10 searches in a fixed mode mix,
  *    no writes, so every response is a cache miss.
  *  - `serve_mixed`: a fresh copy of the store; three readers (searches,
  *    a third of them repeating the reader's previous search, plus GETs)
  *    in rounds of one request each, and one writer (single inserts,
  *    100-row batches, deletes: one write after every second round, after
  *    a few writes before the warm-up) on the serial dispatcher, then
  *    vacuum / migrate / recent-index / PQ rebuild through the admin
  *    routes. */
object Serve {
  val CorpusRows = 10000
  /** (kind, mode, filter) of the search mix, in cycle order. */
  val Mix: Seq[(String, String, Option[Gen.Filter])] = Seq(
    ("exact", "exact", None),
    ("hnsw", "recent_index", None),
    ("exact_f1", "exact", Some(Gen.Filter1)),
    ("pq", "pq", None),
    ("exact_f50", "exact", Some(Gen.Filter50)))
  val SearchKinds: Set[String] = Mix.map(_._1).toSet
  val WriteKinds = Seq("insert", "batch_insert", "delete")

  def searchBody(mode: String, q: Array[Float], f: Option[Gen.Filter]): String = {
    val v = q.mkString("[", ",", "]")
    val filt = f.map(x => s""","filter":${x.json}""").getOrElse("")
    s"""{"vector":$v,"k":10$filt,"options":{"mode":"$mode","metric":"l2"}}"""
  }

  def rowBody(r: Gen.Row): String =
    s"""{"id":"${r.id}","vector":${r.vec.mkString("[", ",", "]")},"metadata":${r.metadata}}"""

  def parseHits(n: JsonNode): Seq[(String, Double)] =
    if (n == null || !n.has("results")) Nil
    else n.get("results").elements().asScala
      .map(h => (h.get("id").asText(), h.get("distance").asDouble())).toSeq

  def search(http: Http, kind: String, q: Array[Float], repeat: Boolean = false): Op = {
    val (_, mode, f) = Mix.find(_._1 == kind).get
    val t0 = System.nanoTime()
    val (st, body) = http.call("POST", "/search", searchBody(mode, q, f))
    val t1 = System.nanoTime()
    Op(kind, t0, t1, st, q, f, parseHits(body),
      body != null && body.has("cached") && body.get("cached").asBoolean(), repeat = repeat)
  }

  /** Server-side time of each uncached search, on the benchmark's clock:
    * from the moment the dispatcher entered `searchMode` for it (noted by
    * the [[TracingStore]]) to the moment the client had the whole
    * response. It covers planning, the Spark jobs, JSON encoding and the
    * HTTP reply, and leaves out the time the request queued behind others.
    * A search is matched to the entry inside its request that carries its
    * query vector (each reader sends its own vectors, one at a time). */
  def serverMs(ops: Seq[Op], entries: Seq[(Long, Array[Float])]): Seq[(Op, Double)] = {
    def same(a: Array[Float], b: Array[Float]) = a.length == b.length &&
      a.indices.forall(i => math.abs(a(i) - b(i)) <= 1e-6f * math.max(1f, math.abs(b(i))))
    val uncached = ops.filter(o => o.isSearch && !o.cached)
    val matched = uncached.flatMap { o =>
      entries.find { case (t, q) => t >= o.send && t <= o.recv && same(q, o.q) }
        .map { case (t, _) => o -> (o.recv - t) / 1e6 }
    }
    if (matched.size < uncached.size)
      Log(s"${uncached.size - matched.size} uncached searches matched no searchMode entry")
    matched
  }

  def get(http: Http, id: String): Op = {
    val t0 = System.nanoTime()
    val (st, body) = http.call("GET", s"/vectors/$id")
    val t1 = System.nanoTime()
    val vec = if (st == 200 && body != null && body.has("vector"))
      body.get("vector").elements().asScala.map(_.floatValue()).toArray else null
    Op("get", t0, t1, st, id = id, vec = vec)
  }

  /** Warm-up rounds before timing: the first round runs each search path
    * cold; the later ones bring it near the speed it keeps (in a single
    * round the indexed kinds were still getting faster through the
    * measured window). */
  val WarmRounds = 3

  /** Warm-up: [[WarmRounds]] rounds over the given search kinds, each on
    * its own queries outside the measured streams (a repeated query would
    * be answered from the cache), for JIT, codegen, footer and index-blob
    * caches. */
  def warm(env: Env, http: Http, kinds: Seq[String]): Unit = {
    val qs = Gen.queries(env.seed, 90, env.mix, WarmRounds * kinds.size)
    for (r <- 0 until WarmRounds; (k, i) <- kinds.zipWithIndex)
      search(http, k, qs(r * kinds.size + i))
  }

  /** Corpus, store and server. With `copy` the store is built under
    * `fixture/` and served from a fresh copy, as a long-lived store
    * would be reopened. */
  final class Setup(val env: Env, copy: Boolean) {
    val rows: Vector[Gen.Row] = Gen.corpus(env.seed, env.mix, CorpusRows)
    env.listener()
    val buildSteps: Seq[(String, Double)] =
      Fixture.build(env, env.newStore(if (copy) "fixture" else "store"), rows)
    if (copy) Fixture.copy(env.dir("fixture"), env.dir("store"))
    val store = env.newStore("store")
    val server = new RestServer(store, port = 0).start()
    Log("server up")
    val port: Int = server.boundPort
  }

  // ---------------------------------------------------------------- read

  def read(env: Env): Unit = {
    val s = new Setup(env, copy = false)
    val http = new Http(s.port)
    warm(env, http, Mix.map(_._1))
    Log("warm-up done")
    val heap0 = Jvm.liveOldGenMb()
    val setupS = (System.nanoTime() - env.startNs) / 1e9
    val qs = Gen.queries(env.seed, 1, env.mix, 4000)
    val ops = mutable.ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    if (env.trace) env.tr.begin()
    var i = 0
    while (System.nanoTime() - t0 < env.seconds * 1000000000L) {
      // a traced run traces every second request: the tracing overhead is
      // then measured on interleaved, equally warm samples
      if (env.trace) env.tr.enabled = i % 2 == 1
      ops += search(http, Mix(i % Mix.size)._1, qs(i % qs.size)); i += 1
    }
    val t1 = System.nanoTime()
    if (env.trace) { env.tr.enabled = true; env.tr.finish() }
    val heap1 = Jvm.settledOldGenMb()
    s.server.stop()

    // output checks: every response 200 and uncached; exact kinds against
    // brute force; approximate kinds scored for recall
    val live = s.rows.map(r => r.id -> r).toMap
    val recall = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    ops.foreach { o =>
      env.res.check(o.status == 200, s"${o.kind} search returned ${o.status}")
      env.res.check(!o.cached, s"${o.kind} search answered from the cache on serve_read")
      if (o.kind.startsWith("exact"))
        Truth.checkExact(o.hits, o.q, 10, live, Map.empty, Set.empty, o.filter)
          .foreach(e => env.res.fail(s"${o.kind}: $e"))
      else {
        val truth = Truth.topK(s.rows, o.q, 10).map(_._2)
        recall.getOrElseUpdate(o.kind, mutable.ArrayBuffer()) +=
          Truth.recall(o.hits.map(_._1), truth)
      }
    }
    if (!env.trace) {
      val byKind = ops.groupBy(_.kind).map { case (k, v) => s"search_$k" -> v.map(_.ms).toSeq }
      env.endToEnd(setupS, (heap0, heap1), byKind, byKind, ops.map(_.ms).toSeq, ops.size,
        ops.size / ((t1 - t0) / 1e9), "searches per second")
    } else {
      val (traced, untraced) = ops.toSeq.zipWithIndex.partition(_._2 % 2 == 1)
      Layers.serve(env, traced.map(_._1), (t0, t1), Nil, path = true)
      Layers.overhead(env, untraced.map(_._1), traced.map(_._1))
      env.res.put("core.fs_read_kb_per_search", env.tr.fsWindow.bytesRead / 1024.0 / ops.size,
        "KB", ops.size, "Hadoop FS bytes read in the measured window per search")
      Layers.build(env, s.buildSteps ++ Fixture.scalarCodes(s.store))
      val ivf0 = System.nanoTime()
      graft.operators.Ivf.train(s.store.historical,
        graft.operators.Ivf.IvfConfig(nClusters = env.storeConfig.nClusters, initMode = "driver"))
        .collect()
      env.res.put("operators.ivf_train_s", (System.nanoTime() - ivf0) / 1e9, "s", 1,
        "Ivf.train over the historical tier, as the first migrate runs it")
      recall.foreach { case (k, v) =>
        env.res.put(s"operators.recall_at_10.$k", v.sum / v.size, "ratio", v.size)
      }
      Layers.storeFiles(env, "store", s.rows.size)
    }
  }

  // --------------------------------------------------------------- mixed

  val Readers = 3
  /** The search kinds of serve_mixed: one per read path (exact scan,
    * recent-tier graph, historical PQ codes). The filtered kinds run the
    * exact path and are served on serve_read; here they would split the
    * dozen or so uncached searches a run serves into five kinds of two or
    * three samples, too few for a median that repeats. */
  val MixedKinds = Seq("exact", "hnsw", "pq")
  /** GETs of writer ids draw from this range; ids not yet inserted must
    * answer 404. */
  val GetWriterIds = 1000
  /** Each reader's fixed request cycle (offset per reader): fresh search
    * `f`, repeated search `h`, GET `g` — a third of its searches repeat.
    * A repeat re-sends the reader's previous fresh search, as a user
    * re-running a query in an interactive session; it is answered from
    * the query cache unless a write cleared the cache in between. Fresh
    * searches take the next entry of one query sequence in round-then-
    * reader order, so the kinds (exact, hnsw, pq in turn) fall on the same
    * rounds and readers in every run. */
  val ReaderCycle = "fhfg"
  /** The readers go in rounds: each sends one request, the three queue on
    * the serial dispatcher, and the next round starts when all three have
    * their response. After every second round the writer writes, alone.
    * What a run serves — which kinds, which repeats find their result in
    * the cache (those of readers 0 and 2; reader 1's repeats always follow
    * a write), how many writes came before each search — then depends only
    * on how many rounds fit in the measured seconds, not on the order in
    * which racing clients happened to reach the dispatcher. */
  val RoundsPerWrite = 2
  /** More rounds than any run reaches. */
  val MaxRounds = 1000
  /** Writes the served store takes before the warm-up, each pair a delete
    * of an existing row and a single insert: the measured searches then
    * read through tombstones and delta files from their start, as on a
    * store that has been serving writes, and the window's own few writes
    * add to that state instead of making it. */
  val PreWrites = 2

  def mixed(env: Env): Unit = {
    val s = new Setup(env, copy = true)
    val deletable = {
      val r = Gen.rng(env.seed, 31)
      val ids = s.rows.map(_.id).toArray
      for (i <- ids.indices.reverse) {
        val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
      }
      ids
    }
    val writes = mutable.ArrayBuffer[Write]()
    val writeRng = Gen.rng(env.seed, 30)
    var nextW = 0
    var nextDelete = 0
    def newRow(): Gen.Row = {
      val r = Gen.row(f"w$nextW%06d", env.mix, writeRng, old = false); nextW += 1; r
    }
    // one checked write; a successful one joins the log the reads are
    // verified against
    def write(http: Http, kind: String): Op = {
      val t0 = System.nanoTime()
      val (st, ins, del) = kind match {
        case "insert" =>
          val r = newRow(); (http.call("POST", "/vectors", rowBody(r))._1, Seq(r), Nil)
        case "batch_insert" =>
          val rs = Seq.fill(100)(newRow())
          (http.call("POST", "/vectors/batch",
            rs.map(rowBody).mkString("{\"vectors\":[", ",", "]}"))._1, rs, Nil)
        case "delete" =>
          val id = deletable(nextDelete); nextDelete += 1
          (http.call("DELETE", s"/vectors/$id")._1, Nil, Seq(id))
      }
      val t1 = System.nanoTime()
      val ok = st == (if (kind == "insert") 201 else 200)
      env.res.check(ok, s"$kind returned $st")
      if (ok) writes += Write(t0, t1, ins, del)
      Op(kind, t0, t1, st)
    }
    val warmHttp = new Http(s.port)
    for (_ <- 0 until PreWrites) { write(warmHttp, "delete"); write(warmHttp, "insert") }
    warm(env, warmHttp, MixedKinds)
    warmHttp.call("GET", s"/vectors/${s.rows.head.id}")
    Log("warm-up done")
    s.store.searchEntries.clear()
    val heap0 = Jvm.liveOldGenMb()
    val setupS = (System.nanoTime() - env.startNs) / 1e9

    val readerOps = Array.fill(Readers)(mutable.ArrayBuffer[Op]())
    val writeOps = mutable.ArrayBuffer[Op]()
    val fresh = Gen.queries(env.seed, 20, env.mix, 3000)
    // the query index of every fresh search, by round and reader (-1: a GET
    // or a repeat); a reader's first `h` has nothing to repeat and is fresh
    val freshAt = Array.fill(MaxRounds, Readers)(-1)
    locally {
      var next = 0
      val sent = Array.fill(Readers)(false)
      for (r <- 0 until MaxRounds; t <- 0 until Readers) {
        val c = ReaderCycle((r + t) % ReaderCycle.size)
        if (c == 'f' || (c == 'h' && !sent(t))) { freshAt(r)(t) = next; next += 1; sent(t) = true }
      }
    }
    def freshSearch(http: Http, i: Int, repeat: Boolean): Op =
      search(http, MixedKinds(i % MixedKinds.size), fresh(i % fresh.size), repeat)
    val writerHttp = new Http(s.port)
    val more = new java.util.concurrent.atomic.AtomicBoolean(true)
    var rounds = 0
    var stopAt = 0L
    // runs once per round, in the reader that completes it
    val barrier = new java.util.concurrent.CyclicBarrier(Readers, () => {
      rounds += 1
      if (rounds % RoundsPerWrite == 0)
        writeOps += write(writerHttp, WriteKinds(writeOps.size % WriteKinds.size))
      more.set(rounds < MaxRounds && System.nanoTime() < stopAt)
    })
    // a reader whose request throws stops; the others then time out at the
    // barrier, which breaks it for every later arrival. Each throw counts as
    // a failed operation
    def reader(t: Int): Thread = new Thread(() =>
      try {
        val http = new Http(s.port)
        val r = Gen.rng(env.seed, 10 + t)
        var last = -1
        var round = 0
        while (more.get) {
          readerOps(t) += (ReaderCycle((round + t) % ReaderCycle.size) match {
            case 'g' =>
              val id = if (r.nextDouble() < 0.7) s.rows(r.nextInt(s.rows.size)).id
                else f"w${r.nextInt(GetWriterIds)}%06d"
              get(http, id)
            case _ if freshAt(round)(t) >= 0 =>
              last = freshAt(round)(t); freshSearch(http, last, repeat = false)
            case _ => freshSearch(http, last, repeat = true)
          })
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          round += 1
        }
      } catch {
        case e: Exception =>
          more.set(false)
          env.res.check(ok = false, s"reader-$t stopped: $e")
      }, s"reader-$t")
    val t0 = System.nanoTime()
    stopAt = t0 + env.seconds * 1000000000L
    if (env.trace) env.tr.begin()
    val threads = (0 until Readers).map(reader)
    threads.foreach(_.start())
    threads.foreach(_.join())
    val t1 = System.nanoTime()
    if (env.trace) env.tr.finish()
    // the heap the request path holds (caches, tombstones, deltas), before
    // maintenance compacts the store
    val heap1 = Jvm.settledOldGenMb()

    // maintenance through the admin routes
    val admin = new Http(s.port)
    val maint = Seq(
      "vacuum" -> ("/admin/vacuum", "{}"),
      "migrate" -> ("/admin/migrate", "{}"),
      "reindex" -> ("/admin/index/recent", """{"metric":"l2"}"""),
      "pq_rebuild" -> ("/admin/index/pq", """{"train_size":4000}""")
    ).map { case (name, (path, body)) =>
      val m0 = System.nanoTime()
      val (st, _) = admin.call("POST", path, body)
      env.res.check(st == 200, s"maintenance $name returned $st")
      name -> (System.nanoTime() - m0) / 1e6
    }
    s.server.stop()

    verifyMixed(env, s.rows, readerOps.flatten.toSeq, writes.toSeq)

    val reads = readerOps.flatten.toSeq
    val wops = writeOps.toSeq
    if (!env.trace) {
      // p50_ms gates the server-side search time of each kind (see
      // serverMs; uncached searches) and the maintenance time: with four
      // clients on one serial dispatcher a request's client latency is
      // mostly queueing behind the other three, which does not repeat from
      // run to run. Queueing shows in ops_per_s; the client latencies are
      // printed per kind.
      val reqs = reads ++ wops
      val byKind = reqs.groupBy(o => if (o.isSearch) s"search_${o.kind}" else o.kind)
        .map { case (k, v) => k -> v.map(_.ms) } + ("maintenance" -> Seq(maint.map(_._2).sum))
      val served = serverMs(reads, s.store.searchEntries.asScala.toSeq)
        .groupBy(m => s"server_${m._1.kind}").map { case (k, v) => k -> v.map(_._2) }
      val searches = reads.filter(_.isSearch)
      val repeats = searches.filter(_.repeat)
      env.res.put("cache_hit_ratio", searches.count(_.cached).toDouble / searches.size, "ratio",
        searches.size, s"searches answered from the cache, not gated; " +
          s"${repeats.count(_.cached)} of ${repeats.size} repeats")
      env.endToEnd(setupS, (heap0, heap1), served + ("maintenance" -> byKind("maintenance")),
        byKind ++ served, reqs.map(_.ms), reqs.size, reqs.size / ((t1 - t0) / 1e9),
        "requests per second")
    } else {
      Layers.serve(env, reads ++ wops, (t0, t1), maint, path = false)
      Layers.storeFiles(env, "store", s.rows.size + nextW)
      Layers.writeIo(env, wops.size, writes.filter(_.send >= t0).map(_.inserted.size).sum)
    }
  }

  /** Replay the writer's log against every read: state before the read
    * was sent is certain; writes overlapping the read may or may not be
    * visible to it. */
  def verifyMixed(env: Env, base: Seq[Gen.Row], reads: Seq[Op], writes: Seq[Write]): Unit = {
    val live = mutable.HashMap[String, Gen.Row]() ++= base.map(r => r.id -> r)
    val deleted = mutable.HashSet[String]()
    var applied = 0
    reads.sortBy(_.send).foreach { o =>
      while (applied < writes.size && writes(applied).recv < o.send) {
        val w = writes(applied)
        w.inserted.foreach(r => live(r.id) = r)
        w.deleted.foreach { id => live.remove(id); deleted += id }
        applied += 1
      }
      val overlap = writes.drop(applied).takeWhile(_.send < o.recv)
      val maybeIn = overlap.flatMap(_.inserted).map(r => r.id -> r).toMap
      val maybeOut = overlap.flatMap(_.deleted).toSet
      if (o.kind == "get") {
        val known = live.get(o.id).orElse(maybeIn.get(o.id))
        val certain = live.contains(o.id) && !maybeOut(o.id)
        val ok = o.status match {
          case 200 => known.exists(r => java.util.Arrays.equals(r.vec, o.vec))
          case 404 => !certain
          case _ => false
        }
        env.res.check(ok, s"GET ${o.id} returned ${o.status}" +
          (if (deleted(o.id)) " after its delete" else ""))
      } else {
        env.res.check(o.status == 200, s"${o.kind} search returned ${o.status}")
        val gone = o.hits.map(_._1).filter(id => !live.contains(id) && !maybeIn.contains(id))
        if (gone.nonEmpty) env.res.fail(s"${o.kind} returned ids not live: ${gone.take(3)}")
        else if (o.kind.startsWith("exact"))
          Truth.checkExact(o.hits, o.q, 10, live, maybeIn, maybeOut, o.filter)
            .foreach(e => env.res.fail(s"${o.kind}: $e"))
      }
    }
  }
}
