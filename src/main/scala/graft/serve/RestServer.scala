package graft.serve

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.operators.{HistogramSketch, Profile}
import graft.store.VectorStore
import graft.streaming._
import graft.streaming.StreamingComoments.{Comoments, ComomentsSnapshot}
import graft.streaming.StreamingDistinct.DistinctSnapshot
import graft.streaming.StreamingGroupedComoments.GroupedComomentsSnapshot
import graft.streaming.StreamingGroupedDistinct.{GroupDistinct, GroupedDistinctSnapshot}
import graft.streaming.StreamingGroupedHeavyHitters.{GroupState, GroupedMgSnapshot}
import graft.streaming.StreamingGroupedHistogram.{GroupHist, GroupedHistSnapshot}
import graft.streaming.StreamingGroupedMoments.GroupedMomentsSnapshot
import graft.streaming.StreamingGroupedSample.{GroupSample, GroupedSampleSnapshot}
import graft.streaming.StreamingHeavyHitters.MgSnapshot
import graft.streaming.StreamingHistogram.HistSnapshot
import graft.streaming.StreamingMoments.{Moments, MomentsSnapshot}
import graft.streaming.StreamingSample.{SampleEntry, SampleSnapshot}
import graft.streaming.StreamingWindowedDistinct.WindowedDistinctSnapshot
import graft.streaming.StreamingWindowedHeavyHitters.WindowedMgSnapshot
import graft.streaming.StreamingWindowedHistogram.WindowedHistSnapshot
import graft.streaming.StreamingWindowedMoments.WindowedMomentsSnapshot
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Thin REST serving surface over [[VectorStore]] — the reference's primary
  * user API re-served from the Spark driver
  * (`/root/reference/src/api/rest.rs:325-677`), completing capability
  * parity for a user who talks to the store over HTTP.
  *
  * Deliberately thin: one JDK HttpServer (no extra dependency), JSON via
  * the same Jackson the store already uses, and every operation delegates
  * to the one VectorStore instance — the Spark session is shared across
  * requests (no Spark-per-request), exactly the "driver app in front of
  * the engine" shape SURVEY.md assigns to S11.
  *
  * Routes (reference rest.rs:327-342 — including working SSE and WebSocket
  * forms of its declared-but-vestigial update stream):
  *
  *   GET    /api/v1/health
  *   POST   /api/v1/vectors            {id, vector, metadata?}
  *   POST   /api/v1/vectors/batch      {vectors: [{id, vector, metadata?}]}
  *   GET    /api/v1/vectors/{id}
  *   DELETE /api/v1/vectors/{id}
  *   POST   /api/v1/search             {vector, k?, filter?, options?:
  *                                      {include_metadata?, include_vectors?,
  *                                       score_threshold?, metric?, mode?,
  *                                       oversample?, selectivity?,
  *                                       probe_blobs?, search_recent?,
  *                                       search_historical?, ivf_n_probe?,
  *                                       hnsw_ef?, timeout_ms? (ignored)}}
  *                                      — mode:
  *                                      exact | recent_index | pq | sq | bq
  *                                      (serving path); probe_blobs routes a
  *                                      ROUTED saved recent index; the
  *                                      search_recent/search_historical/
  *                                      ivf_n_probe/hnsw_ef names are the
  *                                      reference's SearchOptions
  *                                      (rest.rs:104-113) and behave the
  *                                      same (tier selection, probe depth).
  *                                      Response: {results: [{id, distance,
  *                                      score, metadata?, vector?}],
  *                                      total_count, query_time_ms,
  *                                      search_time_ms, indices_searched,
  *                                      partial_results,
  *                                      cached?} — metadata present iff
  *                                      include_metadata, vector (the stored
  *                                      embedding payload, session.rs:
  *                                      266-281) iff include_vectors
  *   GET    /api/v1/admin/statistics
  *   GET    /api/v1/admin/integrity?confirm=true&confirm_wait_ms=N —
  *                                      confirm=true re-probes the transient
  *                                      defect classes after the writer
  *                                      lease quiesces and reports the
  *                                      persisting ones; the quiesce wait
  *                                      (default 2 s, clamped ≤ 10 s) runs
  *                                      on the serial dispatcher
  *   GET    /api/v1/admin/{frequent-items | histogram | sample |
  *          moments | distinct | comoments}?group=NAME&verify=true
  *                                      — a profiling face (below);
  *                                      histogram also takes
  *                                      ?probs=0.5,0.9&bins=true and warns
  *                                      (binning_warning) once the out-
  *                                      of-range mass passes
  *                                      histogramOutOfRangeAlert
  *   GET    /api/v1/admin/profile    — the ONE-POLL monitor face: every
  *                                      configured face's headline
  *                                      (liveness + the drift number);
  *                                      per-face locked reads, NOT atomic
  *                                      across faces (each carries its
  *                                      own last_batch_id); a failing
  *                                      face reports a named error, not a
  *                                      whole-poll 500; 404 when no face
  *                                      is configured
  *   POST   /api/v1/admin/frequent-items/recount {denominator} — the EXACT
  *                                      face of the folded MG state: a
  *                                      Spark recount of the candidates
  *                                      over frequentItemsSourceDir
  *   POST   /api/v1/admin/histogram/from-sample {n_bins?, coverage?,
  *                                      group?} — derive a [lo, hi)
  *                                      binning from the standing sample
  *                                      fold's carried values
  *                                      (HistogramSketch.fromValues): the
  *                                      spec a new histogram fold takes.
  *                                      Derives only — a fold's lifecycle
  *                                      stays with the operator's driver
  *                                      app
  *   POST   /api/v1/admin/migrate
  *   POST   /api/v1/admin/vacuum
  *   POST   /api/v1/admin/rebalance   {max_cluster_size?}
  *   POST   /api/v1/admin/index/recent {ef_construction?, m?, metric?}
  *   POST   /api/v1/admin/index/pq     {m?, k_codes?, train_size?, retrain?,
  *                                      residual?, refresh?} — refresh:
  *                                      delta-encode only; residual: FAISS
  *                                      formulation (serves l2 + cosine)
  *   POST   /api/v1/admin/index/opq   {m?, k_codes?, train_size?, retrain?,
  *                                      iters?, refresh?} — learned-rotation
  *                                      PQ (Ge et al. 2013); refresh:
  *                                      delta-encode only
  *   POST   /api/v1/admin/index/sq     {refresh?}
  *   POST   /api/v1/admin/index/bq     {refresh?}
  *   POST   /api/v1/admin/backup      {target}
  *   GET    /api/v1/updates?since=N
  *   GET    /api/v1/updates/stream?since=N   (SSE: backlog replay + live push)
  *   GET    /api/v1/updates/ws?since=N       (WebSocket, on the companion
  *                                      `wsPort` listener / `boundWsPort`:
  *                                      RFC 6455 handshake, backlog replay,
  *                                      live push as text frames, ping→pong,
  *                                      close echo — the working form of the
  *                                      reference's vestigial WS route,
  *                                      rest.rs:342,727-738)
  *
  * Profiling faces (graft extensions — the reference has no profiling
  * surface): six streaming folds served through ONE route template
  * (`Face`), so every face answers the same way:
  *  - `<face>StateDir` enables the face (404 until wired). The dir may
  *    hold the face's FLAT, GROUPED or — frequent-items, histogram,
  *    moments, distinct — WINDOWED fold's state; the selection ladder
  *    serves the first rung that folded anything (flat → grouped →
  *    windowed, earlier rungs win ties) through the fold's linearizable
  *    locked read, and nothing folded is a well-formed empty envelope.
  *  - `?group=NAME` (raw query, decoded per value, so `r%26d` names
  *    "r&d") narrows a grouped envelope's `groups` to one group; it is a
  *    404 when that group was never folded or the fold is flat, windowed
  *    or empty — never a silently served whole envelope.
  *  - `?verify=true` recounts the snapshot one-shot over the operator-
  *    configured `<face>SourceDir` corpus (admin-gated: no client paths)
  *    and reports parity against the SAME snapshot the envelope serves.
  *    Pre-checks in order: 409 on a windowed fold (the corpus does not
  *    record which rows arrived in the window), 403 with no source dir,
  *    409 with nothing folded; then 422 when the configured `<face>*Col`
  *    columns are missing from the source schema. A grouped recount is
  *    bounded: past (state groups + 16) × its rows per group it reports a
  *    refusal instead of collecting the drifted relation. Frequent-items
  *    has no verify twin (its exact face is the POST recount).
  *
  * Serving-loop extras from the reference:
  *  - repeated-query memo (`hybrid/search_integration.rs:554-623`): LRU on
  *    the canonical search request, invalidated by any mutation — the
  *    reference's query-result cache, which belongs at this layer (the
  *    engine's own results must always reflect the live store)
  *  - update feed (`client/rust.rs:71-98`): every mutation appends a
  *    sequenced change event; clients poll `/updates?since=<seq>` or hold
  *    `/updates/stream` (SSE) for backlog replay + live push — the working
  *    form of the reference's declared-but-vestigial stream surface
  *    (`src/api/rest.rs:727-738`)
  *
  * Security note: like the reference's default server config, routes carry
  * NO authentication — the server is meant to sit behind a trusted proxy
  * or on a private interface. Because of that, `admin/backup` (which
  * writes store contents to a filesystem path) only accepts targets under
  * the operator-configured `backupBase`; with no base configured the route
  * is disabled rather than letting any client write anywhere the driver
  * process can.
  */
class RestServer(store: VectorStore, port: Int = 0, cacheSize: Int = 128,
    maxEvents: Int = 10000, backupBase: Option[String] = None,
    sseWriteDeadlineMs: Long = 5000L, wsPort: Int = 0,
    // the profiling faces (see the class doc): `<face>StateDir` enables
    // GET /admin/<face>, `<face>SourceDir` its verify recount (and the
    // frequent-items POST recount); the column names must name what the
    // ingest folded — the state file records none — and default to the
    // ingest defaults. The comoments x/y columns are an ORDERED pair.
    frequentItemsStateDir: Option[String] = None,
    frequentItemsSourceDir: Option[String] = None,
    histogramStateDir: Option[String] = None,
    histogramSourceDir: Option[String] = None,
    histogramOutOfRangeAlert: Double = 0.05,
    histogramGroupCol: String = "event_type",
    histogramValueCol: String = "value",
    sampleStateDir: Option[String] = None,
    sampleSourceDir: Option[String] = None,
    sampleGroupCol: String = "source",
    sampleIdCol: String = "doc_id",
    sampleValueCol: Option[String] = None,
    momentsStateDir: Option[String] = None,
    momentsSourceDir: Option[String] = None,
    momentsGroupCol: String = "source",
    momentsValueCol: String = "value",
    distinctStateDir: Option[String] = None,
    distinctSourceDir: Option[String] = None,
    distinctGroupCol: String = "source",
    distinctValueCol: String = "value",
    comomentsStateDir: Option[String] = None,
    comomentsSourceDir: Option[String] = None,
    comomentsGroupCol: String = "source",
    comomentsXCol: String = "x",
    comomentsYCol: String = "y") {

  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  private val queryCache =
    new java.util.LinkedHashMap[String, ObjectNode](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ObjectNode]): Boolean = size() > cacheSize
    }
  private var cacheHits = 0L
  private var cacheMisses = 0L

  // bounded ring: seq numbers keep advancing, but only the newest maxEvents
  // are retained (a lagging consumer sees first_seq > since and re-syncs)
  private val events = new java.util.ArrayDeque[ObjectNode]()
  private var nextSeq = 1L

  // SSE (`/updates/stream`): exchanges held open past handler return — the
  // JDK server keeps an exchange alive until close(). All socket writes
  // happen on ONE dedicated pusher thread fed by a command queue, never on
  // the dispatcher: a stalled client with a full TCP buffer would
  // otherwise block the serial server (and every API request) inside
  // mutated(). Subscriptions flow through the SAME queue as events, and
  // the backlog snapshot is taken on the dispatcher (where the ring
  // mutates), so delivery is exactly-once and ordered: an event enqueued
  // before a subscribe is in its snapshot, one enqueued after follows it.
  // The queue is bounded — when a stalled client backs it up, events are
  // dropped from the STREAM only (the ring keeps them; a consumer that
  // sees a seq gap re-syncs via `since=`, same contract as ring eviction).
  // A stall can't persist: every write runs under the sseWatchdog deadline
  // below, so a stalled-but-alive client is evicted within
  // sseWriteDeadlineMs rather than head-of-line-blocking the stream.
  private sealed trait SseCmd
  private case class SseEvent(e: ObjectNode) extends SseCmd
  private case class SseSubscribe(ex: HttpExchange, backlog: Seq[ObjectNode]) extends SseCmd
  private case class WsSubscribe(c: WsClient, backlog: Seq[ObjectNode]) extends SseCmd
  private val sseQueue = new java.util.concurrent.LinkedBlockingQueue[SseCmd](10000)
  // pusher-thread-only once started; the cap is read from the dispatcher
  private val sseSubs = new java.util.concurrent.CopyOnWriteArrayList[HttpExchange]()
  private val wsSubs = new java.util.concurrent.CopyOnWriteArrayList[WsClient]()
  private val maxSseClients = 64
  // admission counters: subscriptions are queued and only land in
  // sseSubs/wsSubs when the pusher drains them, so a cap checked against
  // the subscriber lists alone is porous exactly under load (a busy pusher
  // + a connect burst admits unboundedly many). pending + subscribed is
  // the number the cap actually bounds; the pusher decrements pending as
  // it processes each subscribe.
  private val ssePending = new java.util.concurrent.atomic.AtomicInteger(0)
  private val wsPending = new java.util.concurrent.atomic.AtomicInteger(0)
  // live handshake THREADS (pre-parse), bounding the per-connection thread
  // spawn at accept time — distinct from wsPending, which counts parsed
  // subscriptions awaiting the pusher's WsSubscribe drain
  private val wsHandshakes = new java.util.concurrent.atomic.AtomicInteger(0)
  // guards the event ring + the append→enqueue window: the HTTP routes all
  // run on the one serial dispatcher, but the WS accept thread must
  // snapshot the ring too, and its snapshot+subscribe must not interleave
  // with an append+enqueue (that's what makes backlog-vs-live exactly-once)
  private val ringLock = new Object
  private val ssePusher = new Thread(() => {
    try while (true) sseQueue.take() match {
      case SseEvent(e) =>
        sseSubs.removeIf(sub => !sseWrite(sub, e))
        wsSubs.removeIf(c => !c.send(e))
      case SseSubscribe(ex, backlog) =>
        if (backlog.forall(e => sseWrite(ex, e))) sseSubs.add(ex)
        ssePending.decrementAndGet()
      case WsSubscribe(c, backlog) =>
        if (backlog.forall(e => c.send(e))) wsSubs.add(c)
        wsPending.decrementAndGet()
    } catch { case _: InterruptedException => }
  }, "graft-sse-push")
  ssePusher.setDaemon(true)

  // Watchdog bounding per-client write latency: a stalled-but-ALIVE client
  // (full TCP send buffer, never reading, never closing) would block the
  // single pusher thread's socket write indefinitely — head-of-line-
  // blocking every other SSE client and backing up the command queue. The
  // JDK exchange exposes no write timeout, so the watchdog closes the
  // exchange from outside after `sseWriteDeadlineMs`; the blocked write
  // then fails and the client is evicted exactly like a dead one.
  private val sseWatchdog =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-sse-watchdog"); t.setDaemon(true); t
    })

  /** One SSE frame to one held connection, under the write deadline; a dead
    * or stalled-past-deadline client is closed and reported so the caller
    * drops it. (private[serve] so the spec can drive the stall path with a
    * stub exchange — a real full-TCP-buffer stall is not reproducible
    * deterministically in a test.) */
  private[serve] def sseWrite(ex: HttpExchange, e: ObjectNode): Boolean = {
    val kill = sseWatchdog.schedule(new Runnable {
      def run(): Unit = try ex.close() catch { case NonFatal(_) => }
    }, sseWriteDeadlineMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    val wrote =
      try {
        ex.getResponseBody.write(
          s"id: ${e.get("seq").asLong()}\ndata: ${mapper.writeValueAsString(e)}\n\n"
            .getBytes(UTF_8))
        ex.getResponseBody.flush()
        true
      } catch { case NonFatal(_) => false }
    // cancel() == false means the deadline already fired (the exchange is
    // closed or closing): treat the write as failed even if it returned —
    // the connection is no longer safe to retain
    val inTime = kill.cancel(false)
    if (wrote && inTime) true
    else {
      try ex.close() catch { case NonFatal(_) => }
      false
    }
  }

  // ---- WebSocket update stream (`GET /updates/ws` on the companion
  // listener): the reference declares a WS route whose handler never sends
  // an update (`/root/reference/src/api/rest.rs:342,727-738`); this is the
  // working form — RFC 6455 server handshake, backlog replay from
  // `since=`, then live push of every mutation event as a text frame,
  // with ping→pong and close-echo. The JDK HttpServer cannot release a
  // connection for protocol upgrade, so the WS endpoint listens on its own
  // ServerSocket (`wsPort`, ephemeral by default, `boundWsPort` to read) —
  // same process, same event ring, same single-pusher delivery contract
  // and write deadline as SSE.

  /** One held WebSocket connection. All frame writes (pusher events, the
    * reader's pongs/close-echo) serialize on the client's own lock, and
    * every write runs under the shared watchdog deadline — a
    * stalled-but-alive client is closed and evicted, never head-of-line
    * blocking the pusher. */
  private final class WsClient(sock: java.net.Socket) {
    private val out = sock.getOutputStream
    private val lock = new Object

    def sendFrame(opcode: Int, payload: Array[Byte]): Boolean = lock.synchronized {
      val kill = sseWatchdog.schedule(new Runnable {
        def run(): Unit = close()
      }, sseWriteDeadlineMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      val wrote =
        try {
          val n = payload.length
          val head =
            if (n <= 125) Array((0x80 | opcode).toByte, n.toByte)
            else if (n <= 0xffff)
              Array((0x80 | opcode).toByte, 126.toByte, (n >> 8).toByte, n.toByte)
            else Array((0x80 | opcode).toByte, 127.toByte,
              0.toByte, 0.toByte, 0.toByte, 0.toByte,
              (n >> 24).toByte, (n >> 16).toByte, (n >> 8).toByte, n.toByte)
          out.write(head); out.write(payload); out.flush()
          true
        } catch { case NonFatal(_) => false }
      val inTime = kill.cancel(false)
      if (wrote && inTime) true else { close(); false }
    }

    def send(e: ObjectNode): Boolean =
      sendFrame(0x1, mapper.writeValueAsBytes(e))

    def close(): Unit = try sock.close() catch { case NonFatal(_) => }
  }

  /** Per-client reader: unmasks client frames, answers ping with pong and
    * close with a close echo, ignores data frames (the feed is one-way).
    * Any protocol violation or oversized frame drops the client. */
  private def wsReadLoop(c: WsClient, in: java.io.InputStream): Unit = {
    def readFully(buf: Array[Byte]): Boolean = {
      var off = 0
      while (off < buf.length) {
        val n = in.read(buf, off, buf.length - off)
        if (n < 0) return false
        off += n
      }
      true
    }
    try {
      var open = true
      while (open) {
        val b0 = in.read(); val b1 = if (b0 < 0) -1 else in.read()
        if (b1 < 0) open = false
        else {
          val op = b0 & 0x0f
          var len: Long = b1 & 0x7f
          if (len == 126) {
            val ext = new Array[Byte](2)
            if (!readFully(ext)) return
            len = ((ext(0) & 0xffL) << 8) | (ext(1) & 0xffL)
          } else if (len == 127) {
            val ext = new Array[Byte](8)
            if (!readFully(ext)) return
            len = ext.foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
          }
          // a client of a one-way feed has no business sending big frames
          if (len > (1 << 16)) open = false
          else {
            val mask = if ((b1 & 0x80) != 0) new Array[Byte](4) else null
            if (mask != null && !readFully(mask)) return
            val payload = new Array[Byte](len.toInt)
            if (!readFully(payload)) return
            if (mask != null) {
              var i = 0
              while (i < payload.length) {
                payload(i) = (payload(i) ^ mask(i & 3)).toByte; i += 1
              }
            }
            op match {
              case 0x8 => c.sendFrame(0x8, payload.take(2)); open = false
              case 0x9 => c.sendFrame(0xA, payload)
              case _ => // text/binary/pong/continuation: ignored
            }
          }
        }
      }
    } catch { case NonFatal(_) => }
    finally { c.close(); wsSubs.remove(c) }
  }

  /** Blocking HTTP-upgrade handshake on a freshly accepted socket; on
    * success the client enters the pusher's subscription queue with its
    * ring backlog (snapshot + enqueue under ringLock — the same atomicity
    * the SSE path gets for free from the serial dispatcher). */
  private def wsHandshake(sock: java.net.Socket): Unit = {
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(10000) // a half-open handshake can't pin the acceptor
    val in = new java.io.BufferedInputStream(sock.getInputStream)
    val head = new java.io.ByteArrayOutputStream()
    var prev4 = 0
    var b = in.read()
    while (b >= 0 && prev4 != 0x0d0a0d0a && head.size < 8192) {
      head.write(b)
      prev4 = (prev4 << 8) | b
      b = if (prev4 == 0x0d0a0d0a) -1 else in.read()
    }
    val lines = head.toString(UTF_8).split("\r\n")
    val req = lines.headOption.getOrElse("").split(" ")
    val headers = lines.tail.flatMap(_.split(":", 2) match {
      case Array(k, v) => Some(k.trim.toLowerCase -> v.trim)
      case _ => None
    }).toMap
    def reject(code: Int, msg: String): Unit = {
      try {
        sock.getOutputStream.write(
          (s"HTTP/1.1 $code $msg\r\nConnection: close\r\n\r\n").getBytes(UTF_8))
        sock.getOutputStream.flush()
      } catch { case NonFatal(_) => }
      try sock.close() catch { case NonFatal(_) => }
    }
    val pathOk = req.length >= 2 && req(0) == "GET" &&
      (req(1) == "/api/v1/updates/ws" || req(1).startsWith("/api/v1/updates/ws?"))
    val key = headers.get("sec-websocket-key")
    if (!pathOk) reject(404, "Not Found")
    else if (!headers.get("upgrade").exists(_.equalsIgnoreCase("websocket")) ||
      key.isEmpty) reject(400, "Bad Request")
    else if (wsSubs.size() + wsPending.get() >= maxSseClients)
      reject(503, "Service Unavailable")
    else {
      val accept = java.util.Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("SHA-1").digest(
          (key.get + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(UTF_8)))
      sock.getOutputStream.write(
        ("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
          s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
      sock.getOutputStream.flush()
      sock.setSoTimeout(0) // held connection: reads block until the client talks
      val since = req(1).split("\\?", 2).lift(1)
        .flatMap(_.split("&").collectFirst {
          case s if s.startsWith("since=") => s.drop(6) })
        .flatMap(_.toLongOption).getOrElse(0L)
      val client = new WsClient(sock)
      wsPending.incrementAndGet()
      val subscribed = ringLock.synchronized {
        val backlog = events.iterator().asScala
          .filter(_.get("seq").asLong() > since).toSeq
        sseQueue.offer(WsSubscribe(client, backlog))
      }
      if (!subscribed) { wsPending.decrementAndGet(); client.close() }
      else {
        val t = new Thread(() => wsReadLoop(client, in), "graft-ws-read")
        t.setDaemon(true)
        t.start()
      }
    }
  }

  private val wsServer = new java.net.ServerSocket(wsPort)
  private val wsAcceptor = new Thread(() => {
    // per-iteration catch: a transient accept() failure (EMFILE under FD
    // pressure, a reset mid-accept) must not kill the WS endpoint for the
    // server's lifetime — only a closed listener (stop()) ends the loop
    while (!wsServer.isClosed) {
      try {
        val sock = wsServer.accept()
        // handshake OFF the acceptor thread: a client that connects and
        // then dribbles (or sends nothing) would otherwise pin the single
        // accept loop for its whole 10 s read timeout, serializing every
        // other subscription behind it (slow-loris). Each handshake thread
        // lives <= the SoTimeout and then either becomes the client's read
        // loop or dies with the socket. The thread count is BOUNDED before
        // spawning: a connect flood of silent clients would otherwise hold
        // one unbounded thread each for the full SoTimeout — pending
        // handshakes count against the same client cap, and a saturated
        // server sheds the connection at accept instead of queueing it.
        if (wsHandshakes.incrementAndGet() > maxSseClients) {
          wsHandshakes.decrementAndGet()
          try sock.close() catch { case NonFatal(_) => }
        } else {
          val t = new Thread(() => {
            try wsHandshake(sock)
            catch { case NonFatal(_) => try sock.close() catch { case NonFatal(_) => } }
            finally wsHandshakes.decrementAndGet()
          }, "graft-ws-handshake")
          t.setDaemon(true)
          t.start()
        }
      } catch {
        case NonFatal(_) =>
          // transient accept error (or close racing the isClosed check):
          // back off briefly so a persistent EMFILE can't spin the loop hot
          try Thread.sleep(100)
          catch { case _: InterruptedException =>
            Thread.currentThread().interrupt() // loop exits once closed
          }
      }
    }
  }, "graft-ws-accept")
  wsAcceptor.setDaemon(true)

  def boundWsPort: Int = wsServer.getLocalPort

  /** Mutations invalidate the memo, append a change event, and hand it to
    * the pusher for every held `/updates/stream` + WebSocket connection. */
  private def mutated(tpe: String, ids: Seq[String]): Unit = {
    queryCache.clear()
    ids.foreach { id =>
      val e = obj()
      e.put("seq", nextSeq)
      e.put("type", tpe)
      e.put("id", id)
      e.put("timestamp", java.time.Instant.now().toString)
      ringLock.synchronized {
        events.addLast(e)
        nextSeq += 1
        if (events.size() > maxEvents) events.removeFirst()
        // offer, not put: a backed-up stream queue must never block the API
        sseQueue.offer(SseEvent(e))
      }
    }
  }

  /** `since=<seq>` query param; non-numeric/absent -> 0 (full feed). */
  private def sinceParam(ex: HttpExchange): Long =
    Option(ex.getRequestURI.getQuery)
      .flatMap(_.split("&").collectFirst {
        case s if s.startsWith("since=") => s.drop(6) })
      .flatMap(_.toLongOption)
      .getOrElse(0L)

  def boundPort: Int = server.getAddress.getPort

  def start(): RestServer = {
    server.createContext("/api/v1/health", ex => handle(ex) {
      case ("GET", _) =>
        // real probes, not constants: connected/healthy derive from
        // VectorStore.health()'s FS-metadata checks (store root reachable,
        // manifest readable, no stranded swap markers), so a monitoring
        // client CAN observe a degraded store. stats() is guarded — an
        // unreadable tier must degrade the report, not 500 it.
        val h = store.health()
        val stOpt =
          try Some(store.stats())
          catch { case scala.util.control.NonFatal(_) => None }
        val n = obj()
        n.put("status",
          if (h.connected && h.manifestReadable && stOpt.isDefined) "healthy"
          else "degraded")
        n.put("recent_count", stOpt.map(_.recentCount).getOrElse(0L))
        n.put("historical_count", stOpt.map(_.historicalCount).getOrElse(0L))
        // reference HealthResponse envelope (rest.rs:132-161): a client
        // deserializing {status, version, storage, indices} must not break
        n.put("version", "1.0")
        val stor = n.putObject("storage")
        stor.put("mode", "filesystem")
        stor.put("connected", h.connected && stOpt.isDefined)
        val idx = n.putObject("indices")
        // tier flags come from the store's ONE degradation rule
        // (VectorStore.tierHealthy — shared with checkHealth), plus the
        // envelope-level readability of stats
        val hn = idx.putObject("hnsw")
        hn.put("healthy", stOpt.isDefined && store.tierHealthy(h, "recent"))
        hn.put("vector_count", stOpt.map(_.recentCount).getOrElse(0L))
        val iv = idx.putObject("ivf")
        iv.put("healthy", stOpt.isDefined && store.tierHealthy(h, "historical"))
        iv.put("vector_count", stOpt.map(_.historicalCount).getOrElse(0L))
        // graft extension: swap/lease observability (VectorStore.health) —
        // stranded markers, writer-lease holder, swap-lock ages, so a
        // fleet operator can see a wedged recovery without reading code
        val g = n.putObject("graft")
        g.put("manifest_readable", h.manifestReadable)
        val ms = g.putArray("stranded_swap_markers")
        h.strandedSwapMarkers.foreach(ms.add)
        h.leaseOwner.foreach(g.put("writer_lease_owner", _))
        h.leaseAgeMs.foreach(g.put("writer_lease_age_ms", _))
        val locks = g.putObject("swap_lock_ages_ms")
        h.swapLockAgesMs.foreach { case (k, v) => locks.put(k, v) }
        (200, n)
    })
    server.createContext("/api/v1/vectors", ex => handle(ex) {
      case ("POST", "/api/v1/vectors") =>
        val req = body(ex)
        val rec = record(req)
        val res = store.insert(Seq(rec))
        if (res.inserted == 0) (409, err(s"duplicate id: ${rec.id}"))
        else {
          mutated("insert", Seq(rec.id))
          val n = obj()
          n.put("id", rec.id)
          n.put("index", "recent") // inserts land in the recent tier (X11)
          n.put("timestamp", java.time.Instant.now().toString)
          (201, n)
        }
      case ("POST", "/api/v1/vectors/batch") =>
        val arr = body(ex).get("vectors")
        if (arr == null || !arr.isArray) (400, err("'vectors' array required"))
        else {
          val recs = arr.elements().asScala.map(record).toSeq
          val res = store.insert(recs)
          // only rows that actually landed produce change events —
          // duplicate-rejected ids never entered the store
          mutated("insert", res.insertedIds)
          val n = obj()
          n.put("inserted", res.inserted)
          n.put("duplicates", res.duplicates)
          // reference BatchInsertResponse field names (rest.rs:82-93):
          // successful/failed counts plus a per-id error list
          n.put("successful", res.inserted)
          n.put("failed", res.duplicates)
          val errsArr = n.putArray("errors")
          val landed = res.insertedIds.toSet
          recs.filterNot(r => landed.contains(r.id)).foreach { r =>
            val e0 = errsArr.addObject()
            e0.put("id", r.id); e0.put("error", "duplicate id")
          }
          (200, n)
        }
      case ("GET", IdPath(id)) =>
        store.vectors.filter(col("id") === id)
          .select("id", "embedding", "metadata").collect().headOption match {
          case None => (404, err(s"vector not found: $id"))
          case Some(r) =>
            val n = obj()
            n.put("id", r.getString(0))
            val v = n.putArray("vector")
            r.getSeq[Float](1).foreach(v.add)
            n.set[JsonNode]("metadata",
              if (r.isNullAt(2)) mapper.createObjectNode()
              else mapper.readTree(r.getString(2)))
            (200, n)
        }
      case ("DELETE", IdPath(id)) =>
        val res = store.delete(Seq(id))
        if (res.deletedCount == 0) (404, err(s"vector not found: $id"))
        else {
          mutated("delete", Seq(id))
          val n = obj(); n.put("id", id); n.put("deleted", true); (200, n)
        }
      case _ => (405, err("method not allowed"))
    })
    server.createContext("/api/v1/search", ex => handle(ex) {
      case ("POST", _) =>
        val req = body(ex)
        val qv = floats(req.get("vector"))
        val cacheKey = mapper.writeValueAsString(req)
        val memo = queryCache.get(cacheKey)
        if (qv.isEmpty) (400, err("Vector cannot be empty")) // rest.rs:741-746
        else if (memo != null) {
          cacheHits += 1
          val n = memo.deepCopy()
          n.put("cached", true)
          (200, n)
        } else {
          cacheMisses += 1
          val t0 = System.nanoTime()
          val k = if (req.hasNonNull("k")) req.get("k").asInt() else 10
          val opts = Option(req.get("options"))
          def opt(name: String) = opts.flatMap(o => Option(o.get(name)))
          // filtered code-tier searches post-filter a k*oversample pool:
          // callers either pin `oversample` directly or send the filter's
          // estimated `selectivity` (kept-row fraction) and get the
          // principled 1.5/selectivity sizing. Validated like metric/mode:
          // a zero/negative/non-integer oversample would silently empty
          // the quantized tier, so it's a 400, not a quiet no-result
          val osNode = opt("oversample")
          val selNode = opt("selectivity")
          if (osNode.exists(n => !n.isIntegralNumber || n.asInt() < 1))
            (400, err("oversample must be a positive integer"))
          // a kept-row FRACTION: zero/negative (a plausible client bug —
          // e.g. sending a row count of 0) would silently map to the
          // oversample cap, a 33x more expensive search; reject like the
          // oversample check above instead
          else if (selNode.exists(n => !n.isNumber || n.asDouble() <= 0.0 ||
              n.asDouble() > 1.0))
            (400, err("selectivity must be a number in (0, 1]"))
          // probe_blobs: blob routing on the saved recent index (>= 1
          // nearest blobs per query; ignored unless the index was built
          // routed). Same validation convention as oversample.
          else if (opt("probe_blobs").exists(n => !n.isIntegralNumber || n.asInt() < 1))
            (400, err("probe_blobs must be a positive integer"))
          else {
          val oversample = osNode.map(_.asInt())
            .orElse(selNode.map(s =>
              graft.operators.Tuning.suggestOversample(s.asDouble())))
            .getOrElse(3)
          val includeMeta = opt("include_metadata").exists(_.asBoolean())
          val includeVecs = opt("include_vectors").exists(_.asBoolean())
          // the reference SearchOptions names (rest.rs:104-113) map 1:1:
          // search_recent/search_historical select tiers, ivf_n_probe and
          // hnsw_ef set probe depth; timeout_ms is accepted and ignored
          // (a Spark batch query has no per-request deadline — documented
          // in MIGRATION.md)
          val srchRecent = opt("search_recent").forall(_.asBoolean())
          val srchHist = opt("search_historical").forall(_.asBoolean())
          val hits = store.searchMode(
            qv, k,
            mode = opt("mode").map(_.asText()).getOrElse("exact"),
            metric = opt("metric").map(_.asText()).getOrElse("cosine"),
            filterJson = Option(req.get("filter")).map(mapper.writeValueAsString),
            scoreThreshold = opt("score_threshold").map(_.asDouble()),
            oversample = oversample,
            probeBlobs = opt("probe_blobs").map(_.asInt()).getOrElse(0),
            includeVectors = includeVecs,
            searchRecent = srchRecent,
            searchHistorical = srchHist,
            nProbe = opt("ivf_n_probe").map(_.asInt())
              .getOrElse(store.config.nProbe),
            efSearch = opt("hnsw_ef").map(_.asInt()).getOrElse(100)
          ).collect()
          val n = obj()
          val results = n.putArray("results")
          hits.foreach { r =>
            val h = results.addObject()
            h.put("id", r.getString(0))
            h.put("distance", r.getDouble(1))
            h.put("score", r.getDouble(2))
            if (includeMeta)
              h.set[JsonNode]("metadata",
                if (r.isNullAt(3)) mapper.createObjectNode()
                else mapper.readTree(r.getString(3)))
            if (includeVecs) {
              val v = h.putArray("vector")
              if (!r.isNullAt(4)) r.getSeq[Float](4).foreach(v.add)
            }
          }
          n.put("total_count", hits.length)
          n.put("query_time_ms", (System.nanoTime() - t0) / 1e6)
          // reference SearchResponse envelope names (rest.rs:116-121)
          n.put("search_time_ms", (System.nanoTime() - t0) / 1e6)
          // tiers actually searched, not requested (rest.rs:638-669): a
          // requested historical tier with no rows is absent from the plan
          n.put("indices_searched", store.tiersSearched(srchRecent, srchHist))
          n.put("partial_results", false)
          queryCache.put(cacheKey, n.deepCopy())
          (200, n)
          }
        }
      case _ => (405, err("method not allowed"))
    })
    // SSE variant of the update feed (the reference's declared-but-vestigial
    // stream surface, `src/api/rest.rs:727-738` / `client/rust.rs:71-98`):
    // replay the ring from `since`, then hold the connection and push each
    // subsequent mutation as an `id:`/`data:` frame. Registered as its own
    // context (longest-prefix routing beats /updates) because it must NOT
    // go through handle(): the exchange stays open after this returns.
    server.createContext("/api/v1/updates/stream", ex => {
      if (ex.getRequestMethod != "GET") {
        val bytes = mapper.writeValueAsBytes(err("method not allowed"))
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(405, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      } else if (sseSubs.size() + ssePending.get() >= maxSseClients) {
        val bytes = mapper.writeValueAsBytes(err("too many stream clients"))
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(503, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      } else {
        val since = sinceParam(ex)
        ex.getResponseHeaders.set("Content-Type", "text/event-stream")
        ex.getResponseHeaders.set("Cache-Control", "no-cache")
        ex.sendResponseHeaders(200, 0) // chunked: the stream has no length
        // leading comment frame: confirms the subscription to clients that
        // wait for first bytes, and probes the socket before we retain it
        val hello =
          try {
            ex.getResponseBody.write(s": stream since=$since\n\n".getBytes(UTF_8))
            ex.getResponseBody.flush()
            true
          } catch { case NonFatal(_) =>
            try ex.close() catch { case NonFatal(_) => }
            false
          }
        // backlog snapshot HERE (dispatcher thread — where the ring
        // mutates), enqueued behind any already-pending events: the pusher
        // replays it and only then holds the connection for live pushes
        if (hello) {
          ssePending.incrementAndGet()
          val backlog = events.iterator().asScala
            .filter(_.get("seq").asLong() > since).toSeq
          if (!sseQueue.offer(SseSubscribe(ex, backlog))) {
            ssePending.decrementAndGet()
            try ex.close() catch { case NonFatal(_) => }
          }
        }
      }
    })
    server.createContext("/api/v1/updates", ex => handle(ex) {
      case ("GET", _) =>
        val since = sinceParam(ex)
        val n = obj()
        val out = n.putArray("events")
        events.iterator().asScala
          .filter(_.get("seq").asLong() > since)
          .foreach(out.add(_: JsonNode))
        n.put("latest_seq", nextSeq - 1)
        n.put("first_seq",
          if (events.isEmpty) nextSeq else events.peekFirst().get("seq").asLong())
        (200, n)
    })
    server.createContext("/api/v1/admin", ex => handle(ex) {
      case ("GET", "/api/v1/admin/statistics") =>
        val st = store.stats()
        val n = obj()
        n.put("recent_count", st.recentCount)
        n.put("historical_count", st.historicalCount)
        n.put("tombstone_count", st.tombstoneCount)
        n.put("dimension", store.dimension.getOrElse(0))
        n.put("cache_hits", cacheHits)
        n.put("cache_misses", cacheMisses)
        // reference StatisticsResponse field names (rest.rs:162-176) —
        // and unlike the reference's in-memory estimates, the byte sizes
        // here are the REAL on-disk footprint per tier family
        n.put("total_vectors", st.recentCount + st.historicalCount)
        n.put("recent_vectors", st.recentCount)
        n.put("historical_vectors", st.historicalCount)
        val mu = n.putObject("memory_usage")
        def dirBytes(names: String*): Long = names.map { nm =>
          val p0 = new org.apache.hadoop.fs.Path(store.path, nm)
          val fsS = p0.getFileSystem(
            store.spark.sparkContext.hadoopConfiguration)
          if (fsS.exists(p0)) fsS.getContentSummary(p0).getLength else 0L
        }.sum
        val hnswB = dirBytes("recent", "recent_index")
        val ivfB = dirBytes("historical", "centroids", "pq_codes",
          "sq_codes", "bq_codes")
        mu.put("hnsw_bytes", hnswB)
        mu.put("ivf_bytes", ivfB)
        mu.put("total_bytes", hnswB + ivfB)
        // maintenance counters (RebalanceStatistics analog): persisted
        // with the store, so they cover scheduler + route + direct calls
        val ms = store.maintenanceStats
        n.put("total_rebalances", ms.totalRebalances)
        n.put("total_vectors_moved", ms.totalVectorsMoved)
        (200, n)
      // deep integrity scan (graft extension; the reference's persisters
      // expose check_integrity only as a library API): structural
      // invariants + per-tier expected-vs-found drift. Runs Spark jobs —
      // an admin action, not a liveness probe ( /health stays FS-only).
      case ("GET", "/api/v1/admin/integrity") =>
        // ?confirm=true runs the r14 confirm pass: wait for the writer
        // lease to quiesce, re-probe ONLY the transient classes, report
        // the defects present in both observations (the mechanism behind
        // "alert only if it persists"). The quiesce wait happens INSIDE
        // this serial dispatcher (setExecutor(null)) — every other route
        // incl. /health stalls behind it — so the route's wait is SHORT
        // by default (2 s, not the Scala API's 10 s) and tunable via
        // ?confirm_wait_ms=N clamped to [0, 10000]; a monitor that finds
        // a writer live gets the not-confirmed sentinel fast and retries
        // later rather than parking the whole server on the lease.
        val qp = Option(ex.getRequestURI.getQuery)
          .map(_.split("&").toSeq).getOrElse(Seq.empty)
        val confirm = qp.contains("confirm=true")
        val waitMs = qp.collectFirst {
            case s if s.startsWith("confirm_wait_ms=") =>
              s.drop("confirm_wait_ms=".length) }
          .map(v => scala.util.Try(v.toLong).toOption
            // LOUD on a malformed value ("5s", "5000ms"): silently
            // substituting the default would park the serial dispatcher
            // for a wait the operator did not choose — same posture as
            // the recount route's denominator validation
            .getOrElse(throw new IllegalArgumentException(
              s"confirm_wait_ms must be an integer (milliseconds), got '$v'")))
          .map(v => math.max(0L, math.min(10000L, v)))
          .getOrElse(2000L)
        val r = store.checkIntegrity(confirmTransients = confirm,
          confirmWaitMs = waitMs)
        val n = obj()
        n.put("is_complete", r.isComplete)
        n.put("has_manifest", r.hasManifest)
        n.put("has_centroids", r.hasCentroids)
        n.put("live_recent", r.liveRecent)
        n.put("live_historical", r.liveHistorical)
        n.put("wrong_dim_count", r.wrongDimCount)
        n.put("duplicate_id_count", r.duplicateIdCount)
        // may be transiently non-zero while a migrate() is between its
        // two tier swaps (this scan takes no lease by design); excluded
        // from is_complete — alert only if it persists across scans
        n.put("cross_tier_duplicate_count", r.crossTierDuplicateCount)
        n.put("invalid_cluster_count", r.invalidClusterCount)
        // saved-HNSW part-list probe (r13): stale = delta-served, a
        // rebuild hint; missing = the index serves rows the tier no
        // longer holds — transient while a migrate/vacuum is between its
        // tier swap and index invalidation (this scan takes no lease),
        // so like cross_tier_duplicate_count it does NOT gate
        // is_complete: alert if it persists across scans. -1 on both =
        // coverage unknown this scan (pre-list-era index, or the index
        // vanished mid-probe) — distinct from verified zero; a MALFORMED
        // meta.json instead fails the scan loudly (this route 500s)
        n.put("recent_index_stale_parts", r.recentIndexStaleParts)
        n.put("recent_index_missing_parts", r.recentIndexMissingParts)
        val d = n.putObject("code_tier_drift")
        r.codeTierDrift.foreach { case (tier, (missing, orphaned)) =>
          val t = d.putObject(tier)
          t.put("missing", missing); t.put("orphaned", orphaned)
        }
        // OPQ rotation staleness: fresh/train reconstruction-MSE ratio
        // under the saved model (-1 = no OPQ tier or baseline unknown
        // this scan). Advisory: at >= OpqStaleRatioAlert (1.5) the
        // rotation was learned on a corpus that has drifted away —
        // retrain via POST /admin/index/opq {retrain: true}; a loud
        // warning field appears so a monitor needn't hardcode the
        // threshold
        // clamped to a finite ceiling: a zero training baseline with real
        // fresh error yields ratio = +Infinity, which Jackson would emit
        // as the non-JSON token "Infinity" and break strict monitors'
        // parse of the WHOLE envelope — 1e12 is unambiguous "retrain now"
        n.put("opq_rotation_mse_ratio",
          math.min(r.opqRotationMseRatio, 1e12))
        if (r.opqRotationMseRatio >= VectorStore.OpqStaleRatioAlert)
          n.put("opq_rotation_warning",
            f"fresh-sample reconstruction MSE is ${r.opqRotationMseRatio}%.2f" +
              "x the training baseline — the saved rotation is stale; " +
              "re-train via POST /admin/index/opq {\"retrain\": true} to " +
              "restore the tier's recall edge")
        // confirm-pass envelope: transients_confirmed = the re-probe ran
        // after the lease quiesced; confirmed counts are −1 when not
        // confirmed (not requested / writer stayed live / coverage
        // unknown) — an operator alerts on confirmed > 0, never on the
        // raw transient counts above
        n.put("transients_confirmed", r.transientsConfirmed)
        n.put("confirmed_cross_tier_duplicate_count",
          r.confirmedCrossTierDuplicateCount)
        n.put("confirmed_recent_index_missing_parts",
          r.confirmedRecentIndexMissingParts)
        (200, n)
      case ("GET", "/api/v1/admin/profile") => profile()
      case ("GET", path) if faceRoutes.contains(path) =>
        faceRoutes(path).serve(ex)
      case ("POST", "/api/v1/admin/frequent-items/recount") =>
        recountFrequentItems(ex)
      case ("POST", "/api/v1/admin/histogram/from-sample") =>
        deriveFromSample(ex)
      case ("POST", "/api/v1/admin/migrate") =>
        val tm0 = System.nanoTime()
        val migrated = store.migrate()
        if (migrated > 0) mutated("migrate", Seq(migrated.toString))
        val n = obj(); n.put("migrated", migrated)
        // reference MigrationResponse field names (rest.rs:178-181)
        n.put("vectors_migrated", migrated)
        n.put("duration_ms", (System.nanoTime() - tm0) / 1e6)
        (200, n)
      case ("POST", "/api/v1/admin/vacuum") =>
        val res = store.vacuum()
        mutated("vacuum", Seq((res.recentRemoved + res.historicalRemoved).toString))
        val n = obj()
        n.put("recent_removed", res.recentRemoved)
        n.put("historical_removed", res.historicalRemoved)
        (200, n)
      case ("POST", "/api/v1/admin/rebalance") =>
        val moved = store.rebalance(optInt(body(ex), "max_cluster_size", 10000))
        if (moved > 0) mutated("rebalance", Seq(moved.toString))
        val n = obj(); n.put("moved", moved)
        // reference RebalanceResponse field names (rest.rs:184-187; its
        // own handler is a TODO stub returning zeros — ours reports the
        // measured counts)
        n.put("vectors_moved", moved)
        n.put("clusters_modified",
          if (moved > 0) store.maintenanceStats.lastClustersModified else 0L)
        (200, n)
      // serving-index lifecycle (the reference builds its indexes inside
      // the engine on insert; here index builds are explicit admin actions
      // so the store stays zero-maintenance by default). A rebuilt artifact
      // changes what the affected modes would return (and even which
      // requests they accept — e.g. the recent index's metric), so the
      // query memo must not outlive it.
      case ("POST", "/api/v1/admin/index/recent") =>
        val req = body(ex)
        store.buildRecentIndex(
          efConstruction = optInt(req, "ef_construction", 100),
          m = optInt(req, "m", 16),
          metric = if (req != null && req.hasNonNull("metric"))
            req.get("metric").asText() else "l2")
        queryCache.clear()
        val n = obj(); n.put("built", true); (200, n)
      case ("POST", "/api/v1/admin/index/pq") =>
        val req = body(ex)
        if (req != null && req.hasNonNull("refresh") && req.get("refresh").asBoolean()) {
          val encoded = store.refreshPq()
          queryCache.clear()
          val n = obj(); n.put("refreshed", true); n.put("encoded", encoded); (200, n)
        } else {
          // residual: the FAISS formulation (codebooks on v - centroid);
          // serves l2 and cosine like the plain tier
          val residual = req != null && req.hasNonNull("residual") &&
            req.get("residual").asBoolean()
          store.enablePq(m = optInt(req, "m", 8),
            kCodes = optInt(req, "k_codes", 64),
            trainSize = optInt(req, "train_size", 10000),
            retrain = req == null || !req.hasNonNull("retrain") ||
              req.get("retrain").asBoolean(),
            residual = residual)
          queryCache.clear()
          val n = obj(); n.put("enabled", true)
          n.put("residual", residual); (200, n)
        }
      case ("POST", "/api/v1/admin/index/opq") =>
        val req = body(ex)
        if (req != null && req.hasNonNull("refresh") && req.get("refresh").asBoolean()) {
          val encoded = store.refreshOpq()
          queryCache.clear()
          val n = obj(); n.put("refreshed", true); n.put("encoded", encoded); (200, n)
        } else if ((req == null || !req.hasNonNull("retrain") ||
            req.get("retrain").asBoolean()) &&
            (req == null || (!req.hasNonNull("m") &&
              !req.hasNonNull("k_codes"))) && store.hasOpqModel) {
          // an existing tier retrained WITHOUT explicit shape params must
          // keep the shape it was built with (the drift-gate remediation
          // the integrity warning points at) — the enableOpq defaults
          // (m=8, 64 codes) would otherwise silently change the tier's
          // code geometry on a bare {"retrain": true}
          store.retrainOpq(
            trainSize = Option(req).flatMap(r =>
              Option(r.get("train_size"))).filter(_.isInt).map(_.asInt()),
            iters = Option(req).flatMap(r =>
              Option(r.get("iters"))).filter(_.isInt).map(_.asInt()))
          queryCache.clear()
          val n = obj(); n.put("enabled", true)
          n.put("shape_preserved", true); (200, n)
        } else {
          store.enableOpq(m = optInt(req, "m", 8),
            kCodes = optInt(req, "k_codes", 64),
            trainSize = optInt(req, "train_size", 10000),
            retrain = req == null || !req.hasNonNull("retrain") ||
              req.get("retrain").asBoolean(),
            iters = optInt(req, "iters", 5))
          queryCache.clear()
          val n = obj(); n.put("enabled", true); (200, n)
        }
      case ("POST", "/api/v1/admin/index/sq") =>
        val req = body(ex)
        if (req != null && req.hasNonNull("refresh") && req.get("refresh").asBoolean()) {
          val encoded = store.refreshSq()
          queryCache.clear()
          val n = obj(); n.put("refreshed", true); n.put("encoded", encoded); (200, n)
        } else {
          store.enableSq()
          queryCache.clear()
          val n = obj(); n.put("enabled", true); (200, n)
        }
      case ("POST", "/api/v1/admin/index/bq") =>
        val req = body(ex)
        if (req != null && req.hasNonNull("refresh") && req.get("refresh").asBoolean()) {
          val encoded = store.refreshBq()
          queryCache.clear()
          val n = obj(); n.put("refreshed", true); n.put("encoded", encoded); (200, n)
        } else {
          store.enableBq()
          queryCache.clear()
          val n = obj(); n.put("enabled", true); (200, n)
        }
      case ("POST", "/api/v1/admin/backup") =>
        val req = body(ex)
        if (req == null || !req.hasNonNull("target"))
          (400, err("'target' path required"))
        else backupBase match {
          case None =>
            (403, err("backup disabled: no backupBase configured on this server"))
          case Some(base) =>
            val target = req.get("target").asText()
            val baseNorm = java.nio.file.Paths.get(base).toAbsolutePath.normalize
            val targetNorm =
              baseNorm.resolve(target.stripPrefix("/")).normalize
            if (!targetNorm.startsWith(baseNorm))
              (403, err("backup target escapes the configured backup base"))
            else {
              val n = obj()
              n.put("target", targetNorm.toString)
              val bytes = store.backup(targetNorm.toString)
              n.put("bytes", bytes)
              // reference BackupResponse field names (rest.rs:196-200; its
              // handler is a TODO stub — ours reports the real copy)
              val st = store.stats()
              n.put("backup_size", bytes)
              n.put("vectors_backed_up", st.recentCount + st.historicalCount)
              n.put("compression_ratio", 1.0) // byte-identical clone
              (200, n)
            }
        }
      case _ => (404, err("unknown admin route"))
    })
    server.setExecutor(null) // serial: one Spark driver, one request at a time
    ssePusher.start()
    wsAcceptor.start()
    server.start()
    this
  }

  def stop(): Unit = {
    ssePusher.interrupt()
    sseWatchdog.shutdownNow()
    try wsServer.close() catch { case NonFatal(_) => }
    wsSubs.forEach(c => c.close())
    wsSubs.clear()
    sseSubs.forEach(sub => try sub.close() catch { case NonFatal(_) => })
    sseSubs.clear()
    server.stop(0)
  }

  private object IdPath {
    def unapply(path: String): Option[String] = {
      val prefix = "/api/v1/vectors/"
      if (path.startsWith(prefix) && path.length > prefix.length)
        Some(java.net.URLDecoder.decode(path.drop(prefix.length), UTF_8))
      else None
    }
  }

  private def obj(): ObjectNode = mapper.createObjectNode()

  private def err(msg: String): ObjectNode = {
    val n = obj(); n.put("error", msg); n
  }

  private def body(ex: HttpExchange): JsonNode =
    mapper.readTree(new String(ex.getRequestBody.readAllBytes(), UTF_8))

  private def optInt(req: JsonNode, name: String, dflt: Int): Int =
    if (req != null && req.hasNonNull(name)) req.get(name).asInt() else dflt

  // ---- the streaming-profile admin faces (see the class doc) ----

  /** The request's RAW query, split on '&' before any value is decoded:
    * getQuery pre-decodes percent-escapes, so a value carrying an encoded
    * '&' or '=' (group=r%26d) would be cut at the decoded separator. */
  private final class Query(ex: HttpExchange) {
    private val params =
      Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&"))
    def get(name: String): Option[String] = params.collectFirst {
      case p if p.startsWith(name + "=") =>
        java.net.URLDecoder.decode(p.drop(name.length + 1), UTF_8)
    }
    def flag(name: String): Boolean = params.contains(name + "=true")
  }

  /** One profiling face. It supplies only what differs between faces —
    * its rung readers, the fields its envelope and profile summary add on
    * each rung, its recount twin — and inherits the route template:
    * the unconfigured 404, the selection ladder, the `?group` rule, the
    * verify pre-checks, the missing-column 422 and the profile entry.
    * A face with no windowed rung or no twin supplies none. */
  private abstract class Face[F <: FoldSnapshot, V,
      G <: GroupedFoldSnapshot[V], W <: WindowedFoldSnapshot](
      val name: String, val param: String, val stateDir: Option[String],
      groupedFold: String) {

    def flat(sd: String): F
    def grouped(sd: String): G
    def windowed: Option[String => W] = None
    def twin: Option[Twin[F, G]] = None
    /** A face-specific query refusal (400). */
    def invalid(q: Query): Option[String] = None

    def flatEnvelope(n: ObjectNode, st: F, q: Query): Unit
    /** The grouped envelope's top-level fields; returns the writer of one
      * group's entry. */
    def groupedEnvelope(n: ObjectNode, st: G, q: Query): (ObjectNode, V) => Unit
    def windowedEnvelope(n: ObjectNode, st: W, q: Query): Unit = ()
    def unfoldedEnvelope(n: ObjectNode, st: F, q: Query): Unit

    def flatSummary(f: ObjectNode, st: F): Unit
    def groupedSummary(f: ObjectNode, st: G): Unit
    def windowedSummary(f: ObjectNode, st: W): Unit = ()

    /** The ladder: flat → grouped → windowed, the first rung that folded
      * anything wins (one state dir, earlier rungs win ties). Every read
      * is the LINEARIZABLE locked read, and every field a route serves
      * comes from the one snapshot selected here. */
    final def select(sd: String): Rung[F, G, W] = {
      val st = flat(sd)
      if (st.lastBatchId >= 0L) FlatRung(st)
      else {
        val g = grouped(sd)
        if (g.lastBatchId >= 0L) GroupedRung(g)
        else windowed.map(_(sd)).filter(_.lastBatchId >= 0L)
          .fold[Rung[F, G, W]](Unfolded(st))(WindowedRung(_))
      }
    }

    /** 404 unless the operator wired this face's state dir. */
    final def configured(route: String => (Int, ObjectNode))
        : (Int, ObjectNode) = stateDir match {
      case None => (404, err(s"$name state not configured on this server " +
        s"(pass ${param}StateDir to RestServer)"))
      case Some(sd) => route(sd)
    }

    /** 403: a recount is a Spark job, so it reads only an operator-
      * configured corpus, never a client-supplied path. */
    final def sourceRefusal(what: String, sourceDir: Option[String])
        : Option[(Int, ObjectNode)] =
      if (sourceDir.isDefined) None
      else Some((403, err(s"$name $what not configured on this server: " +
        "the recount is a Spark job over the stream's source corpus — " +
        s"pass ${param}SourceDir to RestServer (client-supplied paths " +
        "are not accepted)")))

    /** 409: a window cannot be recounted — the corpus does not record
      * which rows arrived in the newest batches. */
    final def windowRefusal(rung: Rung[F, G, W], what: String)
        : Option[(Int, ObjectNode)] = rung match {
      case WindowedRung(w) => Some((409, err(s"windowed $name cannot be " +
        s"$what against the source corpus: the corpus does not record " +
        s"which rows arrived in the newest ${w.window} micro-batches, so " +
        "an all-time recount cannot reproduce the window. The ring is " +
        "pinned by the fold's own oracle row and spec")))
      case _ => None
    }

    /** 409: with nothing folded, a recount is a category error, never a
      * vacuous match a monitor could read as "no drift". */
    final def unfolded(sd: String, what: String): (Int, ObjectNode) =
      (409, err(s"no folded $name state under $sd — start the ingest (or " +
        s"point the server at its state dir) before asking for $what"))

    final def unknownGroup(g: String, st: G): (Int, ObjectNode) =
      (404, err(s"group '$g' not in the folded grouped $name state " +
        s"(${st.groups.size} groups folded)"))

    /** 404 for a `?group` only a grouped fold that folded it can answer:
      * serving a flat, windowed or empty envelope instead would let a
      * monitor read the whole profile as one stratum's. */
    private def groupRefusal(rung: Rung[F, G, W], g: String)
        : Option[(Int, ObjectNode)] = {
      def unavailable(why: String) = Some((404, err(s"group '$g' not " +
        s"available: $why — group selection needs a $groupedFold fold")))
      rung match {
        case GroupedRung(st) =>
          if (st.groups.contains(g)) None else Some(unknownGroup(g, st))
        case FlatRung(_) => unavailable(s"the folded $name state is flat " +
          "(no groups)")
        case WindowedRung(_) => unavailable(s"the folded $name state is a " +
          "sliding WINDOW (no groups)")
        case Unfolded(_) => unavailable(s"the state dir holds no folded " +
          s"$name state")
      }
    }

    /** GET /admin/<name>: verify pre-checks (windowed 409 → 403 →
      * nothing-folded 409), the `?group` 404s, the envelope, then the
      * twin's recount. */
    final def serve(ex: HttpExchange): (Int, ObjectNode) = configured { sd =>
      val q = new Query(ex)
      invalid(q).map(msg => (400, err(msg))).getOrElse {
        val rung = select(sd)
        val group = q.get("group")
        val verify = twin.filter(_ => q.flag("verify"))
        verify.flatMap(t => windowRefusal(rung, "recount-verified")
            .orElse(sourceRefusal("verify", t.sourceDir))
            .orElse(Some(rung).collect { case Unfolded(_) =>
              unfolded(sd, "a recount verify") }))
          .orElse(group.flatMap(groupRefusal(rung, _)))
          .getOrElse {
            val n = obj()
            header(n, rung)
            rung match {
              case FlatRung(st) => flatEnvelope(n, st, q)
              case GroupedRung(st) =>
                val write = groupedEnvelope(n, st, q)
                val gs = n.putObject("groups")
                group.fold(st.groups.toSeq.sortBy(_._1))(g =>
                    Seq(g -> st.groups(g)))
                  .foreach { case (g, v) => write(gs.putObject(g), v) }
              case WindowedRung(st) => windowedEnvelope(n, st, q)
              case Unfolded(st) => unfoldedEnvelope(n, st, q)
            }
            verify.fold((200, n))(recount(n, rung, _))
          }
      }
    }

    /** The twin's recount over the source corpus, against the SAME
      * snapshot the envelope serves: 422 when the configured columns are
      * not in the source schema (configuration-naming, never an opaque
      * 500 mid-recount). */
    private def recount(n: ObjectNode, rung: Rung[F, G, W], t: Twin[F, G])
        : (Int, ObjectNode) = {
      val corpus = store.spark.read.parquet(t.sourceDir.get)
      val needed = (rung match {
        case GroupedRung(_) => Seq(t.groupCol)
        case _ => Seq.empty[String]
      }) ++ t.cols
      val missing = needed.filterNot(corpus.columns.toSet)
      if (missing.nonEmpty)
        (422, err(s"$name verify: configured column(s) " +
          missing.mkString("'", "', '", "'") + " not present in the " +
          s"source corpus schema (${corpus.columns.mkString(", ")}) — the " +
          s"server's ${t.colParams} must name the columns the ingest folded"))
      else {
        val v = n.putObject("verify")
        rung match {
          case FlatRung(st) => t.flat(v, st, corpus)
          case GroupedRung(st) => t.grouped(v, st, corpus)
          case _ => // refused before the envelope
        }
        (200, n)
      }
    }

    /** This face's `/admin/profile` entry: liveness plus the headline a
      * drift dashboard plots. */
    final def summary(f: ObjectNode, sd: String): Unit = {
      val rung = select(sd)
      f.put("folded", !rung.isInstanceOf[Unfolded[_]])
      header(f, rung)
      rung match {
        case FlatRung(st) => flatSummary(f, st)
        case GroupedRung(st) => groupedSummary(f, st)
        case WindowedRung(st) => windowedSummary(f, st)
        case Unfolded(_) =>
      }
    }
  }

  /** The rung fields every face envelope and profile entry carries. */
  private def header(n: ObjectNode, rung: Rung[FoldSnapshot,
      GroupedFoldSnapshot[Any], WindowedFoldSnapshot]): Unit = {
    def at(st: FoldSnapshot): Unit = {
      n.put("checkpoint", st.checkpoint)
      n.put("last_batch_id", st.lastBatchId)
    }
    rung match {
      case FlatRung(st) => n.put("grouped", false); at(st)
      case GroupedRung(st) =>
        n.put("grouped", true); at(st)
        n.put("group_count", st.groups.size)
        // null-group-key rows the fold excluded: a source column rotting
        // to NULL would otherwise quietly thin the profile
        n.put("excluded_null_rows", st.excludedNullRows)
      case WindowedRung(st) =>
        n.put("grouped", false); n.put("windowed", true); at(st)
        n.put("window", st.window)
        n.put("ring_depth", st.ring.size)
      case Unfolded(_) =>
    }
  }

  /** A grouped twin's bounded recount and verdict. The fold's maxGroups
    * bounded the STATE, but the recount reads the CURRENT source: a
    * group column drifted toward per-row cardinality must be refused,
    * never collected into the serving driver. So: head(cap + 1) with
    * cap = (state groups + 16) × `rowsPerGroup` (the slack lets a few
    * new groups report as named mismatches); past the cap the verdict is
    * that refusal. Else `decode` keys the rows by group, `same` compares
    * a group's state with its recount (a group on one side only is a
    * mismatch), and the mismatched groups are listed sorted, first ten.
    * Returns the decoded recount for the face's own verdict fields. */
  private def groupVerdict[V, R](v: ObjectNode, groups: Map[String, V],
      rowsPerGroup: Int, relation: DataFrame)(
      decode: Array[Row] => Map[String, R])(
      same: (V, R) => Boolean): Option[Map[String, R]] = {
    val cap = (groups.size + 16) * rowsPerGroup
    val rows = relation.head(cap + 1)
    if (rows.length > cap) {
      v.put("matched", false)
      v.put("error", "source group cardinality exceeds the verify bound: " +
        s"the folded state holds ${groups.size} groups but the recount " +
        s"produced more than $cap rows — the group column has drifted " +
        "(e.g. toward per-row cardinality); the compare was skipped rather " +
        "than collecting an unbounded relation into the serving driver")
      None
    } else {
      val recount = decode(rows)
      val bad = (groups.keySet ++ recount.keySet).toSeq.sorted
        .filterNot(g => groups.get(g).zip(recount.get(g)).exists(same.tupled))
      v.put("matched", bad.isEmpty)
      v.put("mismatched_group_count", bad.size)
      val bl = v.putArray("mismatched_groups")
      bad.take(10).foreach(bl.add)
      Some(recount)
    }
  }

  private def groupCounts(v: ObjectNode, state: Int, recount: Int): Unit = {
    v.put("state_group_count", state)
    v.put("recount_group_count", recount)
  }

  private val frequentItems = new Face[MgSnapshot, GroupState,
      GroupedMgSnapshot, WindowedMgSnapshot]("frequent-items",
      "frequentItems", frequentItemsStateDir, "StreamingGroupedHeavyHitters") {
    def flat(sd: String) = StreamingHeavyHitters.readStateLocked(store.spark, sd)
    def grouped(sd: String) =
      StreamingGroupedHeavyHitters.readStateLocked(store.spark, sd)
    override val windowed = Some((sd: String) =>
      StreamingWindowedHeavyHitters.readStateLocked(store.spark, sd))
    // the folded MG estimates — lower bounds, off by at most n/(k+1) of
    // the (group's) mass; exact values are the POST recount's — in the
    // operator's own order: count desc, item asc
    private def counts(into: ObjectNode, cs: Map[String, Long]): Unit = {
      val c = into.putObject("counts")
      cs.toSeq.sortBy { case (item, cnt) => (-cnt, item) }
        .foreach { case (item, cnt) => c.put(item, cnt) }
    }
    private def mg(n: ObjectNode, k: Int, mass: Long, entries: Int): Unit = {
      n.put("k", k); n.put("n", mass); n.put("state_entries", entries)
      n.put("counts_are_mg_estimates", true)
    }
    def flatEnvelope(n: ObjectNode, st: MgSnapshot, q: Query): Unit = {
      mg(n, st.k, st.n, st.counts.size); counts(n, st.counts)
    }
    def groupedEnvelope(n: ObjectNode, st: GroupedMgSnapshot, q: Query)
        : (ObjectNode, GroupState) => Unit = {
      mg(n, st.k, st.groups.valuesIterator.map(_.n).sum, st.totalEntries)
      (gn, g) => { gn.put("n", g.n); counts(gn, g.counts) }
    }
    // the windowed rung is "trending now": the ring-merged candidates
    override def windowedEnvelope(n: ObjectNode, w: WindowedMgSnapshot,
        q: Query): Unit = {
      val agg = w.aggregateCounts
      mg(n, w.k, w.n, agg.size); counts(n, agg)
    }
    // nothing folded serializes through the flat envelope
    def unfoldedEnvelope(n: ObjectNode, st: MgSnapshot, q: Query): Unit = {
      header(n, FlatRung(st)); flatEnvelope(n, st, q)
    }
    def flatSummary(f: ObjectNode, st: MgSnapshot): Unit = {
      f.put("n", st.n); f.put("candidate_count", st.counts.size)
      f.put("k", st.k)
    }
    def groupedSummary(f: ObjectNode, st: GroupedMgSnapshot): Unit = {
      f.put("total_entries", st.totalEntries); f.put("k", st.k)
    }
    override def windowedSummary(f: ObjectNode,
        w: WindowedMgSnapshot): Unit = {
      f.put("n", w.n); f.put("candidate_count", w.aggregateCounts.size)
      f.put("k", w.k)
    }
  }

  private val histogram = new Face[HistSnapshot, GroupHist,
      GroupedHistSnapshot, WindowedHistSnapshot]("histogram", "histogram",
      histogramStateDir, "StreamingGroupedHistogram") {
    def flat(sd: String) = StreamingHistogram.readStateLocked(store.spark, sd)
    def grouped(sd: String) =
      StreamingGroupedHistogram.readStateLocked(store.spark, sd)
    override val windowed = Some((sd: String) =>
      StreamingWindowedHistogram.readStateLocked(store.spark, sd))

    // ?probs=0.5,0.9 overrides the default probes; malformed is a loud 400
    private def probs(q: Query): Either[String, Seq[Double]] =
      q.get("probs") match {
        case None => Right(Seq(0.5, 0.9, 0.99))
        case Some(v) =>
          val parts = v.split(",").toSeq.filter(_.nonEmpty)
          val ds = parts.map(p => scala.util.Try(p.toDouble).toOption)
          // d.isNaN: "NaN".toDouble parses, and NaN fails neither range
          // bound — without this it trips quantiles' require as a 500
          if (parts.isEmpty || ds.exists(_.isEmpty)
              || ds.flatten.exists(d => d.isNaN || d < 0.0 || d > 1.0))
            Left(s"probs must be comma-separated numbers in [0, 1], got '$v'")
          else Right(ds.flatten)
      }
    override def invalid(q: Query): Option[String] = probs(q).left.toOption

    // counts are EXACT and quantiles rank-exact; only the VALUE is
    // quantized, to one bin width
    private def binning(n: ObjectNode, spec: HistogramSketch.HistogramSpec)
        : Unit = {
      n.put("folded", true)
      n.put("lo", spec.lo); n.put("hi", spec.hi); n.put("n_bins", spec.nBins)
      n.put("value_resolution", spec.width)
      n.put("counts_are_exact", true)
    }
    // a misconfigured (or drifted) [lo, hi) silently parks mass in
    // under/overflow (NaN values land in overflow): a monitor needs the
    // FRACTION, and a loud field past histogramOutOfRangeAlert
    private def outOfRange(n: ObjectNode, total: Long, oor: Long): Unit = {
      val frac = if (total == 0L) 0.0 else oor.toDouble / total
      n.put("out_of_range_mass_fraction", frac)
      if (frac > histogramOutOfRangeAlert)
        n.put("binning_warning",
          f"$frac%.4f of the folded mass fell outside the configured " +
            f"[lo, hi) — past the $histogramOutOfRangeAlert alert " +
            "threshold; the quantile estimates clamp there. Re-derive the " +
            "binning (HistogramSketch.fromSample) and re-fold with a fresh " +
            "state dir")
    }
    private def cells(n: ObjectNode, q: Query, ps: Seq[(Double, Double)],
        bins: Map[Int, Long]): Unit = {
      val qs = n.putObject("quantiles")
      ps.foreach { case (p, est) => qs.put(p.toString, est) }
      if (q.flag("bins")) {
        val b = n.putObject("bins")
        bins.toSeq.sortBy(_._1).foreach { case (bin, c) =>
          b.put(bin.toString, c) }
      }
    }
    def flatEnvelope(n: ObjectNode, st: HistSnapshot, q: Query): Unit = {
      binning(n, st.spec)
      n.put("n", st.n)
      n.put("underflow", st.underflow); n.put("overflow", st.overflow)
      outOfRange(n, st.n, st.underflow + st.overflow)
      cells(n, q, StreamingHistogram.quantilesFromSnapshot(st,
        probs(q).getOrElse(Nil)), st.bins)
    }
    def groupedEnvelope(n: ObjectNode, st: GroupedHistSnapshot, q: Query)
        : (ObjectNode, GroupHist) => Unit = {
      val nBins = st.spec.nBins
      val total = st.groups.valuesIterator.map(_.n).sum
      binning(n, st.spec)
      n.put("n", total)
      outOfRange(n, total, st.groups.valuesIterator.map(gh =>
        gh.bins.getOrElse(-1, 0L) + gh.bins.getOrElse(nBins, 0L)).sum)
      (gn, gh) => {
        gn.put("n", gh.n)
        gn.put("underflow", gh.bins.getOrElse(-1, 0L))
        gn.put("overflow", gh.bins.getOrElse(nBins, 0L))
        cells(gn, q, HistogramSketch.quantiles(st.spec, gh.bins,
          probs(q).getOrElse(Nil)), gh.bins)
      }
    }
    // the ring's bin-wise aggregate, served as a flat envelope
    override def windowedEnvelope(n: ObjectNode, w: WindowedHistSnapshot,
        q: Query): Unit = flatEnvelope(n, w.aggregate, q)
    // the placeholder binning is NOT echoed: it would mislead a monitor
    def unfoldedEnvelope(n: ObjectNode, st: HistSnapshot, q: Query): Unit = {
      n.put("folded", false); n.put("last_batch_id", -1L); n.put("n", 0L)
    }
    def flatSummary(f: ObjectNode, st: HistSnapshot): Unit = {
      f.put("n", st.n)
      f.put("lo", st.spec.lo); f.put("hi", st.spec.hi)
      f.put("n_bins", st.spec.nBins)
      f.put("underflow", st.underflow); f.put("overflow", st.overflow)
    }
    def groupedSummary(f: ObjectNode, st: GroupedHistSnapshot): Unit =
      f.put("total_cells", st.totalCells)
    override def windowedSummary(f: ObjectNode,
        w: WindowedHistSnapshot): Unit = {
      val agg = w.aggregate
      f.put("n", agg.n)
      f.put("underflow", agg.underflow); f.put("overflow", agg.overflow)
    }

    private def diffCells(state: Map[Int, Long], recount: Map[Int, Long])
        : Int = (state.keySet ++ recount.keySet).count(b =>
      state.getOrElse(b, 0L) != recount.getOrElse(b, 0L))
    // both the fold and the recount skip NULL values, so a value column
    // rotting to NULL would verify "matched" invisibly: the recount counts
    // its exclusions on the SAME scan (a CollectMetrics node under the
    // aggregation barrier sees every source row, no second pass)
    private def nullValues(keep: org.apache.spark.sql.Column) =
      count(when(keep && col(histogramValueCol).cast("double").isNull, 1))
        .as("null_values")
    override val twin = Some(Twin[HistSnapshot, GroupedHistSnapshot](
      histogramSourceDir, histogramGroupCol, Seq(histogramValueCol),
      "histogramGroupCol/histogramValueCol",
      flat = (v, st, corpus) => {
        val nulls = Observation()
        val recount = HistogramSketch.counts(
            corpus.select(col(histogramValueCol))
              .observe(nulls, nullValues(lit(true))),
            histogramValueCol, st.spec)
          .collect() // bounded: <= nBins+2 rows
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val mismatches = diffCells(st.bins, recount)
        v.put("matched", mismatches == 0)
        v.put("recount_n", recount.valuesIterator.sum)
        v.put("state_n", st.n)
        v.put("recount_excluded_null_values",
          nulls.get("null_values").asInstanceOf[Long])
        v.put("mismatched_bin_count", mismatches)
        v.put("counts_are_exact", true)
      },
      grouped = (v, st, corpus) => {
        val nulls = Observation()
        val observed = corpus.observe(nulls,
          nullValues(col(histogramGroupCol).isNotNull))
        groupVerdict(v, st.groups, st.spec.nBins + 2,
            HistogramSketch.countsPerGroup(observed, histogramGroupCol,
              histogramValueCol, st.spec))(
            _.groupBy(_.getString(0)).map { case (g, rs) =>
              g -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap })(
            (gh, bins) => diffCells(gh.bins, bins) == 0)
          .foreach { recount =>
            v.put("recount_n", recount.valuesIterator.map(_.values.sum).sum)
            v.put("state_n", st.groups.valuesIterator.map(_.n).sum)
            v.put("recount_excluded_null_values",
              nulls.get("null_values").asInstanceOf[Long])
          }
        v.put("counts_are_exact", true)
      }))
  }

  private val sample = new Face[SampleSnapshot, GroupSample,
      GroupedSampleSnapshot, Nothing]("sample", "sample", sampleStateDir,
      "StreamingGroupedSample") {
    def flat(sd: String) = StreamingSample.readStateLocked(store.spark, sd)
    def grouped(sd: String) =
      StreamingGroupedSample.readStateLocked(store.spark, sd)
    // entries are exact: each (group's) sample is a deterministic
    // function of the corpus (salted-hash bottom-k)
    private def head(n: ObjectNode, k: Int, salt: String, seen: Long): Unit = {
      n.put("folded", true); n.put("k", k); n.put("salt", salt)
      n.put("n_seen", seen); n.put("entries_are_exact", true)
    }
    private def entries(into: ObjectNode, es: Seq[SampleEntry]): Unit = {
      into.put("sample_size", es.size)
      val arr = into.putArray("entries")
      es.foreach { e =>
        val en = arr.addObject()
        en.put("id", e.id)
        e.value.foreach(v => en.put("value", v))
      }
    }
    def flatEnvelope(n: ObjectNode, st: SampleSnapshot, q: Query): Unit = {
      head(n, st.k, st.salt, st.nSeen); entries(n, st.entries)
    }
    def groupedEnvelope(n: ObjectNode, st: GroupedSampleSnapshot, q: Query)
        : (ObjectNode, GroupSample) => Unit = {
      head(n, st.k, st.salt, st.groups.valuesIterator.map(_.nSeen).sum)
      (gn, s) => { gn.put("n_seen", s.nSeen); entries(gn, s.entries) }
    }
    def unfoldedEnvelope(n: ObjectNode, st: SampleSnapshot, q: Query)
        : Unit = {
      n.put("folded", false); n.put("last_batch_id", -1L); n.put("n_seen", 0L)
    }
    def flatSummary(f: ObjectNode, st: SampleSnapshot): Unit = {
      f.put("k", st.k); f.put("n_seen", st.nSeen)
      f.put("entry_count", st.entries.size)
    }
    def groupedSummary(f: ObjectNode, st: GroupedSampleSnapshot): Unit = {
      f.put("k", st.k); f.put("total_entries", st.totalEntries)
    }
    override val twin = Some(Twin[SampleSnapshot, GroupedSampleSnapshot](
      sampleSourceDir, sampleGroupCol, sampleIdCol +: sampleValueCol.toSeq,
      "sampleGroupCol/sampleIdCol/sampleValueCol",
      flat = (v, st, corpus) => {
        // bounded by construction: batchBottomK collects ≤ k
        val recount = StreamingSample.batchBottomK(corpus, st.k, st.salt,
          sampleIdCol, sampleValueCol)
        // split so an operator can tell skipped data (ids differ) from a
        // value-column misconfig (ids equal, carried values differ)
        val idsMatch = recount.map(e => (e.key, e.id)) ==
          st.entries.map(e => (e.key, e.id))
        val valuesMatch = recount.map(_.value) == st.entries.map(_.value)
        v.put("matched", idsMatch && valuesMatch)
        v.put("ids_matched", idsMatch)
        v.put("values_matched", valuesMatch)
        v.put("state_size", st.entries.size)
        v.put("recount_size", recount.size)
        val bl = v.putArray("mismatched_ids")
        (recount.map(_.id).toSet -- st.entries.map(_.id).toSet)
          .toSeq.sorted.take(10).foreach(bl.add)
        v.put("entries_are_exact", true)
      },
      grouped = (v, st, corpus) => {
        groupVerdict(v, st.groups, st.k,
            StreamingGroupedSample.batchBottomKPerGroup(corpus, st.k, st.salt,
              sampleGroupCol, sampleIdCol, sampleValueCol))(
            _.groupBy(_.getString(0)).map { case (g, rs) =>
              g -> rs.map(r => SampleEntry(r.getLong(1), r.getLong(2),
                  if (r.isNullAt(3)) None else Some(r.getDouble(3))))
                .sortBy(e => (e.key, e.id)).toSeq })(
            (s, recount) => s.entries == recount)
          .foreach(recount => groupCounts(v, st.groups.size, recount.size))
        v.put("entries_are_exact", true)
      }))
  }

  private val moments = new Face[MomentsSnapshot, Moments,
      GroupedMomentsSnapshot, WindowedMomentsSnapshot]("moments", "moments",
      momentsStateDir, "StreamingGroupedMoments") {
    def flat(sd: String) = StreamingMoments.readStateLocked(store.spark, sd)
    def grouped(sd: String) =
      StreamingGroupedMoments.readStateLocked(store.spark, sd)
    override val windowed = Some((sd: String) =>
      StreamingWindowedMoments.readStateLocked(store.spark, sd))
    private def head(n: ObjectNode, valueCol: String): Unit = {
      n.put("folded", true); n.put("value_col", valueCol)
      n.put("moments_are_exact", true)
    }
    // the ONE state-field contract (putMoments, shared with both fold
    // writers) plus the envelope-only extras a monitor plots
    private def write(into: ObjectNode, m: Moments): Unit = {
      StreamingMoments.putMoments(into, m)
      into.put("n", m.n)
      if (m.n > 0L) {
        m.mean.foreach(v => into.put("mean", v))
        m.stddevPop.foreach(v => into.put("stddev_pop", v))
      }
    }
    private def headline(f: ObjectNode, valueCol: String, m: Moments): Unit = {
      f.put("value_col", valueCol)
      f.put("n_rows", m.nRows); f.put("n_null", m.nNull)
      m.mean.foreach(v => f.put("mean", v))
      m.stddevPop.foreach(v => f.put("stddev_pop", v))
    }
    def flatEnvelope(n: ObjectNode, st: MomentsSnapshot, q: Query): Unit = {
      head(n, st.valueCol); write(n, st.moments)
    }
    def groupedEnvelope(n: ObjectNode, st: GroupedMomentsSnapshot, q: Query)
        : (ObjectNode, Moments) => Unit = {
      head(n, st.valueCol); write
    }
    override def windowedEnvelope(n: ObjectNode, w: WindowedMomentsSnapshot,
        q: Query): Unit = { head(n, w.valueCol); write(n, w.aggregate) }
    def unfoldedEnvelope(n: ObjectNode, st: MomentsSnapshot, q: Query)
        : Unit = {
      n.put("folded", false); n.put("last_batch_id", -1L); n.put("n_rows", 0L)
    }
    def flatSummary(f: ObjectNode, st: MomentsSnapshot): Unit =
      headline(f, st.valueCol, st.moments)
    def groupedSummary(f: ObjectNode, st: GroupedMomentsSnapshot): Unit =
      f.put("value_col", st.valueCol)
    override def windowedSummary(f: ObjectNode,
        w: WindowedMomentsSnapshot): Unit =
      headline(f, w.valueCol, w.aggregate)
    override val twin = Some(Twin[MomentsSnapshot, GroupedMomentsSnapshot](
      momentsSourceDir, momentsGroupCol, Seq(momentsValueCol),
      "momentsGroupCol/momentsValueCol",
      flat = (v, st, corpus) => {
        // bounded by construction: the recount is ONE row
        val recount = StreamingMoments.batchMoments(corpus, momentsValueCol)
        v.put("matched", recount == st.moments)
        v.put("state_n_rows", st.moments.nRows)
        v.put("recount_n_rows", recount.nRows)
        v.put("moments_are_exact", true)
      },
      grouped = (v, st, corpus) => {
        // group cast to string: a non-string source group column reads
        // as named mismatches, never a getString 500
        groupVerdict(v, st.groups, 1, Profile.momentsPerGroup(corpus,
            momentsGroupCol, momentsValueCol)
            .withColumn("group", col("group").cast("string")))(
            _.map(r => r.getString(0) -> StreamingMoments.momentsFromRow(r, 1,
              "moments verify recount")).toMap)(_ == _)
          .foreach(recount => groupCounts(v, st.groups.size, recount.size))
        v.put("moments_are_exact", true)
      }))
  }

  private val distinct = new Face[DistinctSnapshot, GroupDistinct,
      GroupedDistinctSnapshot, WindowedDistinctSnapshot]("distinct",
      "distinct", distinctStateDir, "StreamingGroupedDistinct") {
    def flat(sd: String) = StreamingDistinct.readStateLocked(store.spark, sd)
    def grouped(sd: String) =
      StreamingGroupedDistinct.readStateLocked(store.spark, sd)
    override val windowed = Some((sd: String) =>
      StreamingWindowedDistinct.readStateLocked(store.spark, sd))
    // exact row/null counters plus the HLL estimate
    private def head(n: ObjectNode, lgK: Int, valueCol: String): Unit = {
      n.put("folded", true); n.put("lg_k", lgK); n.put("value_col", valueCol)
      n.put("counters_are_exact", true)
    }
    private def counters(into: ObjectNode, nRows: Long, nNull: Long,
        est: Option[Double]): Unit = {
      into.put("n_rows", nRows)
      into.put("n_null", nNull)
      est.foreach(e => into.put("estimate", e))
    }
    def flatEnvelope(n: ObjectNode, st: DistinctSnapshot, q: Query): Unit = {
      head(n, st.lgK, st.valueCol)
      counters(n, st.nRows, st.nNull, st.estimate)
    }
    def groupedEnvelope(n: ObjectNode, st: GroupedDistinctSnapshot,
        q: Query): (ObjectNode, GroupDistinct) => Unit = {
      head(n, st.lgK, st.valueCol)
      (gn, d) => counters(gn, d.nRows, d.nNull, d.estimate)
    }
    override def windowedEnvelope(n: ObjectNode,
        w: WindowedDistinctSnapshot, q: Query): Unit = {
      head(n, w.lgK, w.valueCol); counters(n, w.nRows, w.nNull, w.estimate)
    }
    def unfoldedEnvelope(n: ObjectNode, st: DistinctSnapshot, q: Query)
        : Unit = {
      n.put("folded", false); n.put("last_batch_id", -1L); n.put("n_rows", 0L)
    }
    def flatSummary(f: ObjectNode, st: DistinctSnapshot): Unit = {
      f.put("value_col", st.valueCol)
      counters(f, st.nRows, st.nNull, st.estimate)
    }
    def groupedSummary(f: ObjectNode, st: GroupedDistinctSnapshot): Unit =
      f.put("value_col", st.valueCol)
    override def windowedSummary(f: ObjectNode,
        w: WindowedDistinctSnapshot): Unit = {
      f.put("value_col", w.valueCol)
      counters(f, w.nRows, w.nNull, w.estimate)
    }
    // the verify compares CANONICAL estimates (union-composite on both
    // sides — the HLL semilattice makes them equal on a drained stream)
    // plus the exact counters
    private def canonical(bytes: Array[Byte], lgK: Int): Option[Double] =
      StreamingDistinct.canonicalEstimate(lgK, bytes)
    override val twin = Some(Twin[DistinctSnapshot, GroupedDistinctSnapshot](
      distinctSourceDir, distinctGroupCol, Seq(distinctValueCol),
      "distinctGroupCol/distinctValueCol",
      flat = (v, st, corpus) => {
        val (tn, tnull, tsk) =
          StreamingDistinct.batchSketch(corpus, distinctValueCol, st.lgK)
        val countersMatch = tn == st.nRows && tnull == st.nNull
        val estMatch = canonical(st.sketch, st.lgK) == canonical(tsk, st.lgK)
        v.put("matched", countersMatch && estMatch)
        v.put("counters_matched", countersMatch)
        v.put("estimate_matched", estMatch)
        v.put("state_n_rows", st.nRows)
        v.put("recount_n_rows", tn)
      },
      grouped = (v, st, corpus) => {
        val g = col("`" + distinctGroupCol.replace("`", "``") + "`")
        val vc = col("`" + distinctValueCol.replace("`", "``") + "`")
        groupVerdict(v, st.groups, 1, corpus.filter(g.isNotNull)
            .groupBy(g.as("g"))
            .agg(count(lit(1)).as("n_rows"), count(vc).as("n"),
              hll_sketch_agg(vc, lit(st.lgK)).as("sk")))(
            _.map { r =>
              val bytes = if (r.getLong(2) == 0L || r.isNullAt(3))
                  Array.empty[Byte] else r.getAs[Array[Byte]](3)
              r.getString(0) -> GroupDistinct(r.getLong(1),
                r.getLong(1) - r.getLong(2), bytes)
            }.toMap)(
            (a, b) => a.nRows == b.nRows && a.nNull == b.nNull &&
              canonical(a.sketch, st.lgK) == canonical(b.sketch, st.lgK))
          .foreach(recount => groupCounts(v, st.groups.size, recount.size))
      }))
  }

  private val comoments = new Face[ComomentsSnapshot, Comoments,
      GroupedComomentsSnapshot, Nothing]("comoments", "comoments",
      comomentsStateDir, "StreamingGroupedComoments") {
    def flat(sd: String) = StreamingComoments.readStateLocked(store.spark, sd)
    def grouped(sd: String) =
      StreamingGroupedComoments.readStateLocked(store.spark, sd)
    private def head(n: ObjectNode, xCol: String, yCol: String): Unit = {
      n.put("folded", true); n.put("x_col", xCol); n.put("y_col", yCol)
      n.put("comoments_are_exact", true)
    }
    // the ONE state-field contract (putComoments, shared with both fold
    // writers) plus the derived views a ratio-drift monitor plots
    private def write(into: ObjectNode, m: Comoments): Unit = {
      StreamingComoments.putComoments(into, m)
      if (m.n > 0L) {
        m.meanX.foreach(v => into.put("mean_x", v))
        m.meanY.foreach(v => into.put("mean_y", v))
        m.covariancePop.foreach(v => into.put("covariance_pop", v))
        // None when either side is constant: absent, never NaN
        m.correlation.foreach(v => into.put("correlation", v))
      }
    }
    def flatEnvelope(n: ObjectNode, st: ComomentsSnapshot, q: Query): Unit = {
      head(n, st.xCol, st.yCol); write(n, st.comoments)
    }
    def groupedEnvelope(n: ObjectNode, st: GroupedComomentsSnapshot,
        q: Query): (ObjectNode, Comoments) => Unit = {
      head(n, st.xCol, st.yCol); write
    }
    def unfoldedEnvelope(n: ObjectNode, st: ComomentsSnapshot, q: Query)
        : Unit = {
      n.put("folded", false); n.put("last_batch_id", -1L); n.put("n_rows", 0L)
    }
    def flatSummary(f: ObjectNode, st: ComomentsSnapshot): Unit = {
      f.put("x_col", st.xCol); f.put("y_col", st.yCol)
      f.put("n_rows", st.comoments.nRows)
      f.put("n", st.comoments.n)
      st.comoments.covariancePop.foreach(v => f.put("covariance_pop", v))
      st.comoments.correlation.foreach(v => f.put("correlation", v))
    }
    def groupedSummary(f: ObjectNode, st: GroupedComomentsSnapshot): Unit = {
      f.put("x_col", st.xCol); f.put("y_col", st.yCol)
    }
    override val twin = Some(Twin[ComomentsSnapshot, GroupedComomentsSnapshot](
      comomentsSourceDir, comomentsGroupCol, Seq(comomentsXCol, comomentsYCol),
      "comomentsGroupCol/comomentsXCol/comomentsYCol",
      flat = (v, st, corpus) => {
        // bounded by construction: the recount is ONE row
        val recount = StreamingComoments.batchComoments(corpus,
          comomentsXCol, comomentsYCol)
        v.put("matched", recount == st.comoments)
        v.put("state_n_rows", st.comoments.nRows)
        v.put("recount_n_rows", recount.nRows)
        v.put("comoments_are_exact", true)
      },
      grouped = (v, st, corpus) => {
        // group cast to string: the state's keys are strings by the
        // ingest schema, and a non-string source group column must
        // surface as NAMED mismatches, never a getString 500
        groupVerdict(v, st.groups, 1, Profile.comomentsPerGroup(corpus,
            comomentsGroupCol, comomentsXCol, comomentsYCol)
            .withColumn("group", col("group").cast("string")))(
            _.map(r => r.getString(0) -> StreamingComoments.comomentsFromRow(
              r, 1, "comoments verify recount")).toMap)(_ == _)
          .foreach(recount => groupCounts(v, st.groups.size, recount.size))
        v.put("comoments_are_exact", true)
      }))
  }

  private val faces: Seq[Face[_, _, _, _]] =
    Seq(frequentItems, histogram, sample, moments, distinct, comoments)
  private val faceRoutes = faces.map(f => s"/api/v1/admin/${f.name}" -> f).toMap

  /** GET /admin/profile — the ONE-POLL monitor face: every configured
    * face's profile entry, from the same face list and ladder as the
    * per-face routes. Per-face LINEARIZABLE reads, NOT atomic across
    * faces (independent streams; each entry carries its own
    * last_batch_id). A face whose read fails (e.g. the locked read's
    * contention path) reports a NAMED error instead of failing the poll:
    * one stream mid-swap must not darken the whole monitor. */
  private def profile(): (Int, ObjectNode) = {
    val n = obj()
    val entries = n.putObject("faces")
    val wired = faces.filter(_.stateDir.isDefined)
    wired.foreach { face =>
      val f = entries.putObject(face.name.replace('-', '_'))
      try face.summary(f, face.stateDir.get)
      catch { case NonFatal(e) =>
        f.put("error", s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(300))
      }
    }
    if (wired.isEmpty)
      (404, err("no profiling faces configured on this server — pass at " +
        "least one of " + faces.map(_.param + "StateDir").mkString("/") +
        " to RestServer"))
    else {
      n.put("face_count", wired.size)
      (200, n)
    }
  }

  /** POST /admin/frequent-items/recount — the EXACT face of the folded
    * MG state: a Spark recount of the folded candidates over the
    * operator-configured corpus at the requested threshold, driven by the
    * ONE snapshot the ladder selected (no lock-free re-read behind it).
    * Order: 403 (no source) → 400 (denominator) → the recount 409s. */
  private def recountFrequentItems(ex: HttpExchange): (Int, ObjectNode) =
    frequentItems.configured { sd =>
      frequentItems.sourceRefusal("recount", frequentItemsSourceDir)
        .getOrElse {
          val req = body(ex)
          if (req == null || !req.hasNonNull("denominator"))
            (400, err("'denominator' required (items at >= 1/denominator " +
              "of the (group's) token mass are returned, with EXACT counts)"))
          // validated HERE as well as in the operators: Jackson's asLong()
          // coerces non-numeric JSON to 0, and a zero or negative
          // denominator inverts the threshold arithmetic
          else if (req.get("denominator").asLong() <= 0)
            (400, err(s"'denominator' must be a positive integer, " +
              s"got ${req.get("denominator").asText()}"))
          else {
            val denom = req.get("denominator").asLong()
            val rung = frequentItems.select(sd)
            frequentItems.windowRefusal(rung, "exactly recounted")
              .orElse(Some(rung).collect { case Unfolded(_) =>
                frequentItems.unfolded(sd, "an exact recount") })
              .getOrElse {
              val corpus = store.spark.read.parquet(frequentItemsSourceDir.get)
              val tokens = explode(
                graft.functions.TextFunctions.tokens(col("text"))).as("token")
              val n = obj()
              n.put("denominator", denom)
              rung match {
                case FlatRung(st) =>
                  val rows = StreamingHeavyHitters.heavyHittersFromSnapshot(
                      st, sd, corpus.select(tokens), "token", denom)
                    .collect() // bounded: <= denominator heavy hitters
                  n.put("grouped", false)
                  n.put("n", st.n)
                  val c = n.putObject("counts")
                  rows.foreach(r => c.put(r.getString(0), r.getLong(1)))
                case GroupedRung(st) =>
                  val rows = StreamingGroupedHeavyHitters
                    .heavyHittersFromSnapshot(st, sd, store.spark,
                      corpus.select(col("source"), tokens), "source", "token",
                      denom)
                    .collect() // bounded: <= groups x denominator rows
                  n.put("grouped", true)
                  n.put("n", st.groups.valuesIterator.map(_.n).sum)
                  n.put("excluded_null_rows", st.excludedNullRows)
                  val gs = n.putObject("groups")
                  rows.foreach { r =>
                    val g = r.getString(0)
                    (if (gs.has(g)) gs.get(g).asInstanceOf[ObjectNode]
                     else gs.putObject(g)).put(r.getString(1), r.getLong(2))
                  }
                case _ => // refused above
              }
              // the point of this route vs the GET envelope's estimates
              n.put("counts_are_exact", true)
              (200, n)
            }
          }
        }
    }

  /** POST /admin/histogram/from-sample — derive a [lo, hi) binning from
    * the STANDING sample fold's carried values (the fromValues arithmetic
    * over the ≤ k locked-read entries: no Spark job, no corpus rescan)
    * and return the spec an operator passes to a new histogram fold. It
    * derives only: a fold's lifecycle belongs to the operator's driver
    * app. A grouped sample needs 'group' (a stratified binning is
    * per-group by nature). */
  private def deriveFromSample(ex: HttpExchange): (Int, ObjectNode) =
    sample.configured { sd =>
      val req = Option(body(ex))
      val nBins = req.flatMap(r => Option(r.get("n_bins")))
        .map(_.asInt()).getOrElse(32)
      val coverage = req.flatMap(r => Option(r.get("coverage")))
        .map(_.asDouble()).getOrElse(0.99)
      if (nBins <= 0)
        (400, err(s"'n_bins' must be a positive integer, got $nBins"))
      else if (coverage.isNaN || coverage <= 0.0 || coverage > 1.0)
        (400, err(s"'coverage' must be in (0, 1], got $coverage"))
      else {
        val picked: Either[(Int, ObjectNode), (Seq[SampleEntry], Long)] =
          sample.select(sd) match {
            case GroupedRung(st) =>
              req.flatMap(r => Option(r.get("group"))).map(_.asText()) match {
                case None => Left((400, err("the folded sample is GROUPED " +
                  s"(${st.groups.size} groups) — pass 'group' to derive a " +
                  "binning from one group's sample")))
                case Some(g) => st.groups.get(g)
                  .map(gs => Right((gs.entries, st.lastBatchId)))
                  .getOrElse(Left(sample.unknownGroup(g, st)))
              }
            case FlatRung(st) => Right((st.entries, st.lastBatchId))
            case _ => Left(sample.unfolded(sd, "a from-sample binning"))
          }
        picked.flatMap { case (entries, lastBatchId) =>
          val vals = entries.flatMap(_.value).filter(java.lang.Double.isFinite)
          // folded, but nothing to bin: a configuration category
          if (vals.isEmpty)
            Left((422, err("the folded sample carries no finite values — it " +
              "was folded without a valueCol (or every value is " +
              "null/NaN/Inf); re-fold the sample with the column the " +
              "histogram will bin")))
          else {
            // the ONE derive arithmetic, shared with the DataFrame face
            // and ingestAutoBinned so the entry points cannot drift
            val spec = HistogramSketch.fromValues(vals, nBins, coverage)
            val n = obj()
            n.put("lo", spec.lo)
            n.put("hi", spec.hi)
            n.put("n_bins", spec.nBins)
            n.put("value_resolution", spec.width)
            n.put("coverage", coverage)
            n.put("sample_values", vals.size)
            n.put("sample_last_batch_id", lastBatchId)
            Right((200, n))
          }
        }.merge
      }
    }

  private def floats(n: JsonNode): Array[Float] =
    if (n == null || !n.isArray) Array.empty
    else n.elements().asScala.map(_.floatValue()).toArray

  private def record(n: JsonNode): VectorStore.VectorRecord = {
    val id = Option(n.get("id")).map(_.asText())
      .getOrElse(throw new IllegalArgumentException("'id' required"))
    val vec = floats(n.get("vector"))
    if (vec.isEmpty) throw new IllegalArgumentException("Vector cannot be empty")
    VectorStore.VectorRecord(id, vec,
      Option(n.get("metadata")).filter(!_.isNull).map(mapper.writeValueAsString))
  }

  /** Route + JSON-error envelope: IllegalArgument -> 400 (the reference's
    * bad_request), anything else -> 500 {"error": ...}. */
  private def handle(ex: HttpExchange)(
      route: PartialFunction[(String, String), (Int, ObjectNode)]): Unit = {
    val key = (ex.getRequestMethod, ex.getRequestURI.getPath)
    val (status, node) =
      try route.applyOrElse(key,
        (_: (String, String)) => (404, err(s"no route: $key")))
      catch {
        case e: IllegalArgumentException => (400, err(e.getMessage))
        case NonFatal(e) => (500, err(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    val bytes = mapper.writeValueAsBytes(node)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}

// the profiling faces' ladder rungs and verify twin (RestServer's admin
// route template)

/** Where a face's selection ladder landed. */
private[serve] sealed trait Rung[+F, +G, +W]
private[serve] final case class FlatRung[F](st: F) extends Rung[F, Nothing, Nothing]
private[serve] final case class GroupedRung[G](st: G)
  extends Rung[Nothing, G, Nothing]
private[serve] final case class WindowedRung[W](st: W)
  extends Rung[Nothing, Nothing, W]
/** Nothing folded on any rung: the flat reader's empty snapshot. */
private[serve] final case class Unfolded[F](st: F) extends Rung[F, Nothing, Nothing]

/** A face's verify twin: the operator-configured source corpus, the
  * columns the recount reads (`groupCol` only on the grouped rung), the
  * constructor parameters naming them, and the recount of each
  * verifiable rung, written into the envelope's `verify` object. */
private[serve] final case class Twin[F, G](sourceDir: Option[String],
    groupCol: String, cols: Seq[String], colParams: String,
    flat: (ObjectNode, F, DataFrame) => Unit,
    grouped: (ObjectNode, G, DataFrame) => Unit)

/** `runMain graft.serve.ServeMain <storePath> [port] [wsPort]` — standalone
  * server (wsPort: the RFC 6455 `/api/v1/updates/ws` companion listener;
  * 0/omitted = ephemeral). */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/tmp/graft_store")
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val wsPort = args.lift(2).map(_.toInt).getOrElse(0)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .appName("graft-serve")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // env-wired optional surfaces (the operator-config posture: routes
    // stay disabled-404 unless explicitly pointed at a path) — without
    // these the standalone entrypoint could never enable the backup
    // route or the streaming-profile monitors (frequent-items r13,
    // histogram r14-15, sample r15-16) at all
    val backupBase = sys.env.get("SPARK_GRAFT_BACKUP_BASE")
    val fiStateDir = sys.env.get("SPARK_GRAFT_FREQUENT_ITEMS_STATE")
    val fiSourceDir = sys.env.get("SPARK_GRAFT_FREQUENT_ITEMS_SOURCE")
    val histStateDir = sys.env.get("SPARK_GRAFT_HISTOGRAM_STATE")
    val histSourceDir = sys.env.get("SPARK_GRAFT_HISTOGRAM_SOURCE")
    val sampleStateDir = sys.env.get("SPARK_GRAFT_SAMPLE_STATE")
    val sampleSourceDir = sys.env.get("SPARK_GRAFT_SAMPLE_SOURCE")
    val momentsStateDir = sys.env.get("SPARK_GRAFT_MOMENTS_STATE")
    val momentsSourceDir = sys.env.get("SPARK_GRAFT_MOMENTS_SOURCE")
    val distinctStateDir = sys.env.get("SPARK_GRAFT_DISTINCT_STATE")
    val distinctSourceDir = sys.env.get("SPARK_GRAFT_DISTINCT_SOURCE")
    val comomentsStateDir = sys.env.get("SPARK_GRAFT_COMOMENTS_STATE")
    val comomentsSourceDir = sys.env.get("SPARK_GRAFT_COMOMENTS_SOURCE")
    // the recount/verify faces read the COLUMNS the ingests folded —
    // without these the standalone server could never verify a fold
    // ingested with non-default column names (or a value-carrying
    // sample at all: values_matched would false-alarm forever)
    val srv = new RestServer(new VectorStore(spark, path), port,
      backupBase = backupBase, wsPort = wsPort,
      frequentItemsStateDir = fiStateDir,
      frequentItemsSourceDir = fiSourceDir,
      histogramStateDir = histStateDir,
      histogramSourceDir = histSourceDir,
      histogramGroupCol =
        sys.env.getOrElse("SPARK_GRAFT_HISTOGRAM_GROUP_COL", "event_type"),
      histogramValueCol =
        sys.env.getOrElse("SPARK_GRAFT_HISTOGRAM_VALUE_COL", "value"),
      sampleStateDir = sampleStateDir,
      sampleSourceDir = sampleSourceDir,
      sampleGroupCol =
        sys.env.getOrElse("SPARK_GRAFT_SAMPLE_GROUP_COL", "source"),
      sampleIdCol =
        sys.env.getOrElse("SPARK_GRAFT_SAMPLE_ID_COL", "doc_id"),
      sampleValueCol =
        sys.env.get("SPARK_GRAFT_SAMPLE_VALUE_COL"),
      momentsStateDir = momentsStateDir,
      momentsSourceDir = momentsSourceDir,
      momentsGroupCol =
        sys.env.getOrElse("SPARK_GRAFT_MOMENTS_GROUP_COL", "source"),
      momentsValueCol =
        sys.env.getOrElse("SPARK_GRAFT_MOMENTS_VALUE_COL", "value"),
      distinctStateDir = distinctStateDir,
      distinctSourceDir = distinctSourceDir,
      distinctGroupCol =
        sys.env.getOrElse("SPARK_GRAFT_DISTINCT_GROUP_COL", "source"),
      distinctValueCol =
        sys.env.getOrElse("SPARK_GRAFT_DISTINCT_VALUE_COL", "value"),
      comomentsStateDir = comomentsStateDir,
      comomentsSourceDir = comomentsSourceDir,
      comomentsGroupCol =
        sys.env.getOrElse("SPARK_GRAFT_COMOMENTS_GROUP_COL", "source"),
      comomentsXCol =
        sys.env.getOrElse("SPARK_GRAFT_COMOMENTS_X_COL", "x"),
      comomentsYCol =
        sys.env.getOrElse("SPARK_GRAFT_COMOMENTS_Y_COL", "y")).start()
    println(s"graft serving on :${srv.boundPort} " +
      s"(ws :${srv.boundWsPort}, store: $path" +
      fiStateDir.map(d => s", frequent-items: $d").getOrElse("") +
      histStateDir.map(d => s", histogram: $d").getOrElse("") +
      sampleStateDir.map(d => s", sample: $d").getOrElse("") +
      momentsStateDir.map(d => s", moments: $d").getOrElse("") +
      distinctStateDir.map(d => s", distinct: $d").getOrElse("") +
      comomentsStateDir.map(d => s", comoments: $d").getOrElse("") +
      backupBase.map(b => s", backups under: $b").getOrElse("") + ")")
    Thread.currentThread().join()
  }
}
