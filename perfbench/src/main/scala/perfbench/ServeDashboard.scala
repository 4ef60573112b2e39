package perfbench

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Model, PromEngine}
import graft.queries.TsQueries
import graft.server.PromApi

/** `serve_dashboard`: closed-loop dashboard traffic against an in-process
  * `PromApi` over the cached events collection plus the `events_native`
  * histograms, built the way `graft.Serve <dir> 0 --native-histograms 2`
  * builds them. One client first (solo), then one client per core (conc). */
object ServeDashboard {
  final case class QR(query: String, start: Double, end: Double, step: Double)
  /** `panel` is the panel index of a first (not refreshed) panel request. */
  final case class Req(kind: String, uri: String, qr: Option[QR], panel: Int = -1)
  final case class Done(idx: Int, kind: String, ms: Double, ok: Boolean, bytes: Int,
                        traced: Boolean = false)

  val Block = 20
  /** Panels whose served matrix is checked in a run, chosen by the seed. */
  val MatrixChecks = 3

  private val Types = Seq("click", "error", "purchase", "signup", "view")
  private val Day = 86400.0

  /** The dashboard: each panel's query, window length and step. */
  private val Panels: Seq[((String, Int) => String, Double, Double)] = Seq(
    ((t, _) => s"""rate(events{event_type="$t"}[1h])""", Day, 300.0),
    ((_, _) => "sum by (event_type) (rate(events[1h]))", 7 * Day, 3600.0),
    ((t, _) => s"""histogram_quantile(0.9, events_native{event_type="$t"})""", Day, 300.0),
    ((_, _) => "topk(3, events)", Day, 3600.0),
    ((t, _) => s"""avg_over_time(events{event_type="$t"}[1h])""", 7 * Day, 3600.0),
    ((t, k) => s"""events{event_type="$t",props="{\\"k\\": $k}"}""", Day, 60.0))

  /** The seeded request stream, in blocks of 20 with the same mix: 14
    * query_range (the six panels plus a second single-series panel, and
    * seven refreshes: each of those panels again, shifted by one step), 4
    * metadata requests and 2 `/` health probes. The seed picks the time
    * window of every panel, its matcher values and the request order (a
    * refresh always after its panel). */
  final class Traffic(seed: Long) {
    private val rnd = new java.util.Random(seed)
    private val pending = scala.collection.mutable.Queue.empty[Req]

    private def panel(p: Int): QR = {
      val (q, w, step) = Panels(p)
      val start = TsQueries.GridStart + rnd.nextInt(30 - (w / Day).toInt) * Day
      QR(q(Types(rnd.nextInt(Types.size)), rnd.nextInt(100)), start, start + w, step)
    }

    private def queryRange(qr: QR, panel: Int = -1): Req =
      Req("query_range", "/api/v1/query_range?" + enc(Seq("query" -> qr.query,
        "start" -> fmt(qr.start), "end" -> fmt(qr.end), "step" -> fmt(qr.step))), Some(qr), panel)

    private def block(): Seq[Req] = {
      val panels = Panels.indices :+ (Panels.size - 1)
      val fresh = panels.map(panel)
      val refreshes = fresh.map(h => h.copy(start = h.start + h.step, end = h.end + h.step))
      val meta = Seq(Req("labels", "/api/v1/labels", None),
        Req("label_values", "/api/v1/label/event_type/values", None)) ++
        Seq.fill(2)(Req("series", "/api/v1/series?" +
          enc(Seq("match[]" -> s"""events{event_type="${Types(rnd.nextInt(Types.size))}"}""")), None))
      val health = Seq.fill(2)(Req("health", "/", None))
      val items = fresh.zip(panels).map { case (q, p) => queryRange(q, p) } ++
        refreshes.map(queryRange(_)) ++ meta ++ health
      val order = new scala.util.Random(rnd.nextLong()).shuffle(items.indices.toVector).toArray
      // item j < 7 is a panel and j + 7 its refresh: swap any refresh that
      // would be sent before its panel
      val pos = Array.fill(items.size)(0)
      order.zipWithIndex.foreach { case (j, at) => pos(j) = at }
      fresh.indices.foreach { j =>
        if (pos(j + fresh.size) < pos(j)) {
          val (a, b) = (pos(j), pos(j + fresh.size))
          order(a) = j + fresh.size; order(b) = j
          pos(j) = b; pos(j + fresh.size) = a
        }
      }
      order.toSeq.map(items)
    }

    def next(): Req = {
      if (pending.isEmpty) pending ++= block()
      pending.dequeue()
    }

    /** One request of every shape in a block (no refreshes), for warm-up. */
    def shapes(): Seq[Req] = block().distinctBy(r => r.qr.map(_.query.take(12)).getOrElse(r.kind))
  }

  private def enc(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => URLEncoder.encode(k, "UTF-8") + "=" + URLEncoder.encode(v, "UTF-8") }.mkString("&")

  /** The server's number format (integers without a fraction). */
  def fmt(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString else d.toString

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def get(uri: String): (Int, String) = {
      val r = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$uri")).GET().build(),
        HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      (r.statusCode(), r.body())
    }
  }

  private def okBody(kind: String, code: Int, body: String): Boolean =
    code == 200 && (if (kind == "health") body.startsWith("Got ")
                    else body.startsWith("{\"status\": \"success\""))

  final case class Served(engine: PromEngine, api: PromApi, frames: Seq[DataFrame])

  def build(c: Ctx): Served = {
    val spark = c.spark
    val cached = TsQueries.events(spark, c.dataDir).cache()
    val samples = TsQueries.rawEvents(spark, c.dataDir).select(
      col("event_type"),
      (floor(col("ts") / 3600.0) * 3600.0).as(Model.TsCol),
      col("value").as(Model.ValueCol))
      .withColumn(Model.LabelsCol, map(
        lit(Model.NameLabel), lit("events_native"),
        lit("event_type"), col("event_type")))
      .drop("event_type")
    val nh = graft.operators.NativeHistogram.fromSamples(Model.withSkey(samples), 2).cache()
    val engine = new PromEngine(cached, nativeHistograms = Map("events_native" -> nh))
    val api = new PromApi(engine, 0).start()
    val (code, body) = new Client(api.boundPort).get("/")
    require(code == 200 && body == "Got 300000 time series", s"server not ready: $code $body")
    nh.count()
    Served(engine, api, Seq(cached, nh))
  }

  def run(c: Ctx): Result = {
    val (srv, setupS) = Layers.repeatedSetup(3) { (s: Served) =>
      s.api.stop(); s.frames.foreach(_.unpersist(true))
    }(build(c))
    try measure(c, srv, setupS) finally srv.api.stop()
  }

  /** A traced solo request: its root span, the HTTP span under it, and the
    * direct parse and eval calls made before the send. */
  private final case class TracedReq(root: Span, http: Span, parseUs: Double, evalMs: Double)

  private def measure(c: Ctx, srv: Served, setupS: Double): Result = {
    val port = srv.api.boundPort
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def lap(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
    }
    // correctness sample: the reply to the first request of each of a
    // seeded choice of panels in the solo phase, checked after the timed
    // phases
    val checkPanels = new scala.util.Random(c.seed).shuffle(Panels.indices.toList).take(MatrixChecks).toSet
    val kept = new java.util.concurrent.ConcurrentHashMap[Int, (QR, String)]()

    def get(cl: Client, r: Req): (Int, String) =
      try cl.get(r.uri) catch { case e: Exception => (-1, e.toString) }

    def plain(keep: Boolean)(cl: Client, i: Int, r: Req): Seq[Done] = {
      val s = System.nanoTime()
      val (code, body) = get(cl, r)
      val ms = (System.nanoTime() - s) / 1e6
      val ok = okBody(r.kind, code, body)
      if (keep && ok && checkPanels(r.panel)) kept.putIfAbsent(r.panel, (r.qr.get, body))
      Seq(Done(i, r.kind, ms, ok, body.length))
    }

    /** Closed loop over the phase's own request stream: each client sends
      * its next request when the previous reply arrived. The phase runs
      * whole blocks: at least one, and another only while the blocks so far
      * say it will end within `secs`. */
    def phase(stream: Long, clients: Int, secs: Double)
             (send: (Client, Int, Req) => Seq[Done]): (Seq[Done], Double) = {
      val traffic = new Traffic(stream)
      val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
      var issued = 0
      val t0 = System.nanoTime()
      def grab(): Option[(Int, Req)] = synchronized {
        val elapsed = (System.nanoTime() - t0) / 1e9
        if (issued > 0 && issued % Block == 0 && elapsed * (1 + Block.toDouble / issued) > secs) None
        else { issued += 1; Some((issued - 1, traffic.next())) }
      }
      val threads = (1 to clients).map { _ =>
        new Thread(() => {
          val cl = new Client(port)
          Iterator.continually(grab()).takeWhile(_.isDefined).flatten.foreach { case (i, r) =>
            send(cl, i, r).foreach(done.add)
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (done.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    // warm-up: every request shape once, from an unrelated stream, untimed
    val warm = new Client(port)
    new Traffic(c.seed + 1000003).shapes().foreach(r => warm.get(r.uri))
    lap("warm")

    val share = c.seconds / 2
    val layers = ArrayBuffer.empty[Metric]
    val solo = if (!c.trace) phase(c.seed, 1, share)(plain(keep = true))._1 else {
      // traced solo phase: every request is sent twice, plainly and traced,
      // the two in turn first, so both see the same requests in the same
      // state. A traced send makes the direct parse and eval calls first,
      // then sends with the Spark listeners attached; only the send is timed
      // and the Spark records are attributed to its HTTP span.
      val rec = new SparkRecorder(c.spark)
      val tr = c.tracer
      val roots = new java.util.concurrent.ConcurrentLinkedQueue[TracedReq]()
      def traced(cl: Client, i: Int, r: Req): Done = {
        val rootId = tr.newId()
        val t0 = Clock.us
        var parseUs = 0.0
        var evalMs = 0.0
        r.qr.foreach { q =>
          val (_, ps) = tr.span("promql.parse", rootId, rootId)(graft.promql.Parser.parse(q.query))
          val (_, es) = tr.span("promql.eval", rootId, rootId)(
            srv.engine.queryRange(q.query, q.start, q.end, q.step))
          parseUs = ps.durUs.toDouble
          evalMs = es.durUs / 1000.0
        }
        rec.attach()
        val ((code, body), http) = tr.span("http", rootId, rootId)(get(cl, r))
        rec.detach()
        val root = tr.add(Span(rootId, 0, rootId, "request:" + r.kind, t0, Clock.us))
        roots.add(TracedReq(root, http, parseUs, evalMs))
        Done(i, r.kind, http.durUs / 1000.0, okBody(r.kind, code, body), body.length, traced = true)
      }
      val gc0 = Jvm.gcMs()
      val (d, _) = phase(c.seed, 1, share) { (cl, i, r) =>
        if (i % 2 == 0) plain(keep = true)(cl, i, r) :+ traced(cl, i, r)
        else { val t = traced(cl, i, r); plain(keep = true)(cl, i, r) :+ t }
      }
      val gcMs = Jvm.gcMs() - gc0
      val rs = roots.asScala.toSeq
      val att = Attributed(rec, tr, rs.map(_.http))
      val selfMs = rs.map(t => tr.selfUs(t.http, tr.children(t.http.id)) / 1000.0 - t.parseUs / 1000.0 - t.evalMs)
      val qrs = rs.filter(_.root.name == "request:query_range")
      val health = rs.filter(_.root.name == "request:health").map(_.http.durUs / 1000.0)
      val (tDone, pDone) = d.partition(_.traced)
      val plainMs = pDone.map(x => x.idx -> x.ms).toMap
      layers ++= Seq(
        Metric("server.self_ms", Stats.median(selfMs), "ms"),
        Metric("server.resp_bytes", Stats.median(tDone.map(_.bytes.toDouble)), "bytes"),
        Metric("server.health_ms", Stats.median(health), "ms"),
        Metric("server.spark_jobs_per_req", att.values.map(_.jobs).sum.toDouble / rs.size, "count"),
        Metric("promql.parse_us", Stats.median(qrs.map(_.parseUs)), "us"),
        Metric("promql.eval_ms", Stats.median(qrs.map(_.evalMs)), "ms"),
        Metric("jvm.gc_ms", gcMs.toDouble / d.size, "ms"),
        Metric("trace_overhead_ratio", Stats.median(tDone.map(t => t.ms / plainMs(t.idx))), "ratio"))
      layers ++= Layers.spark(att.values, rs.size, rs.map(_.http.durUs / 1000.0).sum, c.cores)
      pDone
    }
    val soloMs = solo.map(_.ms)
    lap("solo")

    val (conc, concWall) = phase(c.seed + 1, c.cores, share)(plain(keep = false))
    val concMs = conc.map(_.ms)
    lap("conc")
    if (c.trace) layers += Metric("server.queue_ms", Stats.median(concMs) - Stats.median(soloMs), "ms")

    // correctness of the kept replies, outside the timed phases; a panel
    // without a kept reply counts as failed
    val checked = kept.asScala.toSeq.map { case (_, (q, body)) => sameMatrix(srv.engine, q, body) }
    lap("checks")
    val all = solo ++ conc
    val failed = all.count(!_.ok) + checked.count(!_) + (MatrixChecks - checked.size)
    val (soloP, soloTail) = Stats.tail(soloMs)
    val (concP, concTail) = Stats.tail(concMs)
    val e2e = Seq(
      Metric("serve_solo_mean_ms", Stats.mean(soloMs), "ms"),
      Metric("serve_solo_p50_ms", Stats.median(soloMs), "ms"),
      Metric("serve_solo_tail_ms", soloTail, "ms"),
      Metric("serve_conc_qps", conc.size / concWall, "1/s"),
      Metric("serve_conc_p50_ms", Stats.median(concMs), "ms"),
      Metric("serve_conc_tail_ms", concTail, "ms"))
    def byKind(d: Seq[Done]) = d.groupBy(_.kind).map { case (k, v) => k -> Stats.median(v.map(_.ms)) }
    Result(setupS, e2e, layers.toSeq, all.size + MatrixChecks, failed, Seq(
      "solo_requests" -> solo.size, "conc_requests" -> conc.size, "conc_clients" -> c.cores,
      "serve_solo_tail_pct" -> soloP, "serve_conc_tail_pct" -> concP,
      "solo_ms_in_order" -> solo.sortBy(_.idx).map(d => math.round(d.ms)),
      "phase_s" -> phases.toSeq,
      "solo_p50_ms_by_kind" -> byKind(solo), "conc_p50_ms_by_kind" -> byKind(conc),
      "matrix_check_panels" -> checkPanels.toSeq.sorted, "matrix_checks" -> checked.size, "matrix_check_failures" -> checked.count(!_),
      "request_mix" -> all.groupBy(_.kind).map { case (k, v) => k -> v.size }))
  }

  /** The served matrix equals `PromEngine.queryRange(...).collect()`. */
  def sameMatrix(engine: PromEngine, q: QR, body: String): Boolean = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    val served = node.get("data").get("result").elements().asScala.flatMap { s =>
      val labels = s.get("metric").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toSeq.sorted
      s.get("values").elements().asScala.map(v => (labels, v.get(0).asDouble(), v.get(1).asText()))
    }.toSeq
    val expected = engine.queryRange(q.query, q.start, q.end, q.step).collect().toSeq.map { r =>
      (r.getMap[String, String](0).toSeq.sorted, r.getDouble(1), fmt(r.getDouble(2)))
    }
    def key(t: (Seq[(String, String)], Double, String)) = (t._1.mkString(","), t._2, t._3)
    served.map(key).sorted == expected.map(key).sorted
  }
}
