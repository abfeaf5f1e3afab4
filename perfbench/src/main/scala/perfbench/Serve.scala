package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.api.ArchiveApi
import graft.functions.TimeFns
import graft.operators.Catalog
import graft.server.{HttpShim, Json}
import graft.sources.EventsArchiveAdapter

/** One request of a generated list (see gen.py). */
final class Req(val spec: Map[String, Any]) {
  val id: Int = Json.num(spec("id")).toInt
  val route: String = Json.str(spec("route"))
  val repeatOf: Option[Int] = spec.get("repeat_of").map(v => Json.num(v).toInt)
  val csv: Boolean = spec.get("csv").contains(true)
  def body: Map[String, Any] = Json.obj(spec("body"))
}

/** What happened to one sent request, plus what its response said that
  * the output checks need. */
final class Rec(val req: Req, val phase: String) {
  var startNs = 0L
  var endNs = 0L
  var status = 0
  var wireBytes = 0L
  var etagSent = false
  var error: String = null
  var facts: Map[String, Any] = Map.empty

  def done: Boolean = endNs != 0L

  def toJson(originNs: Long): Map[String, Any] = Map(
    "id" -> req.id.toDouble, "route" -> req.route, "phase" -> phase,
    "start_ms" -> Main.ms(originNs, startNs),
    "end_ms" -> (if (done) Main.ms(originNs, endNs) else null),
    "latency_ms" -> (if (done) Main.ms(startNs, endNs) else null),
    "status" -> status.toDouble, "wire_bytes" -> wireBytes.toDouble,
    "etag_sent" -> etagSent,
    "repeat_of" -> req.repeatOf.map(_.toDouble).getOrElse(null),
    "error" -> error) ++ facts
}

/** The viewer and export workloads: boot [[HttpShim]] over the
  * generated archive, warm it, and drive it with the JDK HttpClient,
  * two clients in a closed loop: two of the shim's four handler
  * threads busy at all times. */
object Serve {
  val RequestTimeout: Duration = Duration.ofSeconds(90)

  final class Target(spark: SparkSession, dir: String) {
    val adapter = new EventsArchiveAdapter(spark, dir)
    val shim = new HttpShim(spark, adapter.pointsAll, adapter.attConf,
      adapter.attNames)
    shim.start()
    val base = s"http://127.0.0.1:${shim.boundPort}"
  }

  def run(spark: SparkSession, mode: String, opts: Map[String, String],
      trace: Boolean, seconds: Double, heap: HeapWatch): Map[String, Any] = {
    val archive = opts("archive")
    val reqs = Main.readLines(opts("requests")).map(new Req(_))
    val warm = Main.readLines(opts("warmup")).map(new Req(_))
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()

    // set-up, three times: adapter + shim + one request of every route.
    // Each round clears Spark's cache and opens the archive under a new
    // spelling of its path, so the adapter's per-directory catalog
    // persist is rebuilt every round — set-up work cannot hide in a
    // cache the previous round filled
    val setups = ArrayBuffer[Double]()
    var target: Target = null
    for (i <- 0 until 3) {
      if (target != null) target.shim.stop()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      target = new Target(spark, archive + "/." * i)
      warm.foreach { r =>
        val rec = send(client, target.base, new Rec(r, "warmup"), None)
        System.err.println(f"[perfbench] set-up $i ${r.route} ${rec.status} " +
          f"${Main.ms(rec.startNs, rec.endNs)}%.0f ms")
        if (rec.status != 200)
          throw new IllegalStateException(
            s"warm-up ${r.route} answered ${rec.status}: ${rec.error}")
      }
      setups += (System.nanoTime() - t0) / 1e9
    }
    heap.sample()

    val origin = System.nanoTime()
    val cpu0 = Main.processCpuNs()
    val (recs, extra) =
      if (!trace) {
        (closedLoop(client, target.base, reqs, 2, seconds, opts("block").toInt),
          Map.empty[String, Any])
      } else traced(spark, client, target, reqs, seconds)
    val windowNs = recs.filter(_.done).map(_.endNs).maxOption
      .getOrElse(System.nanoTime()) - origin
    val cpuNs = Main.processCpuNs() - cpu0
    heap.sample()
    target.shim.stop()
    Map(
      "mode" -> mode,
      "setup_runs_s" -> setups.toSeq,
      "window_s" -> windowNs / 1e9,
      "cpu_s" -> cpuNs / 1e9,
      "requests" -> recs.map(_.toJson(origin))) ++ extra
  }

  // ---------------------------------------------------------------- load

  /** Closed loop: `clients` threads each send the next request of the
    * list as soon as their previous one is answered. Sending stops at
    * the first multiple of `block` requests reached after `seconds`
    * (at least one block), so a run always sends whole blocks of the
    * list; requests begun run to completion.
    * A pan-return repeat carries the ETag of the answer it repeats when
    * that answer has arrived. */
  def closedLoop(client: HttpClient, base: String, reqs: Seq[Req],
      clients: Int, seconds: Double, block: Int): Seq[Rec] = {
    var next = 0
    var stopped = false
    val out = new ConcurrentHashMap[Int, Rec]()
    val etags = new ConcurrentHashMap[Int, String]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    def take(): Option[Int] = synchronized {
      if (next % block == 0 && next > 0 && System.nanoTime() >= end) stopped = true
      if (stopped || next >= reqs.size) None
      else { next += 1; Some(next - 1) }
    }
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var i = take()
        while (i.isDefined) {
          out.put(i.get, send(client, base, new Rec(reqs(i.get), "timed"), Some(etags)))
          i = take()
        }
      })
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    (0 until out.size).map(out.get)
  }

  // ------------------------------------------------------------- tracing

  /** Traced run, at concurrency 1. The list's first k requests (as many
    * as fit an eighth of the run's seconds, 2 to 4) go out untraced; then the
    * first 2k go out with [[Tracer]] attached, each HTTP call followed
    * by a direct [[ArchiveApi]] call with the same arguments; then
    * requests k..2k untraced. Every request is timed once untraced and
    * once traced, half of them in each order, for
    * `trace.overhead_share`. */
  def traced(spark: SparkSession, client: HttpClient, target: Target,
      reqs: Seq[Req], seconds: Double): (Seq[Rec], Map[String, Any]) = {
    val plain = ArrayBuffer[Rec]()
    val etagsU = new ConcurrentHashMap[Int, String]()
    def untraced(i: Int): Unit =
      plain += send(client, target.base, new Rec(reqs(i), "untraced"), Some(etagsU))
    val endU = System.nanoTime() + (seconds * 1e9 / 8).toLong
    while (plain.size < 4 && (System.nanoTime() < endU || plain.size < 2))
      untraced(plain.size)
    val k = plain.size

    val tracer = new Tracer(spark)
    val storage = new StoragePeak(spark)
    tracer.attach()
    val etagsT = new ConcurrentHashMap[Int, String]()
    val tracedRecs = ArrayBuffer[Rec]()
    val spans = ArrayBuffer[Span]()
    (0 until 2 * k).foreach { i =>
      val r = reqs(i)
      val h0 = System.currentTimeMillis()
      val rec = send(client, target.base, new Rec(r, "traced"), Some(etagsT))
      spans += Span(s"http-$i", r.route, h0, System.currentTimeMillis(),
        Main.ms(rec.startNs, rec.endNs))
      tracedRecs += rec
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.SpanKey, s"api-$i")
      val d0 = System.nanoTime(); val d0w = System.currentTimeMillis()
      try direct(target.adapter, r)
      finally sc.setLocalProperty(Tracer.SpanKey, null)
      spans += Span(s"api-$i", r.route, d0w, System.currentTimeMillis(),
        Main.ms(d0, System.nanoTime()))
    }
    tracer.detach()
    storage.stop()
    (k until 2 * k).foreach(untraced)
    val layers = tracer.serveLayers(spans.toSeq, tracedRecs.toSeq,
      plain.toSeq) + ("cache.persisted_bytes_peak" -> storage.peak.toDouble)
    (plain.toSeq ++ tracedRecs, Map("layers" -> layers))
  }

  /** The route's library call, with the arguments HttpShim would pass. */
  def direct(ad: EventsArchiveAdapter, r: Req): Unit = r.route match {
    case "image" =>
      val b = r.body
      val attrs = Json.arr(b("attributes")).map { a =>
        val o = Json.obj(a)
        ArchiveApi.AttrSpec(Json.str(o("name")),
          Integer.parseInt(Json.str(o("color")).stripPrefix("#"), 16),
          Json.num(o("y_axis")).toInt)
      }
      val tr = Json.arr(b("time_range"))
      val size = Json.arr(b("size"))
      val axes = b.get("axes").map(Json.obj).getOrElse(Map.empty).map {
        case (k, v) => k.toInt -> ArchiveApi.AxisSpec(
          Json.obj(v).get("scale").map(Json.str))
      }
      ArchiveApi.imageQuery(ad.pointsAll, attrs, TimeFns.parseNaiveUtc(Json.str(tr(0))),
        TimeFns.parseNaiveUtc(Json.str(tr(1))), Json.num(size(0)).toInt,
        Json.num(size(1)).toInt, axes,
        antialias = b.get("antialias").contains(true))
    case "query" | "httpquery" =>
      val b = r.body
      val (targets, t0, t1) =
        if (r.route == "query") {
          val range = Json.obj(b("range"))
          (Json.arr(b("targets")).map(t => Json.str(Json.obj(t)("target"))),
            Json.str(range("from")), Json.str(range("to")))
        } else {
          val tr = Json.arr(b("time_range"))
          (Json.arr(b("attributes")).map(Json.str), Json.str(tr(0)), Json.str(tr(1)))
        }
      ArchiveApi.rawQuery(ad.pointsAll, targets, TimeFns.parseNaiveUtc(t0),
        TimeFns.parseNaiveUtc(t1), b.get("interval").map(Json.str),
        asCsv = r.csv)
    case "attributes" =>
      val q = Json.obj(r.spec("query"))
      ArchiveApi.attributes(ad.attNames, Json.str(q("cs")), Json.str(q("search")),
        Json.num(q("max")).toInt).collect()
    case "search" =>
      val b = r.body
      Catalog.searchSubstring(ad.attNames.where(col("cs_name") === Json.str(b("cs"))),
        Json.str(b("target"))).collect()
    case "health" | "controlsystems" => ()
  }

  // ---------------------------------------------------------------- wire

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  def httpRequest(base: String, r: Req): HttpRequest.Builder = {
    val b = HttpRequest.newBuilder().timeout(RequestTimeout)
      .header("Accept-Encoding", "gzip")
    def post(path: String) = b.uri(URI.create(base + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(Json.write(r.spec("body"))))
    r.route match {
      case "health" | "controlsystems" => b.uri(URI.create(s"$base/${r.route}")).GET()
      case "attributes" =>
        val q = Json.obj(r.spec("query"))
        b.uri(URI.create(s"$base/attributes?cs=${enc(Json.str(q("cs")))}" +
          s"&search=${enc(Json.str(q("search")))}&max=${Json.num(q("max")).toInt}")).GET()
      case "search" | "image" | "httpquery" => post("/" + r.route)
      case "query" =>
        post("/query").header("Accept", if (r.csv) "text/csv" else "application/json")
    }
  }

  /** Send one request and inspect its answer. Never throws: failures
    * land in `rec.error`, and the checks in run.py count them. */
  def send(client: HttpClient, base: String, rec: Rec,
      etags: Option[ConcurrentHashMap[Int, String]]): Rec = {
    try {
      val b = httpRequest(base, rec.req)
      for (m <- etags; src <- rec.req.repeatOf; tag <- Option(m.get(src))) {
        b.header("If-None-Match", tag); rec.etagSent = true
      }
      val request = b.build()
      rec.startNs = System.nanoTime()
      val resp = client.send(request, HttpResponse.BodyHandlers.ofByteArray())
      rec.endNs = System.nanoTime()
      rec.status = resp.statusCode()
      val raw = resp.body()
      rec.wireBytes = raw.length
      val gz = resp.headers().firstValue("Content-Encoding").orElse("") == "gzip"
      val body = if (gz) new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(raw)).readAllBytes() else raw
      for (m <- etags; tag <- Option(resp.headers().firstValue("ETag").orElse(null)))
        m.put(rec.req.id, tag)
      if (rec.status == 200) rec.facts = inspect(rec.req, new String(body, UTF_8))
    } catch {
      case e: Throwable =>
        if (rec.endNs == 0L && rec.startNs != 0L) rec.endNs = System.nanoTime()
        rec.error = e.toString
    }
    rec
  }

  /** Parse a 200 answer into the facts run.py checks: decoded PNG
    * sizes and hover totals for /image, series row counts for exports,
    * the returned names for catalog routes. */
  def inspect(r: Req, text: String): Map[String, Any] = r.route match {
    case "image" =>
      val o = Json.obj(Json.parse(text))
      val axes = Json.obj(o("images")).map { case (axis, v) =>
        val png = java.util.Base64.getDecoder.decode(Json.str(Json.obj(v)("image")))
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
        axis -> (if (img == null) Seq(-1.0, -1.0)
          else Seq(img.getWidth.toDouble, img.getHeight.toDouble))
      }
      val totals = Json.obj(o("descs")).map { case (name, d) =>
        name -> Json.num(Json.obj(d)("total_points"))
      }
      Map("axes" -> axes, "totals" -> totals, "points" -> totals.values.sum)
    case "query" | "httpquery" =>
      val series = if (r.csv) csvSeries(text) else Json.arr(Json.parse(text)).map { s =>
        val o = Json.obj(s)
        val dps = Json.arr(o("datapoints"))
        dps.foreach { p =>
          val pair = Json.arr(p)
          require(pair.size == 2 && pair(1).isInstanceOf[Double], s"bad datapoint $p")
        }
        Seq(Json.str(o("target")), dps.size.toDouble)
      }
      Map("series" -> series, "rows" -> series.map(_(1).asInstanceOf[Double]).sum)
    case "attributes" =>
      Map("names" -> Json.arr(Json.obj(Json.parse(text))("attributes")))
    case "search" => Map("names" -> Json.arr(Json.parse(text)))
    case _ => Map.empty
  }

  /** CSV blocks: a name line, the `t[us],value_r` header, then rows
    * `t,v` (v empty for NaN) up to a blank line. */
  def csvSeries(text: String): Seq[Seq[Any]] = {
    val out = ArrayBuffer[Seq[Any]]()
    val lines = text.split("\n", -1)
    var i = 0
    while (i < lines.length && lines(i).nonEmpty) {
      val name = lines(i)
      require(lines(i + 1) == "t[us],value_r", s"bad CSV header after $name")
      i += 2
      var n = 0
      while (i < lines.length && lines(i).nonEmpty) {
        val l = lines(i)
        val c = l.indexOf(',')
        l.substring(0, c).toDouble
        if (c + 1 < l.length) l.substring(c + 1).toDouble
        n += 1; i += 1
      }
      out += Seq(name, n.toDouble)
      i += 1
    }
    out.toSeq
  }
}
