package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.ArchiveApi
import graft.functions.TimeFns
import graft.operators.Catalog

/** HTTP tier over the library façade, mirroring the reference server's
  * route table (`server.py:260-296`): GET /health, GET /controlsystems,
  * GET /attributes, POST /image, POST /query, POST /search,
  * POST /httpquery. Built on the JDK's `com.sun.net.httpserver` — the
  * engine ships zero extra dependencies, and the HTTP tier is a thin
  * shim by design: every route body is one [[ArchiveApi]] call, so the
  * serving layer adds parsing/encoding only (SURVEY scoped the server
  * OUT of the engine; this closes the gap a reference user hits first).
  *
  * Execution model: requests run Spark actions on the driver; the
  * cluster parallelism lives in the queries themselves, exactly as in
  * library use. The handler pool is small and the shim is stateless —
  * horizontal scale-out is N shims over one long-lived SparkSession
  * each (the reference runs one aiohttp process with a thread pool,
  * `server.py:283`).
  *
  * Documented divergences from the reference:
  *  - target addressing: `att_name` carries no control-system prefix
  *    here (the cs field filters the catalog, not the point data);
  *  - /query content negotiation honors the Accept header for
  *    text/csv vs application/json (the reference uses an aiohttp
  *    negotiation middleware to the same effect, `server.py:287-291`);
  *  - the static-file route serves from `staticDir` when one is given
  *    (the reference hardwires its bundled JS client's directory,
  *    `server.py:293-296`; a library shim takes it as a parameter and
  *    omits the route when absent).
  */
final class HttpShim(spark: SparkSession, points: DataFrame,
    attConf: DataFrame, attNames: DataFrame, port: Int = 0,
    staticDir: Option[String] = None) {

  // the raster-fusion strategy is SESSION state: install it once at
  // shim construction, so request threads never mutate
  // `experimental.extraStrategies` — the per-call register() inside
  // binPoints/hoverColumns stays as an idempotent belt (synchronized,
  // contains-check only once installed) for library users without a
  // shim
  graft.plans.RasterFusion.register(spark)

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))

  /** Ephemeral-port servers report the bound port here. */
  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)

  // ------------------------------------------------------------ plumbing

  private def respond(ex: HttpExchange, status: Int, body: String,
      contentType: String = "application/json"): Unit =
    respondBytes(ex, status, body.getBytes(UTF_8), contentType)

  private def respondBytes(ex: HttpExchange, status: Int,
      raw: Array[Byte], contentType: String): Unit = {
    // the reference gzips every data response (server.py:147,164,180) —
    // its PNG-transport size math counts on it: raw JSON hover descs +
    // base64 PNGs are 3-10× larger uncompressed
    val bytes = if (acceptsGzip(ex)) {
      ex.getResponseHeaders.set("Content-Encoding", "gzip")
      val bos = new java.io.ByteArrayOutputStream(raw.length / 4 + 64)
      val gz = new java.util.zip.GZIPOutputStream(bos)
      try gz.write(raw) finally gz.close()
      bos.toByteArray
    } else raw
    ex.getResponseHeaders.set("Content-Type", contentType)
    // the body varies by negotiated encoding, so caches must key on it
    // (RFC 7231 §7.1.4) — without this a shared cache could serve a
    // gzip body to an identity-only client
    ex.getResponseHeaders.set("Vary", "Accept-Encoding")
    // the reference enables permissive CORS for Grafana (server.py:264-272)
    ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Accept-Encoding lists gzip as an acceptable coding. Per RFC 7231
    * §5.3.4 content-coding matching: the `x-gzip` legacy alias and the
    * `*` wildcard (matching any coding) count as gzip-acceptable; a
    * zero qvalue — `q=0`, `q=0.0`, `q=0.000` — is an explicit opt-OUT
    * and must not match. An explicit gzip/x-gzip entry outranks `*`
    * (so `gzip;q=0, *;q=1` stays identity). */
  private def acceptsGzip(ex: HttpExchange): Boolean = {
    val entries = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
      .getOrElse("").toLowerCase.split(',').flatMap { e =>
        val parts = e.split(';').map(_.trim)
        val q = parts.collectFirst {
          case p if p.replace(" ", "").startsWith("q=") =>
            try p.replace(" ", "").stripPrefix("q=").toDouble
            catch { case _: NumberFormatException => 1.0 }
        }.getOrElse(1.0)
        parts.headOption.filter(_.nonEmpty).map(_ -> q)
      }.toMap
    entries.get("gzip").orElse(entries.get("x-gzip"))
      .orElse(entries.get("*")).exists(_ > 0.0)
  }

  /** 200-with-ETag / 304 conditional response. The viewer re-requests
    * an identical grid whenever the user pans away and back (the
    * reference's stale-response fencing, plot.js, exists because of
    * exactly that re-fetch pattern); the render is deterministic for a
    * given request, so a strong ETag over the response body lets the
    * client skip the base64-PNG transfer entirely on a hit. The Spark
    * work still runs — the ETag is computed from its output — but the
    * dominant cost for pan-return, the payload, goes to zero. */
  private def respondCacheable(ex: HttpExchange, bodyJson: String): Unit = {
    // a strong ETag names the REPRESENTATION (RFC 7232 §2.1), and the
    // gzip and identity encodings are different representations — fold
    // the negotiated coding into the digest so they never share a tag
    val enc = if (acceptsGzip(ex)) "gzip" else "identity"
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest((enc + "\u0000" + bodyJson).getBytes(UTF_8))
    val etag = "\"" + digest.take(16).map("%02x".format(_)).mkString + "\""
    ex.getResponseHeaders.set("ETag", etag)
    val matches = Option(ex.getRequestHeaders.getFirst("If-None-Match"))
      .exists { v =>
        // RFC 7232 §3.2: comma list; W/ weak prefix compares equal for
        // If-None-Match (weak comparison); bare * matches anything
        v.trim == "*" ||
          v.split(',').map(_.trim.stripPrefix("W/")).contains(etag)
      }
    if (matches) {
      ex.getResponseHeaders.set("Vary", "Accept-Encoding")
      ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
      ex.sendResponseHeaders(304, -1L) // 304 carries no body
      ex.getResponseBody.close()
    } else respond(ex, 200, bodyJson)
  }

  /** Register a route. The JDK server matches contexts by raw string
    * PREFIX — without the exact-path guard, `/healthanything` would be
    * served by the `/health` handler and `/queryXYZ` would run a real
    * Spark query. Routes that legitimately own a subtree (`/static`,
    * the `/` fallback) opt out with `exact = false` and do their own
    * path vetting. */
  private def handle(path: String, method: String,
      exact: Boolean = true)(
      f: HttpExchange => Unit): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      try {
        if (exact && ex.getRequestURI.getPath != path)
          respond(ex, 404, """{"error":"not found"}""")
        else if (ex.getRequestMethod != method)
          respond(ex, 405, """{"error":"method not allowed"}""")
        else f(ex)
      } catch {
        case e: Json.JsonError =>
          respond(ex, 400, Json.write(Map("error" -> e.getMessage)))
        case e: NoSuchElementException =>
          respond(ex, 400, Json.write(Map("error" -> e.getMessage)))
        case e: IllegalArgumentException =>
          respond(ex, 400, Json.write(Map("error" -> e.getMessage)))
        case e: Throwable =>
          // the exception names engine internals (classes, columns,
          // paths): it goes to the server log, never to the client
          System.err.println(
            s"[http] 500 ${ex.getRequestMethod} ${ex.getRequestURI.getPath}: $e")
          respond(ex, 500, """{"error":"internal error"}""")
      }
    })

  private def queryParams(ex: HttpExchange): Map[String, String] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split('&').filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
      java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
  }

  /** The optional O6 row cap from a request body, CLAMPED to the
    * server ceiling: a client-sized `max` (say 2·10⁹) must not
    * reinstate the unbounded driver-side render
    * [[ArchiveApi.DefaultRawRowCap]] exists to prevent. Non-positive
    * values are a client error — the IllegalArgumentException becomes
    * a 400 in [[handle]]. */
  private def requestedMax(b: Map[String, Any]): Int =
    b.get("max").map(Json.num(_).toInt) match {
      case Some(m) if m <= 0 =>
        throw new IllegalArgumentException(s"max must be positive, got $m")
      case Some(m) => math.min(m, ArchiveApi.DefaultRawRowCap)
      case None => ArchiveApi.DefaultRawRowCap
    }

  private def body(ex: HttpExchange): Any =
    Json.parse(new String(ex.getRequestBody.readAllBytes(), UTF_8))

  private def wantsCsv(ex: HttpExchange): Boolean = {
    val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
    accept.contains("text/csv") || accept.contains("text/plain")
  }

  private def parseColor(v: Any): Int = v match {
    case s: String => Integer.parseInt(s.stripPrefix("#"), 16)
    case d: Double => d.toInt
    case _ => 0xff0000
  }

  // ------------------------------------------------------------ routes

  // GET /health — liveness probe (server.py:58-60)
  handle("/health", "GET") { ex =>
    respond(ex, 200, "OK", "text/plain")
  }

  // GET /controlsystems (server.py:63-70)
  handle("/controlsystems", "GET") { ex =>
    val cs = ArchiveApi.controlSystems(attConf)
      .collect().map(_.getString(0)).toSeq
    respond(ex, 200, Json.write(Map("controlsystems" -> cs)))
  }

  // GET /attributes?cs=…&search=…&max=… (server.py:73-89)
  handle("/attributes", "GET") { ex =>
    val p = queryParams(ex)
    val cs = p.getOrElse("cs",
      throw new IllegalArgumentException("missing 'cs'"))
    val glob = p.getOrElse("search",
      throw new IllegalArgumentException("missing 'search'"))
    val max = p.get("max").map(_.toInt).getOrElse(100)
    val attrs = ArchiveApi.attributes(attNames, cs, glob, max)
      .collect().map(_.getString(0)).toSeq
    respond(ex, 200, Json.write(Map("attributes" -> attrs)))
  }

  // POST /search — Grafana substring search, bare array out
  // (server.py:253-276)
  handle("/search", "POST") { ex =>
    val b = Json.obj(body(ex))
    val cs = Json.str(b("cs"))
    val term = Json.str(b("target"))
    val matches = Catalog.searchSubstring(
      attNames.where(col("cs_name") === cs), term)
      .collect().map(_.getString(0)).toSeq
    respond(ex, 200, Json.write(matches))
  }

  // POST /query — Grafana data query: targets + range + optional
  // interval; CSV or JSON by Accept (server.py:150-165)
  handle("/query", "POST") { ex =>
    val b = Json.obj(body(ex))
    val targets = Json.arr(b("targets"))
      .map(t => Json.str(Json.obj(t)("target")))
    val range = Json.obj(b("range"))
    val t0 = TimeFns.parseNaiveUtc(Json.str(range("from")))
    val t1 = TimeFns.parseNaiveUtc(Json.str(range("to")))
    val interval = b.get("interval").collect { case s: String => s }
    val out = ArchiveApi.rawQuery(points, targets, t0, t1, interval,
      asCsv = wantsCsv(ex), maxRows = requestedMax(b))
    respond(ex, 200, out,
      if (wantsCsv(ex)) "text/csv" else "application/json")
  }

  // POST /httpquery — browser variant: attributes + time_range
  // (server.py:167-181)
  handle("/httpquery", "POST") { ex =>
    val b = Json.obj(body(ex))
    val attrs = Json.arr(b("attributes")).map(Json.str)
    val tr = Json.arr(b("time_range"))
    val t0 = TimeFns.parseNaiveUtc(Json.str(tr(0)))
    val t1 = TimeFns.parseNaiveUtc(Json.str(tr(1)))
    val out = ArchiveApi.rawQuery(points, attrs, t0, t1, None,
      asCsv = wantsCsv(ex), maxRows = requestedMax(b))
    respond(ex, 200, out,
      if (wantsCsv(ex)) "text/csv" else "application/json")
  }

  // POST /image — the interactive plot (server.py:92-148)
  handle("/image", "POST") { ex =>
    val b = Json.obj(body(ex))
    val attrs = Json.arr(b("attributes")).map { a =>
      val o = Json.obj(a)
      ArchiveApi.AttrSpec(
        Json.str(o("name")),
        o.get("color").map(parseColor).getOrElse(0xff0000),
        o.get("y_axis").map(v => Json.num(v).toInt).getOrElse(0))
    }
    val tr = Json.arr(b("time_range"))
    val t0 = TimeFns.parseNaiveUtc(Json.str(tr(0)))
    val t1 = TimeFns.parseNaiveUtc(Json.str(tr(1)))
    val size = Json.arr(b("size"))
    val (w, h) = (Json.num(size(0)).toInt, Json.num(size(1)).toInt)
    // a client-sized canvas must not size driver allocations unbounded
    // (w×h int arrays per axis + the BufferedImage): same rationale as
    // the row cap in requestedMax; 8192² covers any real display and
    // keeps the per-request pixel state ≤ ~268 MB
    if (w <= 0 || h <= 0 || w > HttpShim.MaxImageDim || h > HttpShim.MaxImageDim)
      throw new IllegalArgumentException(
        s"size must be within 1..${HttpShim.MaxImageDim} per side, got [$w, $h]")
    val axes = b.get("axes").map(Json.obj).getOrElse(Map.empty)
      .map { case (k, v) =>
        val o = Json.obj(v)
        k.toInt -> ArchiveApi.AxisSpec(
          o.get("scale").collect { case s: String => s },
          o.get("min").map(Json.num),
          o.get("max").map(Json.num))
      }
    // opt-in anti-aliased rendering (Raster.binLinesAA); default stays
    // the reference-parity Bresenham raster
    val aa = b.get("antialias").collect { case v: Boolean => v }
      .getOrElse(false)
    val result = ArchiveApi.imageQuery(points, attrs.toSeq, t0, t1, w, h,
      axes, antialias = aa)
    val images = result.images.map { case (axis, img) =>
      axis -> Map(
        "image" -> img.imageBase64,
        "y_range" -> Seq(img.yRange._1, img.yRange._2),
        "x_range" -> Seq(img.xRangeMs._1, img.xRangeMs._2))
    }
    val descs = result.descs.map { case (name, d) =>
      name -> Map(
        "total_points" -> d.totalPoints.toDouble,
        "indices" -> d.indices.map(_.toDouble),
        "min" -> d.colMin,
        "max" -> d.colMax,
        "timestamps" -> d.timestamps,
        "counts" -> d.counts.map(_.toDouble))
    }
    respondCacheable(ex,
      Json.write(Map("images" -> images, "descs" -> descs)))
  }

  // GET /static/… (+ "/" → index.html) — the client-bundle route
  // (server.py:293-296). Registered only when a directory is supplied.
  private val ContentTypes = Map(
    "html" -> "text/html", "js" -> "application/javascript",
    "css" -> "text/css", "json" -> "application/json",
    "png" -> "image/png", "svg" -> "image/svg+xml",
    "ico" -> "image/x-icon", "map" -> "application/json")

  staticDir.foreach { dir =>
    val root = java.nio.file.Paths.get(dir).toAbsolutePath.normalize()
    def serve(ex: HttpExchange, rel: String): Unit = {
      val clean = if (rel.isEmpty || rel == "/") "index.html" else rel
      val target = root.resolve(clean.stripPrefix("/")).normalize()
      // normalize-then-prefix-check forecloses ../ traversal out of root
      if (!target.startsWith(root) || !java.nio.file.Files.isRegularFile(target))
        respond(ex, 404, """{"error":"not found"}""")
      else {
        val ext = clean.substring(clean.lastIndexOf('.') + 1).toLowerCase
        respondBytes(ex, 200, java.nio.file.Files.readAllBytes(target),
          ContentTypes.getOrElse(ext, "application/octet-stream"))
      }
    }
    handle("/static", "GET", exact = false) { ex =>
      // the JDK server matches contexts by raw string prefix, so
      // "/staticapp.js" also lands here — only serve real /static/…
      // segment paths
      val rel = ex.getRequestURI.getPath.stripPrefix("/static")
      if (rel.isEmpty || rel.startsWith("/")) serve(ex, rel)
      else respond(ex, 404, """{"error":"not found"}""")
    }
    handle("/", "GET", exact = false) { ex =>
      // com.sun.net.httpserver routes unmatched paths to the "/"
      // context; only the bare root serves the index from here
      val p = ex.getRequestURI.getPath
      if (p == "/" || p == "/index.html") serve(ex, "index.html")
      else respond(ex, 404, """{"error":"not found"}""")
    }
  }
}

object HttpShim {
  /** Per-side cap on /image canvas dimensions — bounds the driver's
    * per-request pixel allocations the way [[ArchiveApi
    * .DefaultRawRowCap]] bounds raw-render rows. */
  val MaxImageDim = 8192
}
