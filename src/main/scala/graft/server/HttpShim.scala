package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.unsafe.types.UTF8String
import graft.api.ArchiveApi
import graft.cache.ArchiveCache.TtlCache
import graft.functions.{GlobFns, TimeFns}
import graft.operators.Catalog

/** HTTP tier over the library façade, mirroring the reference server's
  * route table (`server.py:260-296`): GET /health, GET /controlsystems,
  * GET /attributes, POST /image, POST /query, POST /search,
  * POST /httpquery. Built on the JDK's `com.sun.net.httpserver` — the
  * engine ships zero extra dependencies, and the HTTP tier is a thin
  * shim by design: every data route body is one [[ArchiveApi]] call, so
  * the serving layer adds parsing/encoding only (SURVEY scoped the server
  * OUT of the engine; this closes the gap a reference user hits first).
  *
  * Execution model: requests run Spark actions on the driver; the
  * cluster parallelism lives in the queries themselves, exactly as in
  * library use. The handler pool is small — horizontal scale-out is N
  * shims over one long-lived SparkSession each (the reference runs one
  * aiohttp process with a thread pool, `server.py:283`).
  *
  * State: two driver-side memos. First, one catalog snapshot, memoized
  * for [[HttpShim.CatalogTtlMs]] as the reference memoizes its catalog
  * fetch (`hdbpp.py:213-228`):
  * the control-system list and the formatted names per control system,
  * one collect each, loaded by the first catalog request after expiry.
  * In between, the catalog routes run no Spark job. They answer what
  * the DataFrame path answers ([[ArchiveApi.attributes]]): the regex
  * `GlobFns` hands `RLIKE`, matched as `RLIKE` does (`Matcher.find`),
  * in Spark's string order. Driver memory: about 40–80 MB at 1M names.
  *
  * Second, an LRU of finished `/image` answers, bounded at
  * [[HttpShim.ImageCacheBytes]] of stored response bytes (32 MiB of
  * driver memory), keyed by the parsed request, the negotiated coding
  * and the file listing the points scan reads. A hit, and a request
  * identical to one still rendering, runs no Spark job
  * ([[respondCacheable]]). A points frame with a leaf that is not a file
  * relation (a local frame, an RDD, a DSv2 source) is never cached: its
  * data has no listing to key on.
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
final class HttpShim private[server] (spark: SparkSession,
    points: DataFrame, attConf: DataFrame, attNames: DataFrame, port: Int,
    staticDir: Option[String], clock: () => Long) {
  import HttpShim.{Answer, ImageKey, ImageRequest, Listing}

  def this(spark: SparkSession, points: DataFrame, attConf: DataFrame,
      attNames: DataFrame, port: Int = 0, staticDir: Option[String] = None) =
    this(spark, points, attConf, attNames, port, staticDir,
      () => System.currentTimeMillis())

  // the raster-fusion strategy is SESSION state: install it once at
  // shim construction, so request threads never mutate
  // `experimental.extraStrategies` — the per-call register() inside
  // RasterFusion.binPoints/hoverColumns stays as an idempotent belt
  // (synchronized, contains-check only once installed) for library
  // users without a shim
  graft.plans.RasterFusion.register(spark)

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** Ephemeral-port servers report the bound port here. */
  def boundPort: Int = server.getAddress.getPort

  // named by port, and shut down with the server: a stopped shim leaves
  // no handler thread behind to keep its JVM alive
  private val handlers = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    java.util.concurrent.Executors.newFixedThreadPool(HttpShim.HandlerThreads,
      (r: Runnable) => new Thread(r,
        s"${HttpShim.handlerThreadPrefix(boundPort)}${n.incrementAndGet()}"))
  }
  server.setExecutor(handlers)

  def start(): Unit = server.start()

  /** Stops accepting, lets running handlers finish, and ends the pool. */
  def stop(): Unit = {
    server.stop(0)
    handlers.shutdown()
    handlers.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
  }

  // ------------------------------------------------------------ plumbing

  private def respond(ex: HttpExchange, status: Int, body: String,
      contentType: String = "application/json"): Unit =
    respondBytes(ex, status, body.getBytes(UTF_8), contentType)

  private def respondBytes(ex: HttpExchange, status: Int,
      raw: Array[Byte], contentType: String): Unit = {
    // the reference gzips every data response (server.py:147,164,180) —
    // its PNG-transport size math counts on it: raw JSON hover descs +
    // base64 PNGs are 3-10× larger uncompressed
    val gzip = acceptsGzip(ex)
    send(ex, status, if (gzip) HttpShim.gzip(raw) else raw, contentType, gzip)
  }

  /** Send `bytes`, already in the negotiated coding. */
  private def send(ex: HttpExchange, status: Int, bytes: Array[Byte],
      contentType: String, gzip: Boolean): Unit = {
    if (gzip) ex.getResponseHeaders.set("Content-Encoding", "gzip")
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

  /** 200-with-ETag / 304 conditional response of a finished `/image`
    * answer. The viewer re-requests an identical grid whenever the user
    * pans away and back (the reference's stale-response fencing,
    * plot.js, exists because of exactly that re-fetch pattern). The
    * answer comes from [[imageAnswer]], which keeps it: a pan-return
    * whose grid is still stored and whose files have not changed runs
    * no Spark job, re-encodes nothing and re-hashes nothing. A client
    * that still holds the ETag gets a 304 and no payload; one that sent
    * the repeat before the first answer arrived gets the stored bytes. */
  private def respondCacheable(ex: HttpExchange, answer: Answer): Unit = {
    ex.getResponseHeaders.set("ETag", answer.etag)
    val matches = Option(ex.getRequestHeaders.getFirst("If-None-Match"))
      .exists { v =>
        // RFC 7232 §3.2: comma list; W/ weak prefix compares equal for
        // If-None-Match (weak comparison); bare * matches anything
        v.trim == "*" ||
          v.split(',').map(_.trim.stripPrefix("W/")).contains(answer.etag)
      }
    if (matches) {
      ex.getResponseHeaders.set("Vary", "Accept-Encoding")
      ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
      ex.sendResponseHeaders(304, -1L) // 304 carries no body
      ex.getResponseBody.close()
    } else send(ex, 200, answer.body, "application/json", answer.gzip)
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

  /** A client-sent `max`: non-positive values are a client error —
    * the IllegalArgumentException becomes a 400 in [[handle]]. */
  private def positiveMax(m: Int): Int =
    if (m > 0) m
    else throw new IllegalArgumentException(s"max must be positive, got $m")

  /** The optional O6 row cap from a request body, CLAMPED to the
    * server ceiling: a client-sized `max` (say 2·10⁹) must not
    * reinstate the unbounded driver-side render
    * [[ArchiveApi.DefaultRawRowCap]] exists to prevent. */
  private def requestedMax(b: Map[String, Any]): Int =
    b.get("max").map(m => math.min(positiveMax(Json.num(m).toInt),
      ArchiveApi.DefaultRawRowCap)).getOrElse(ArchiveApi.DefaultRawRowCap)

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

  // ------------------------------------------------------------ catalog

  private val controlSystems = new TtlCache[Seq[String]](
    HttpShim.CatalogTtlMs, () => ArchiveApi.controlSystems(
      HttpShim.relisted(attConf)).collect().map(_.getString(0)).toSeq,
    clock)

  private val namesByCs = new TtlCache[Map[String, Array[String]]](
    HttpShim.CatalogTtlMs, () => Catalog.formatted(
      HttpShim.relisted(attNames)).collect()
      .groupBy(_.getString(0))
      .map { case (cs, rows) =>
        cs -> HttpShim.sparkSorted(rows.map(_.getString(1))) },
    clock)

  /** The names of control system `cs` that `regex` finds, in order. */
  private def matching(cs: String, regex: String): Iterator[String] = {
    val p = java.util.regex.Pattern.compile(regex)
    namesByCs.get().getOrElse(cs, Array.empty[String]).iterator
      .filter(p.matcher(_).find())
  }

  // ------------------------------------------------------------ routes

  // GET /health — liveness probe (server.py:58-60)
  handle("/health", "GET") { ex =>
    respond(ex, 200, "OK", "text/plain")
  }

  // GET /controlsystems (server.py:63-70)
  handle("/controlsystems", "GET") { ex =>
    respond(ex, 200,
      Json.write(Map("controlsystems" -> controlSystems.get())))
  }

  // GET /attributes?cs=…&search=…&max=… (server.py:73-89)
  handle("/attributes", "GET") { ex =>
    val p = queryParams(ex)
    val cs = p.getOrElse("cs",
      throw new IllegalArgumentException("missing 'cs'"))
    val glob = p.getOrElse("search",
      throw new IllegalArgumentException("missing 'search'"))
    val max = p.get("max").map(m => positiveMax(m.toInt)).getOrElse(100)
    val attrs = matching(cs, GlobFns.globRegex(glob)).take(max).toSeq
    respond(ex, 200, Json.write(Map("attributes" -> attrs)))
  }

  // POST /search — Grafana substring search, bare array out
  // (server.py:253-276)
  handle("/search", "POST") { ex =>
    val b = Json.obj(body(ex))
    val cs = Json.str(b("cs"))
    val term = Json.str(b("target"))
    respond(ex, 200,
      Json.write(matching(cs, GlobFns.substringRegex(term)).toSeq))
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
    val tr = Json.arrOf(b("time_range"), 2, "time_range")
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
    val tr = Json.arrOf(b("time_range"), 2, "time_range")
    val t0 = TimeFns.parseNaiveUtc(Json.str(tr(0)))
    val t1 = TimeFns.parseNaiveUtc(Json.str(tr(1)))
    val size = Json.arrOf(b("size"), 2, "size")
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
    respondCacheable(ex, imageAnswer(
      ImageRequest(attrs.toSeq, t0, t1, w, h, axes, aa), acceptsGzip(ex)))
  }

  // ------------------------------------------------------------ /image cache

  /** The file indexes of the relations `points` reads, or None when one
    * of its leaves is not a file relation: only a file listing tells a
    * stored answer from a stale one. */
  private val pointIndexes: Option[Seq[FileIndex]] = {
    val leaves = points.queryExecution.analyzed.collectWithSubqueries {
      case l: LeafNode => l
    }
    val indexes = leaves.collect { case l: LogicalRelation =>
      l.relation }.collect { case r: HadoopFsRelation => r.location }
    if (indexes.size == leaves.size) Some(indexes) else None
  }

  private val imageCache = new HttpShim.ImageLru[ImageKey](
    HttpShim.ImageCacheBytes)
  private val rendering =
    new java.util.concurrent.ConcurrentHashMap[ImageKey,
      java.util.concurrent.CompletableFuture[Answer]]()
  // the listing last seen: equal listings are held once, whatever the
  // number of stored keys that name them
  @volatile private var lastListing: Listing = Nil

  /** The files the scan would read now, as sorted (path, length, mtime):
    * the in-memory listing the index plans from, so no file-system
    * call. A refresh that adds, grows or rewrites a file changes it. */
  private def listing(indexes: Seq[FileIndex]): Listing = {
    val now = indexes.flatMap(_.listFiles(Nil, Nil)).flatMap(_.files)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    val last = lastListing
    if (now == last) last else { lastListing = now; now }
  }

  /** The answer to `req` in the coding `gzip` names: stored, shared
    * with an identical request still rendering, or rendered here. An
    * answer is stored only if the listing did not change while it
    * rendered. A failed render is neither stored nor kept: it fails its
    * waiters with the same exception, and so the same status. */
  private def imageAnswer(req: ImageRequest, gzip: Boolean): Answer =
    pointIndexes match {
      case None => render(req, gzip)
      case Some(indexes) =>
        val files = listing(indexes)
        val key = ImageKey(req, gzip, files)
        imageCache.get(key).getOrElse {
          val mine = new java.util.concurrent.CompletableFuture[Answer]()
          val running = rendering.putIfAbsent(key, mine)
          if (running != null) {
            try running.get()
            catch { case e: java.util.concurrent.ExecutionException =>
              throw e.getCause }
          } else try {
            // stored by a render that finished since the lookup above
            val answer = imageCache.get(key).getOrElse {
              val a = render(req, gzip)
              if (listing(indexes) == files) imageCache.put(key, a)
              a
            }
            mine.complete(answer)
            answer
          } catch { case e: Throwable =>
            mine.completeExceptionally(e)
            throw e
          } finally rendering.remove(key, mine)
        }
    }

  /** Run the `/image` pipeline and encode its answer. */
  private def render(req: ImageRequest, gzip: Boolean): Answer = {
    val result = ArchiveApi.imageQuery(points, req.attrs, req.t0Us,
      req.t1Us, req.width, req.height, req.axes, antialias = req.antialias)
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
    HttpShim.answer(Json.write(Map("images" -> images, "descs" -> descs)),
      gzip)
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
  /** How long a catalog snapshot answers before the next catalog
    * request reloads it (reference `hdbpp.py:213,230`). */
  val CatalogTtlMs = 60000L

  /** Request handler threads per shim. */
  val HandlerThreads = 4

  /** The name prefix of the handler threads of the shim on `port`. */
  def handlerThreadPrefix(port: Int): String = s"graft-http-$port-"

  /** `df` after re-listing the files under its scans: a frame keeps the
    * file listing it was built with, so a reload would otherwise never
    * see names appended since. */
  private def relisted(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .foreach { case r: HadoopFsRelation => r.location.refresh(); case _ => }
    df
  }

  /** `names` in Spark's string order: `UTF8String.compareTo`, the order
    * `orderBy` gives a string column. */
  private def sparkSorted(names: Array[String]): Array[String] =
    names.map(n => UTF8String.fromString(n) -> n)
      .sortWith((a, b) => a._1.compareTo(b._1) < 0).map(_._2)

  /** Per-side cap on /image canvas dimensions — bounds the driver's
    * per-request pixel allocations the way [[ArchiveApi
    * .DefaultRawRowCap]] bounds raw-render rows. */
  val MaxImageDim = 8192

  /** Bytes of finished `/image` answers one shim keeps on the driver.
    * 32 MiB holds about 900 answers at the 34 KB a gzip answer measures
    * (`server.wire_bytes_per_image`, perfbench viewer): hours of one
    * user's pans, while staying a small share of a driver heap sized
    * for Spark. An answer over a quarter of it is not stored, so one
    * huge canvas cannot flush the rest. */
  val ImageCacheBytes: Long = 32L << 20

  /** A parsed `/image` request: everything its answer depends on,
    * besides the data. */
  private[server] final case class ImageRequest(attrs: Seq[ArchiveApi.AttrSpec],
      t0Us: Long, t1Us: Long, width: Int, height: Int,
      axes: Map[Int, ArchiveApi.AxisSpec], antialias: Boolean)

  /** Sorted (path, length, mtime) of the files a scan reads. */
  private[server] type Listing = Seq[(String, Long, Long)]

  private[server] final case class ImageKey(request: ImageRequest,
      gzip: Boolean, files: Listing)

  /** A finished response: its wire bytes (gzip bytes when `gzip`) and
    * its strong ETag. */
  private[server] final case class Answer(body: Array[Byte], etag: String,
      gzip: Boolean)

  /** `bodyJson` encoded for the wire. A strong ETag names the
    * REPRESENTATION (RFC 7232 §2.1), and the gzip and identity codings
    * are different representations: the coding is folded into the
    * digest so they never share a tag. */
  private[server] def answer(bodyJson: String, gzip: Boolean): Answer = {
    val enc = if (gzip) "gzip" else "identity"
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest((enc + "\u0000" + bodyJson).getBytes(UTF_8))
    val etag = "\"" + digest.take(16).map("%02x".format(_)).mkString + "\""
    val raw = bodyJson.getBytes(UTF_8)
    Answer(if (gzip) HttpShim.gzip(raw) else raw, etag, gzip)
  }

  private def gzip(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(raw.length / 4 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    try gz.write(raw) finally gz.close()
    bos.toByteArray
  }

  /** Least-recently-used answers, at most `maxBytes` of bodies; an
    * answer over a quarter of that is not stored. */
  private[server] final class ImageLru[K](maxBytes: Long) {
    private val entries =
      new java.util.LinkedHashMap[K, Answer](16, 0.75f, true)
    private var bytes = 0L

    def get(k: K): Option[Answer] = synchronized(Option(entries.get(k)))

    def put(k: K, a: Answer): Unit = synchronized {
      if (a.body.length <= maxBytes / 4) {
        Option(entries.put(k, a)).foreach(old => bytes -= old.body.length)
        bytes += a.body.length
        val eldest = entries.values.iterator
        while (bytes > maxBytes) {
          bytes -= eldest.next().body.length
          eldest.remove()
        }
      }
    }

    def storedBytes: Long = synchronized(bytes)
  }
}
