package graft.server

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.api.ArchiveApi
import graft.operators.Catalog
import graft.sources.EventsArchiveAdapter

/** End-to-end HTTP round-trips against the shim over the sf0.001
  * events adapter — real sockets, real JSON, every route. */
class HttpShimSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestBase.spark

  private var shim: HttpShim = _
  private var base: String = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    val ad = new EventsArchiveAdapter(spark, "/root/testdata/sf0.001")
    shim = new HttpShim(spark, ad.pointsAll, ad.attConf, ad.attNames)
    shim.start()
    base = s"http://127.0.0.1:${shim.boundPort}"
  }

  override def afterAll(): Unit = if (shim != null) shim.stop()

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, json: String,
      accept: String = "application/json"): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Accept", accept)
      .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /health answers OK") {
    val r = get("/health")
    assert(r.statusCode() == 200 && r.body() == "OK")
  }

  test("routes match exactly: prefix garbage is 404, not a handler hit") {
    // the JDK server matches contexts by raw string prefix — without
    // the shim's exact-path guard these would run REAL handlers
    // (/queryXYZ a Spark query, /healthanything a 200)
    assert(get("/healthanything").statusCode() == 404)
    assert(get("/controlsystemsX").statusCode() == 404)
    assert(get("/attributesfoo?cs=x&search=y").statusCode() == 404)
    assert(post("/queryXYZ", "{}").statusCode() == 404)
    assert(post("/image.png", "{}").statusCode() == 404)
  }

  test("POST /image rejects unbounded or non-positive canvas sizes") {
    def img(w: Long, h: Long) = post("/image",
      s"""{"attributes": [{"name": "u1/click"}],
         |"time_range": ["2024-01-05", "2024-01-20"],
         |"size": [$w, $h]}""".stripMargin)
    // a client-sized canvas must not size driver allocations: 20000²
    // would be a 1.6 GB int array per layer; 70000² overflows Int
    assert(img(20000, 20000).statusCode() == 400)
    assert(img(70000, 70000).statusCode() == 400)
    assert(img(0, 100).statusCode() == 400)
    assert(img(-5, 100).statusCode() == 400)
    assert(img(HttpShim.MaxImageDim + 1, 100).statusCode() == 400)
  }

  test("Json.write emits valid JSON for non-finite doubles") {
    // a bare NaN token (an all-NaN hover column's min, say) would make
    // the whole /image response fail the client's JSON.parse
    assert(Json.write(Map(
      "a" -> Double.NaN, "b" -> Double.PositiveInfinity,
      "c" -> Double.NegativeInfinity, "d" -> 1.5)) ==
      """{"a":null,"b":null,"c":null,"d":1.5}""")
  }

  test("GET /controlsystems lists the adapter's cs") {
    val r = get("/controlsystems")
    assert(r.statusCode() == 200)
    val cs = Json.arr(Json.obj(Json.parse(r.body()))("controlsystems"))
    assert(cs.contains("events.cs:10000"))
  }

  test("GET /attributes globs and caps results") {
    val r = get("/attributes?cs=events.cs:10000&search=events/stream/*/click&max=3")
    assert(r.statusCode() == 200)
    val attrs = Json.arr(Json.obj(Json.parse(r.body()))("attributes"))
      .map(Json.str)
    assert(attrs.nonEmpty && attrs.length <= 3)
    assert(attrs.forall(a =>
      a.startsWith("events/stream/u") && a.endsWith("/click")))
    // missing params → 400, not a stack trace
    assert(get("/attributes?cs=events.cs:10000").statusCode() == 400)
    // a glob that translates to an invalid regex is the client's error
    assert(get("/attributes?cs=events.cs:10000&search=%5Bz-a%5D")
      .statusCode() == 400)
    // non-positive max is a client error, not a Spark limit() failure
    for (bad <- Seq("0", "-5")) {
      val r = get(s"/attributes?cs=events.cs:10000&search=*&max=$bad")
      assert(r.statusCode() == 400, s"max=$bad must be a client error")
      assert(r.body().contains("max must be positive"))
    }
  }

  test("POST /search does Grafana substring matching") {
    val r = post("/search",
      """{"cs": "events.cs:10000", "target": "click"}""")
    assert(r.statusCode() == 200)
    val matches = Json.arr(Json.parse(r.body())).map(Json.str)
    assert(matches.nonEmpty && matches.forall(_.contains("click")))
  }

  test("POST /query returns Grafana JSON or CSV by Accept header") {
    val req =
      """{"targets": [{"cs": "events.cs:10000", "target": "u1/click"}],
        |"range": {"from": "2024-01-05", "to": "2024-01-20"},
        |"interval": "1d"}""".stripMargin
    val asJson = post("/query", req)
    assert(asJson.statusCode() == 200)
    val series = Json.arr(Json.parse(asJson.body()))
    assert(series.nonEmpty)
    val first = Json.obj(series(0))
    assert(Json.str(first("target")) == "u1/click")
    assert(Json.arr(first("datapoints")).nonEmpty)
    val asCsv = post("/query", req, accept = "text/csv")
    assert(asCsv.statusCode() == 200)
    assert(asCsv.body().contains("u1/click"))
    assert(asCsv.headers().firstValue("Content-Type").orElse("")
      .contains("text/csv"))
  }

  test("POST /query honors the max row cap on un-intervaled raw data") {
    val req =
      """{"targets": [{"cs": "events.cs:10000", "target": "u1/click"}],
        |"range": {"from": "2024-01-05", "to": "2024-01-20"},
        |"max": 3}""".stripMargin
    val r = post("/query", req)
    assert(r.statusCode() == 200)
    val first = Json.obj(Json.arr(Json.parse(r.body()))(0))
    assert(Json.arr(first("datapoints")).length == 3)
  }

  test("POST /query clamps an oversized max to the server ceiling, " +
    "rejects non-positive max with 400") {
    // a 2-billion max must NOT reach rawQuery (it would reinstate the
    // unbounded driver-side render the default cap prevents); the
    // request still answers, capped
    val big = post("/query",
      """{"targets": [{"cs": "events.cs:10000", "target": "u1/click"}],
        |"range": {"from": "2024-01-05", "to": "2024-01-20"},
        |"max": 2000000000}""".stripMargin)
    assert(big.statusCode() == 200)
    assert(Json.arr(Json.parse(big.body())).nonEmpty)
    for (bad <- Seq("0", "-5")) {
      val r = post("/query",
        s"""{"targets": [{"cs": "events.cs:10000", "target": "u1/click"}],
           |"range": {"from": "2024-01-05", "to": "2024-01-20"},
           |"max": $bad}""".stripMargin)
      assert(r.statusCode() == 400, s"max=$bad must be a client error")
      assert(r.body().contains("max must be positive"))
    }
    // /httpquery shares the clamp
    val badHq = post("/httpquery",
      """{"attributes": ["u1/click"],
        |"time_range": ["2024-01-05", "2024-01-20"], "max": -1}""".stripMargin)
    assert(badHq.statusCode() == 400)
  }

  test("POST /httpquery takes the browser-style body") {
    val r = post("/httpquery",
      """{"attributes": ["u1/click"],
        |"time_range": ["2024-01-05", "2024-01-20"]}""".stripMargin)
    assert(r.statusCode() == 200)
    assert(Json.arr(Json.parse(r.body())).nonEmpty)
  }

  test("a small export at the default cap is one collect: one job raw " +
    "(/httpquery), at most two intervaled (/query)") {
    val raw = jobsDuring(assert(post("/httpquery",
      """{"attributes": ["u1/click", "u2/view"],
        |"time_range": ["2024-01-05", "2024-01-20"]}""".stripMargin)
      .statusCode() == 200))
    assert(raw == 1, s"raw /httpquery ran $raw jobs")
    val intervaled = jobsDuring(assert(post("/query",
      """{"targets": [{"cs": "events.cs:10000", "target": "u1/click"}],
        |"range": {"from": "2024-01-05", "to": "2024-01-20"},
        |"interval": "1h"}""".stripMargin).statusCode() == 200))
    assert(intervaled >= 1 && intervaled <= 2,
      s"intervaled /query ran $intervaled jobs")
  }

  test("POST /query answers a zero or overflowing interval with 400") {
    for (interval <- Seq("0s", "106751992d")) {
      val r = post("/query",
        s"""{"targets": [{"cs": "events.cs:10000", "target": "u1/click"}],
           |"range": {"from": "2024-01-05", "to": "2024-01-20"},
           |"interval": "$interval"}""".stripMargin)
      assert(r.statusCode() == 400, s"interval $interval answered ${r.body()}")
      assert(Json.str(Json.obj(Json.parse(r.body()))("error"))
        .contains(interval))
    }
  }

  test("POST /image renders per-axis PNGs with hover descs") {
    val r = post("/image",
      """{"attributes": [{"name": "u1/click", "color": "#00ff00",
        |                 "y_axis": 0}],
        |"time_range": ["2024-01-05", "2024-01-20"],
        |"size": [100, 50]}""".stripMargin)
    assert(r.statusCode() == 200)
    val b = Json.obj(Json.parse(r.body()))
    val img = Json.obj(Json.obj(b("images"))("0"))
    val png = java.util.Base64.getDecoder.decode(Json.str(img("image")))
    assert(png.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P', 'N', 'G'))
    assert(Json.arr(img("y_range")).length == 2)
    val desc = Json.obj(Json.obj(b("descs"))("u1/click"))
    assert(Json.num(desc("total_points")) > 0)
  }

  test("shim construction installs the raster strategy once; concurrent " +
    "first /image requests never re-register") {
    // the shared shim's constructor already registered the strategy —
    // constructing ANOTHER shim on the same session must not duplicate
    // it (register is idempotent + synchronized)
    def strategyCount = spark.experimental.extraStrategies
      .count(_ == graft.plans.RasterStrategy)
    assert(strategyCount == 1, "constructor must have registered exactly once")
    val ad2 = new graft.sources.EventsArchiveAdapter(spark,
      "/root/testdata/sf0.001")
    val second = new HttpShim(spark, ad2.pointsAll, ad2.attConf,
      ad2.attNames)
    try {
      second.start()
      val b2 = s"http://127.0.0.1:${second.boundPort}"
      assert(strategyCount == 1, "second construction must be a no-op")
      // a burst of FIRST requests against the fresh shim, in parallel:
      // all must render, and the strategy list must stay single
      val req =
        """{"attributes": [{"name": "u1/click", "color": "#00ff00",
          |                 "y_axis": 0}],
          |"time_range": ["2024-01-05", "2024-01-20"],
          |"size": [60, 40]}""".stripMargin
      val calls = (1 to 4).map(_ => java.util.concurrent.CompletableFuture
        .supplyAsync(() => client.send(
          HttpRequest.newBuilder(URI.create(b2 + "/image"))
            .POST(HttpRequest.BodyPublishers.ofString(req)).build(),
          HttpResponse.BodyHandlers.ofString())))
      calls.foreach(f => assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS)
        .statusCode() == 200))
      assert(strategyCount == 1,
        "concurrent requests mutated the strategy list")
    } finally second.stop()
  }

  test("Accept-Encoding: gzip compresses /query and /image responses") {
    def postGz(path: String, json: String): HttpResponse[Array[Byte]] =
      client.send(HttpRequest.newBuilder(URI.create(base + path))
        .header("Accept-Encoding", "gzip")
        .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    def gunzip(b: Array[Byte]): String = new String(
      new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b)).readAllBytes(), "UTF-8")
    val queryReq =
      """{"targets": [{"cs": "events.cs:10000", "target": "u1/click"}],
        |"range": {"from": "2024-01-05", "to": "2024-01-20"}}""".stripMargin
    val imageReq =
      """{"attributes": [{"name": "u1/click", "color": "#00ff00",
        |                 "y_axis": 0}],
        |"time_range": ["2024-01-05", "2024-01-20"],
        |"size": [100, 50]}""".stripMargin
    for ((path, req) <- Seq("/query" -> queryReq, "/image" -> imageReq)) {
      val gz = postGz(path, req)
      assert(gz.statusCode() == 200)
      assert(gz.headers().firstValue("Content-Encoding").orElse("") == "gzip")
      // decodes to exactly the uncompressed body (and actually shrank)
      val plain = post(path, req)
      assert(plain.headers().firstValue("Content-Encoding").isEmpty)
      assert(gunzip(gz.body()) == plain.body())
      assert(gz.body().length < plain.body().length, s"$path did not shrink")
    }
    // zero qvalues are explicit opt-outs in every RFC 7231 spelling
    for (enc <- Seq("gzip;q=0", "gzip;q=0.0", "gzip; q=0.000")) {
      val optOut = client.send(
        HttpRequest.newBuilder(URI.create(base + "/query"))
          .header("Accept-Encoding", enc)
          .POST(HttpRequest.BodyPublishers.ofString(queryReq)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(optOut.headers().firstValue("Content-Encoding").isEmpty,
        s"'$enc' was not honored as an opt-out")
      assert(Json.arr(Json.parse(optOut.body())).nonEmpty)
    }
    // RFC 7231 content-coding matching: the legacy x-gzip alias and
    // the * wildcard are gzip-acceptable; an explicit gzip;q=0
    // outranks a wildcard
    for (enc <- Seq("x-gzip", "*", "identity;q=0.5, *;q=1")) {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(base + "/query"))
          .header("Accept-Encoding", enc)
          .POST(HttpRequest.BodyPublishers.ofString(queryReq)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.headers().firstValue("Content-Encoding").orElse("") == "gzip",
        s"'$enc' should negotiate gzip")
      assert(gunzip(r.body()).nonEmpty)
    }
    val wildcardOptOut = client.send(
      HttpRequest.newBuilder(URI.create(base + "/query"))
        .header("Accept-Encoding", "gzip;q=0, *;q=1")
        .POST(HttpRequest.BodyPublishers.ofString(queryReq)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(wildcardOptOut.headers().firstValue("Content-Encoding").isEmpty,
      "explicit gzip;q=0 must outrank the * wildcard")
  }

  test("/image antialias flag renders a valid PNG with its own ETag") {
    def req(aa: Boolean) =
      s"""{"attributes": [{"name": "u1/click", "color": "#00ff00",
         |                 "y_axis": 0}],
         |"time_range": ["2024-01-05", "2024-01-20"],
         |"size": [100, 50], "antialias": $aa}""".stripMargin
    val aaResp = post("/image", req(aa = true))
    assert(aaResp.statusCode() == 200)
    val img = Json.obj(Json.obj(Json.obj(
      Json.parse(aaResp.body()))("images"))("0"))
    val png = java.util.Base64.getDecoder.decode(Json.str(img("image")))
    assert(png.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P', 'N', 'G'))
    // the AA render is a different representation → different ETag
    val plain = post("/image", req(aa = false))
    assert(aaResp.headers().firstValue("ETag").orElse("a") !=
      plain.headers().firstValue("ETag").orElse("b"))
  }

  test("/image sets a strong ETag; If-None-Match round-trips 304") {
    val req =
      """{"attributes": [{"name": "u1/click", "color": "#00ff00",
        |                 "y_axis": 0}],
        |"time_range": ["2024-01-05", "2024-01-20"],
        |"size": [100, 50]}""".stripMargin
    val first = post("/image", req)
    assert(first.statusCode() == 200)
    val etag = first.headers().firstValue("ETag").orElse("")
    assert(etag.startsWith("\"") && etag.endsWith("\""), s"bad ETag '$etag'")
    // identical request, conditional: 304, no body, ETag still present
    val cond = client.send(HttpRequest.newBuilder(URI.create(base + "/image"))
      .header("If-None-Match", etag)
      .POST(HttpRequest.BodyPublishers.ofString(req)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(cond.statusCode() == 304)
    assert(cond.body().isEmpty)
    assert(cond.headers().firstValue("ETag").orElse("") == etag)
    // weak-prefix and list forms match too (RFC 7232 weak comparison)
    val weak = client.send(HttpRequest.newBuilder(URI.create(base + "/image"))
      .header("If-None-Match", "\"zzz\", W/" + etag)
      .POST(HttpRequest.BodyPublishers.ofString(req)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(weak.statusCode() == 304)
    // a different request must produce a different ETag and a 200
    val other = client.send(HttpRequest.newBuilder(URI.create(base + "/image"))
      .header("If-None-Match", etag)
      .POST(HttpRequest.BodyPublishers.ofString(
        req.replace("[100, 50]", "[80, 40]"))).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(other.statusCode() == 200)
    assert(other.headers().firstValue("ETag").orElse("") != etag)
  }

  test("static route serves the client bundle, blocks traversal") {
    val dir = java.nio.file.Files.createTempDirectory("graft-static")
    java.nio.file.Files.writeString(dir.resolve("index.html"),
      "<html>viewer</html>")
    java.nio.file.Files.writeString(dir.resolve("app.js"),
      "console.log('hi')")
    val ad = new graft.sources.EventsArchiveAdapter(
      spark, "/root/testdata/sf0.001")
    val s2 = new HttpShim(spark, ad.pointsAll, ad.attConf, ad.attNames,
      staticDir = Some(dir.toString))
    s2.start()
    val b2 = s"http://127.0.0.1:${s2.boundPort}"
    try {
      def get2(p: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(b2 + p)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      val idx = get2("/")
      assert(idx.statusCode() == 200 && idx.body().contains("viewer"))
      assert(idx.headers().firstValue("Content-Type").orElse("")
        .contains("text/html"))
      val js = get2("/static/app.js")
      assert(js.statusCode() == 200 && js.body().contains("console"))
      assert(js.headers().firstValue("Content-Type").orElse("")
        .contains("javascript"))
      assert(get2("/static/missing.js").statusCode() == 404)
      assert(get2("/static/../../etc/passwd").statusCode() == 404)
      // JDK context matching is prefix-based: /staticapp.js lands in
      // the /static context but must not alias staticDir files
      assert(get2("/staticapp.js").statusCode() == 404)
      // the no-staticDir shim (the suite's main fixture) has no route
      assert(get("/static/app.js").statusCode() == 404)
    } finally s2.stop()
  }

  test("a server fault answers a generic 500 with no exception detail") {
    // a points frame without value_r fails inside the route's query,
    // past every 4xx check
    val ad = new EventsArchiveAdapter(spark, graft.Harness.warmDir)
    val s2 = new HttpShim(spark, ad.pointsAll.drop("value_r"), ad.attConf,
      ad.attNames)
    s2.start()
    try {
      val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${s2.boundPort}/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"targets": [{"cs": "events.cs:10000", "target": "u1/click"}],
            |"range": {"from": "2024-01-05", "to": "2024-01-20"},
            |"interval": "1d"}""".stripMargin)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 500)
      assert(r.body() == """{"error":"internal error"}""")
      assert(!r.body().contains("Exception"))
    } finally s2.stop()
  }

  test("malformed JSON answers 400") {
    val r = post("/query", """{"targets": [""")
    assert(r.statusCode() == 400)
    assert(Json.obj(Json.parse(r.body())).contains("error"))
    // well-formed JSON of the wrong shape is a client error too
    val attrs = """[{"name": "u1/click"}]"""
    val range = """["2024-01-05", "2024-01-20"]"""
    def image(attributes: String = attrs, timeRange: String = range,
        size: String = "[100, 50]") =
      s"""{"attributes": $attributes, "time_range": $timeRange,
         |"size": $size}""".stripMargin
    val bodies = Seq(
      "/image" -> "null",
      "/image" -> "[]",
      "/query" -> "null",
      "/image" -> image(attributes = "5"),
      "/image" -> image(attributes = """[{"name": null}]"""),
      "/image" -> image(size = "[]"),
      "/image" -> image(size = "[100, null]"),
      "/image" -> image(timeRange = """["2024-01-05"]"""),
      "/httpquery" ->
        s"""{"attributes": $attrs, "time_range": ["2024-01-05"]}""",
      "/query" -> """{"targets": 5, "range": {}}""")
    bodies.foreach { case (route, body) =>
      val r = post(route, body)
      assert(r.statusCode() == 400, s"$route $body answered ${r.body()}")
      assert(Json.obj(Json.parse(r.body())).contains("error"))
    }
  }

  // ------------------------------------------------------------ catalog

  /** A shim over the given catalog frames on an ephemeral port, its
    * catalog clock read from `now`. */
  private def catalogShim(conf: DataFrame, names: DataFrame,
      now: () => Long = () => System.currentTimeMillis()): HttpShim = {
    val s = new HttpShim(spark, spark.emptyDataFrame, conf, names, 0, None,
      now)
    s.start()
    s
  }

  private def getFrom(s: HttpShim, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${s.boundPort}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def attributesOf(s: HttpShim, cs: String, glob: String,
      max: Option[Int]): HttpResponse[String] = {
    def enc(v: String) = URLEncoder.encode(v, UTF_8)
    getFrom(s, s"/attributes?cs=${enc(cs)}&search=${enc(glob)}" +
      max.map(m => s"&max=$m").getOrElse(""))
  }

  private def searchOf(s: HttpShim, cs: String,
      term: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/search"))
      .POST(HttpRequest.BodyPublishers.ofString(
        Json.write(Map("cs" -> cs, "target" -> term)))).build(),
      HttpResponse.BodyHandlers.ofString())

  private def strings(df: DataFrame): Seq[String] =
    df.collect().map(_.getString(0)).toSeq

  /** Names whose sort and match are easy to get wrong in process:
    * mixed case, regex metacharacters, a duplicate, a null control
    * system, and `Ａ` (U+FF21) against `😀` (U+1F600), which Java's
    * UTF-16 `String.compareTo` orders the other way round from Spark's
    * UTF-8 binary order. */
  private def trickyNames: DataFrame = {
    import spark.implicits._
    Seq(
      ("cs1", "r1", "vac", "pump.01", "pressure"),
      ("cs1", "r1", "vac", "pump+01", "Pressure"),
      ("cs1", "R1", "VAC", "pump-02", "pressure"),
      ("cs1", "r1", "vac", "pump01", "pressure"),
      ("cs1", "r1", "vac", "pump01", "pressure"),
      ("cs1", "r1", "mag", "\uFF21", "current"),
      ("cs1", "r1", "mag", "\uD83D\uDE00", "current"),
      ("cs1", "r1", "mag", "\u00e9", "current"),
      ("cs1", "r1", "mag", "[x]", "current"),
      ("cs2", "r2", "rf", "tx-01", "power"),
      (null, "r9", "x", "y", "z"))
      .toDF("cs_name", "domain", "family", "member", "name")
  }

  private def trickyConf: DataFrame = {
    import spark.implicits._
    Seq(("cs2", "r2/rf/tx-01/power"), ("cs1", "r1/vac/pump01/pressure"),
      ("cs1", "r1/mag/[x]/current"), (null, "r9/x/y/z"))
      .toDF("cs_name", "att_name")
  }

  test("catalog routes answer byte-identically to the DataFrame path") {
    val ad = new EventsArchiveAdapter(spark, graft.Harness.warmDir)
    val Cs = "events.cs:10000"
    val events = (ad.attConf, ad.attNames, Seq[(String, String, Option[Int])](
      (Cs, "*", None),
      (Cs, "events/stream/u?/click", None),
      (Cs, "events/stream/u[!1]*/view", None),
      (Cs, "events/stream/u1[0-3]/*", None),
      (Cs, "EVENTS/Stream/U1*/CLICK", None),
      (Cs, "events.stream/*", None),
      (Cs, "events/stream/u1+/click", None),
      (Cs, "nothing*", None),
      (Cs, "*", Some(3)),
      (Cs, "*/u1*", Some(1000)),
      ("nope:1", "*", None)),
      Seq(Cs -> "click", Cs -> "U1", Cs -> "u12/", Cs -> ".", Cs -> "+",
        Cs -> "", Cs -> "zzz", "nope:1" -> "click"))
    val tricky = (trickyConf, trickyNames, Seq[(String, String, Option[Int])](
      ("cs1", "*", None),
      ("cs1", "*", Some(4)),
      ("cs1", "r1/vac/pump.01/*", None),
      ("cs1", "r1/vac/pump+01/*", None),
      ("cs1", "r1/vac/pump?01/PRESSURE", None),
      ("cs1", "r1/vac/pump[!.+]0*/*", None),
      ("cs1", "*/mag/[[]x]/*", None),
      ("cs1", "*/mag/*", None),
      ("cs2", "*", None),
      ("cs3", "*", None)),
      Seq("cs1" -> ".", "cs1" -> "+", "cs1" -> "PUMP", "cs1" -> "\u00e9",
        "cs1" -> "", "cs1" -> "[x]", "cs1" -> "\\", "cs2" -> "TX"))
    for ((conf, names, globs, terms) <- Seq(events, tricky)) {
      val s = catalogShim(conf, names)
      try {
        val cs = getFrom(s, "/controlsystems")
        assert(cs.statusCode() == 200)
        assert(cs.body() == Json.write(Map("controlsystems" ->
          strings(ArchiveApi.controlSystems(conf)))))
        for ((c, glob, max) <- globs) {
          val r = attributesOf(s, c, glob, max)
          val want = strings(ArchiveApi.attributes(names, c, glob,
            max.getOrElse(100)))
          assert(r.statusCode() == 200, s"$c $glob")
          assert(r.body() == Json.write(Map("attributes" -> want)),
            s"/attributes cs=$c search=$glob max=$max")
        }
        for ((c, term) <- terms) {
          val r = searchOf(s, c, term)
          val want = strings(Catalog.searchSubstring(
            names.where(names("cs_name") === c), term))
          assert(r.statusCode() == 200, s"$c $term")
          assert(r.body() == Json.write(want), s"/search cs=$c target=$term")
        }
      } finally s.stop()
    }
    // the fixture exercises the order Java's String.compareTo gets wrong
    val mag = strings(Catalog.search(trickyNames.where("cs_name = 'cs1'"),
      "*/mag/*"))
    assert(mag != mag.sorted, "fixture must separate UTF-8 and UTF-16 order")
  }

  /** The local property that tags [[jobsDuring]]'s marker jobs. */
  private val Fence = "graft.test.catalogFence"

  /** Spark jobs started while `body` runs. Marker jobs tagged before and
    * after it fence the asynchronous listener bus. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(Fence)))
          .getOrElse("job"))
    }
    def fence(tag: String): Unit = {
      sc.setLocalProperty(Fence, tag)
      try spark.range(1).count() finally sc.setLocalProperty(Fence, null)
    }
    sc.addSparkListener(l)
    try {
      fence("open")
      body
      fence("close")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("close") && System.nanoTime() < deadline)
        Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      val events = seen.asScala.toSeq
      assert(events.contains("close"), "listener bus never drained")
      events.slice(events.lastIndexOf("open") + 1,
        events.indexOf("close")).size
    } finally sc.removeSparkListener(l)
  }

  test("a catalog request inside the TTL runs no Spark job") {
    val ad = new EventsArchiveAdapter(spark, graft.Harness.warmDir)
    val s = catalogShim(ad.attConf, ad.attNames)
    try {
      def catalog(): Unit = {
        assert(getFrom(s, "/controlsystems").statusCode() == 200)
        assert(attributesOf(s, "events.cs:10000", "*/u1*/c*", Some(5))
          .statusCode() == 200)
        assert(searchOf(s, "events.cs:10000", "click").statusCode() == 200)
      }
      assert(jobsDuring(catalog()) > 0, "the first requests load the snapshot")
      assert(jobsDuring(catalog()) == 0)
    } finally s.stop()
  }

  test("the catalog snapshot reloads after 60 s and sees appended names") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-names")
      .resolve("att_names").toString
    def write(rows: Seq[(String, String)], mode: String): Unit =
      rows.map { case (m, n) => ("cs1", "r1", "vac", m, n) }
        .toDF("cs_name", "domain", "family", "member", "name")
        .write.mode(mode).parquet(path)
    write(Seq("pump01" -> "pressure", "pump02" -> "pressure"), "overwrite")
    var now = 0L
    val s = catalogShim(trickyConf, spark.read.parquet(path), () => now)
    def names(): Seq[String] = {
      val r = attributesOf(s, "cs1", "*", None)
      assert(r.statusCode() == 200)
      Json.arr(Json.obj(Json.parse(r.body()))("attributes")).map(Json.str)
    }
    try {
      val before = Seq("r1/vac/pump01/pressure", "r1/vac/pump02/pressure")
      assert(names() == before)
      write(Seq("pump03" -> "pressure"), "append")
      now += HttpShim.CatalogTtlMs - 1
      assert(names() == before, "the snapshot answers until the TTL runs out")
      now += 1
      assert(names() == before :+ "r1/vac/pump03/pressure")
    } finally s.stop()
  }

  test("a stopped shim leaves no handler thread: three shims started, " +
    "queried and stopped in one JVM") {
    val ad = new EventsArchiveAdapter(spark, "/root/testdata/sf0.001")
    def handlerThreads(port: Int): Seq[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.toSeq.filter(t => t.isAlive &&
        t.getName.startsWith(HttpShim.handlerThreadPrefix(port)))
    }
    (1 to 3).foreach { i =>
      val s = new HttpShim(spark, ad.pointsAll, ad.attConf, ad.attNames)
      s.start()
      val port = s.boundPort
      try {
        val at = s"http://127.0.0.1:$port"
        // one request per handler thread, so the pool starts all of them
        (1 to HttpShim.HandlerThreads).foreach { _ =>
          assert(client.send(HttpRequest.newBuilder(URI.create(at + "/health"))
            .GET().build(), HttpResponse.BodyHandlers.ofString())
            .statusCode() == 200)
        }
        val q = client.send(HttpRequest.newBuilder(URI.create(at + "/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"targets": [{"target": "u1/click"}],
              |"range": {"from": "2024-01-05", "to": "2024-01-20"}}"""
              .stripMargin)).build(), HttpResponse.BodyHandlers.ofString())
        assert(q.statusCode() == 200 && q.body().contains("u1/click"))
        assert(handlerThreads(port).size == HttpShim.HandlerThreads,
          s"shim $i")
      } finally s.stop()
      assert(handlerThreads(port).isEmpty,
        s"shim $i left ${handlerThreads(port).map(_.getName)}")
    }
  }

  // ------------------------------------------------------------ /image cache

  private def imageReq(w: Int, h: Int,
      attrs: Seq[String] = Seq("u1/click")): String =
    Json.write(Map(
      "attributes" -> attrs.map(n => Map("name" -> n, "color" -> "#00ff00",
        "y_axis" -> 0.0)),
      "time_range" -> Seq("2024-01-05", "2024-01-20"),
      "size" -> Seq(w.toDouble, h.toDouble)))

  /** POST `json` to `/image` of `s`, in gzip or identity, optionally
    * conditional on `etag`; the raw wire bytes come back. */
  private def postImage(s: HttpShim, json: String, gzip: Boolean,
      etag: Option[String] = None): HttpResponse[Array[Byte]] = {
    val b = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${s.boundPort}/image"))
      .header("Accept-Encoding", if (gzip) "gzip" else "identity")
    etag.foreach(b.header("If-None-Match", _))
    client.send(b.POST(HttpRequest.BodyPublishers.ofString(json)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
  }

  private def etagOf(r: HttpResponse[_]): String =
    r.headers().firstValue("ETag").orElse("")

  /** An image-only shim over `points`, started; stopped after `f`. */
  private def withShim[T](points: DataFrame)(f: HttpShim => T): T = {
    val s = new HttpShim(spark, points, spark.emptyDataFrame,
      spark.emptyDataFrame)
    s.start()
    try f(s) finally s.stop()
  }

  /** What a shim with an empty cache answers. */
  private def fresh(points: DataFrame, json: String,
      gzip: Boolean): HttpResponse[Array[Byte]] =
    withShim(points)(postImage(_, json, gzip))

  /** A three-file copy of the `Harness.warmDir` events, split at
    * 2024-01-11 and 2024-01-21 into `chunk-<i>.parquet`; the directory
    * goes to `f`. */
  private def withArchive[T](f: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-image-cache")
    java.nio.file.Files.createDirectory(dir.resolve("events.parquet"))
    try {
      (0 until 3).foreach(i => writeChunk(dir, i, identity))
      f(dir)
    } finally deleteTree(dir)
  }

  private def deleteTree(root: java.nio.file.Path): Unit =
    java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))

  private val ChunkEdges = Seq("2024-01-01", "2024-01-11", "2024-01-21",
    "2024-02-01").map(d => java.time.LocalDate.parse(d).atStartOfDay())

  private def chunk(i: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    spark.read.parquet(s"${graft.Harness.warmDir}/events.parquet")
      .where(col("ts") >= lit(ChunkEdges(i)) && col("ts") < lit(ChunkEdges(i + 1)))
  }

  /** (Re)write chunk `i` of the archive at `dir` from `edit(chunk(i))`. */
  private def writeChunk(dir: java.nio.file.Path, i: Int,
      edit: DataFrame => DataFrame): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-chunk")
    try {
      val out = tmp.resolve("out")
      edit(chunk(i)).coalesce(1).write.parquet(out.toString)
      val part = java.nio.file.Files.list(out).filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.findFirst().get()
      java.nio.file.Files.move(part,
        dir.resolve("events.parquet").resolve(s"chunk-$i.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally deleteTree(tmp)
  }

  /** The three attributes with the most points in chunk 1. */
  private def busiestInChunk1: Seq[String] = {
    import org.apache.spark.sql.functions.{col, concat, desc, lit}
    chunk(1).groupBy(concat(lit("u"), col("user_id"), lit("/"),
        col("event_type")).as("n")).count()
      .orderBy(desc("count"), col("n")).limit(3).collect()
      .map(_.getString(0)).toSeq
  }

  test("a stored /image answer is byte-identical to a fresh shim's, " +
    "gzip and identity, ETag included") {
    val ad = new EventsArchiveAdapter(spark, graft.Harness.warmDir)
    val req = imageReq(110, 55)
    for (gzip <- Seq(true, false)) {
      val first = postImage(shim, req, gzip)
      val hit = postImage(shim, req, gzip)
      val want = fresh(ad.pointsAll, req, gzip)
      for (r <- Seq(first, hit, want)) assert(r.statusCode() == 200)
      assert(hit.body().sameElements(want.body()), s"gzip=$gzip")
      assert(hit.body().sameElements(first.body()), s"gzip=$gzip")
      assert(etagOf(hit) == etagOf(want) && etagOf(hit).nonEmpty)
      assert(hit.headers().firstValue("Content-Encoding").orElse("") ==
        (if (gzip) "gzip" else ""))
    }
  }

  test("a second identical /image runs no Spark job") {
    val req = imageReq(130, 65)
    assert(jobsDuring(assert(postImage(shim, req, gzip = true)
      .statusCode() == 200)) > 0, "the first request renders")
    assert(jobsDuring(assert(postImage(shim, req, gzip = true)
      .statusCode() == 200)) == 0)
  }

  test("a stored /image answers its own ETag with a 304 and no job") {
    val req = imageReq(120, 60)
    val first = postImage(shim, req, gzip = true)
    assert(first.statusCode() == 200)
    var cond: HttpResponse[Array[Byte]] = null
    assert(jobsDuring {
      cond = postImage(shim, req, gzip = true, etag = Some(etagOf(first)))
    } == 0)
    assert(cond.statusCode() == 304 && cond.body().isEmpty)
    assert(etagOf(cond) == etagOf(first))
  }

  test("a rewritten file inside the window re-keys /image once the " +
    "catalog reload refreshes the relation")(withArchive { dir =>
    val attrs = busiestInChunk1
    val req = imageReq(100, 50, attrs)
    var now = 0L
    val ad = new EventsArchiveAdapter(spark, dir.toString)
    val s = new HttpShim(spark, ad.pointsAll, ad.attConf, ad.attNames, 0,
      None, () => now)
    s.start()
    try {
      val first = postImage(s, req, gzip = false)
      assert(first.statusCode() == 200)
      assert(getFrom(s, "/controlsystems").statusCode() == 200)
      // values scaled, so every y-range and hover min/max moves
      writeChunk(dir, 1, c => c.withColumn("value",
        org.apache.spark.sql.functions.col("value") * 3 + 7))
      now += HttpShim.CatalogTtlMs
      assert(getFrom(s, "/controlsystems").statusCode() == 200)
      val after = postImage(s, req, gzip = false)
      assert(after.statusCode() == 200)
      val want = fresh(new EventsArchiveAdapter(spark, dir.toString).pointsAll,
        req, gzip = false)
      assert(after.body().sameElements(want.body()))
      assert(!after.body().sameElements(first.body()))
      assert(etagOf(after) != etagOf(first))
    } finally s.stop()
  })

  test("a points frame that is not a file relation is never cached") {
    val ad = new EventsArchiveAdapter(spark, graft.Harness.warmDir)
    val all = ad.pointsAll
    import scala.jdk.CollectionConverters._
    val local = spark.createDataFrame(all.collect().toSeq.asJava, all.schema)
    assert(local.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val req = imageReq(100, 50)
    withShim(local) { s =>
      val first = postImage(s, req, gzip = false)
      assert(first.statusCode() == 200)
      assert(jobsDuring(assert(postImage(s, req, gzip = false)
        .statusCode() == 200)) > 0)
      // the same answer the file-backed frame gives
      assert(first.body().sameElements(
        fresh(ad.pointsAll, req, gzip = false).body()))
    }
  }

  test("past its byte bound the /image cache evicts the least recently " +
    "used answer; an answer over a quarter of the bound is not stored") {
    val lru = new HttpShim.ImageLru[String](100)
    def answer(n: Int) = HttpShim.Answer(new Array[Byte](n), "\"e\"", false)
    Seq("a", "b", "c", "d").foreach(lru.put(_, answer(25)))
    assert(lru.storedBytes == 100)
    assert(lru.get("a").isDefined) // now the most recently used
    lru.put("e", answer(25))
    assert(lru.get("b").isEmpty, "b was the least recently used")
    assert(Seq("a", "c", "d", "e").forall(lru.get(_).isDefined))
    assert(lru.storedBytes == 100)
    lru.put("big", answer(26))
    assert(lru.get("big").isEmpty && lru.storedBytes == 100)
    lru.put("a", answer(10)) // a replaced entry gives its bytes back
    assert(lru.storedBytes == 85)
  }

  test("a failed /image render is not cached")(withArchive { dir =>
    val req = imageReq(100, 50, busiestInChunk1)
    val ad = new EventsArchiveAdapter(spark, dir.toString)
    withShim(ad.pointsAll) { s =>
      val file = dir.resolve("events.parquet").resolve("chunk-1.parquet")
      val good = java.nio.file.Files.readAllBytes(file)
      // same length, no parquet footer: the scan fails, the listing
      // the index holds does not change
      java.nio.file.Files.write(file, new Array[Byte](good.length))
      val failed = postImage(s, req, gzip = false)
      assert(failed.statusCode() == 500)
      java.nio.file.Files.write(file, good)
      val retried = postImage(s, req, gzip = false)
      assert(retried.statusCode() == 200)
      assert(retried.body().sameElements(fresh(
        new EventsArchiveAdapter(spark, dir.toString).pointsAll, req,
        gzip = false).body()))
    }
  })

  test("two concurrent identical /image requests render once") {
    val ad = new EventsArchiveAdapter(spark, graft.Harness.warmDir)
    val req = imageReq(140, 70)
    var once = 0
    withShim(ad.pointsAll)(s =>
      once = jobsDuring(assert(postImage(s, req, gzip = true)
        .statusCode() == 200)))
    assert(once > 0)
    // the second request goes out once the first one's render has
    // started its first job
    val rendering = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty(Fence) == null))
          rendering.countDown()
    }
    withShim(ad.pointsAll) { s =>
      var both = Seq.empty[HttpResponse[Array[Byte]]]
      spark.sparkContext.addSparkListener(l)
      val twice = try jobsDuring {
        val a = java.util.concurrent.CompletableFuture.supplyAsync(() =>
          postImage(s, req, gzip = true))
        assert(rendering.await(60, java.util.concurrent.TimeUnit.SECONDS))
        val b = postImage(s, req, gzip = true)
        both = Seq(a.get(120, java.util.concurrent.TimeUnit.SECONDS), b)
      } finally spark.sparkContext.removeSparkListener(l)
      assert(both.forall(_.statusCode() == 200))
      assert(both(0).body().sameElements(both(1).body()))
      assert(twice == once, s"two requests ran $twice jobs, one runs $once")
    }
  }

  test("a small /image is one driver page: at most two Spark jobs") {
    val ad = new EventsArchiveAdapter(spark, graft.Harness.warmDir)
    withShim(ad.pointsAll) { s =>
      val jobs = jobsDuring(assert(postImage(s, imageReq(150, 60),
        gzip = false).statusCode() == 200))
      assert(jobs > 0 && jobs <= 2, s"a small /image ran $jobs jobs")
    }
  }

  test("concurrent different /image requests answer the bodies they " +
    "answer one at a time") {
    val ad = new EventsArchiveAdapter(spark, graft.Harness.warmDir)
    val reqs = Seq(imageReq(160, 64), imageReq(90, 30, Seq("u14/view",
      "u9/purchase")), imageReq(200, 80, Seq("u2/view")), imageReq(75, 25,
      Seq("u3/click", "u5/click", "u1/click")))
    val alone = reqs.map(r => fresh(ad.pointsAll, r, gzip = false).body())
    withShim(ad.pointsAll) { s =>
      val start = new java.util.concurrent.CountDownLatch(1)
      val futures = reqs.map(r => java.util.concurrent.CompletableFuture
        .supplyAsync(() => { start.await(); postImage(s, r, gzip = false) }))
      start.countDown()
      val together = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(together.forall(_.statusCode() == 200))
      together.map(_.body()).zip(alone).zipWithIndex.foreach {
        case ((got, want), i) => assert(got.sameElements(want), s"request $i")
      }
    }
  }
}
