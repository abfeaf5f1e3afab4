package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
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
  }
}
