package graft.render

import java.io.ByteArrayInputStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.api.ArchiveApi

class RenderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("CSV block format golden (K1, data.py:50-55)") {
    val s = Seq(
      Render.Series("r3/vac/p1/pressure",
        Seq((100.0, Some(1.5)), (200.0, None))),
      Render.Series("r3/mag/d1/current", Seq((150.5, Some(2.0)))))
    assert(Render.csv(s) ==
      "r3/vac/p1/pressure\nt[us],value_r\n100,1.5\n200,\n" +
        "\nr3/mag/d1/current\nt[us],value_r\n150.5,2.0\n")
  }

  test("Grafana JSON golden: NaN→null, ms timestamps (K2, data.py:58-75)") {
    val s = Seq(Render.Series("a/b/c/d",
      Seq((1704067200000000.0, Some(1.5)), (1704067260000000.0, None))))
    assert(Render.grafanaJson(s) ==
      """[{"target": "a/b/c/d", "datapoints": """ +
        """[[1.5, 1704067200000.0], [null, 1704067260000.0]]}]""")
  }

  test("shade maps counts to alpha, flipping y to PNG row order (K3)") {
    val px = Render.shade(Render.Grid("a", 0xff0000, 2, 2,
      Seq((0, 0, 2L), (1, 1, 1L))))
    // py=0 → bottom row (PNG row 1); py=1 → top row (PNG row 0)
    assert((px(2) >>> 24) == 255) // (0,0) full alpha at row1,col0
    assert((px(1) >>> 24) > 0 && (px(1) & 0xffffff) == 0xff0000)
    assert(px(0) == 0 && px(3) == 0)
  }

  test("shadeEqHist ranks counts by CDF, immune to heavy-tailed grids") {
    // counts 1,1,1000: linear washes the 1s to near-minimum alpha;
    // eq-hist gives them rank 1 of 2 → mid alpha, hot cell top alpha
    val g = Render.Grid("a", 0x00ff00, 4, 1,
      Seq((0, 0, 1L), (1, 0, 1L), (2, 0, 1000L)))
    val eq = Render.shadeEqHist(g)
    val lin = Render.shade(g)
    val aEq = (eq(0) >>> 24); val aHot = (eq(2) >>> 24)
    assert(aEq == 64 + 191 / 2 && aHot == 255)
    assert((lin(0) >>> 24) < aEq, "linear washes out the cold cells")
    assert(eq(3) == 0) // untouched pixel stays transparent
    // equal counts → identical mapping in both (single rank = max)
    val uni = Render.Grid("a", 0xff0000, 2, 1, Seq((0, 0, 3L), (1, 0, 3L)))
    assert(Render.shadeEqHist(uni).toSeq.take(2)
      .forall(p => (p >>> 24) == 255))
  }

  test("stack composites layers src-over and encodes a decodable PNG (U4/C10)") {
    val a = Render.shade(Render.Grid("a", 0xff0000, 2, 2, Seq((0, 0, 1L))))
    val b = Render.shade(Render.Grid("b", 0x0000ff, 2, 2, Seq((0, 0, 1L))))
    val img = Render.stack(Seq(a, b), 2, 2)
    val b64 = Render.pngBase64(img)
    val decoded = javax.imageio.ImageIO.read(new ByteArrayInputStream(
      java.util.Base64.getDecoder.decode(b64)))
    assert(decoded.getWidth == 2 && decoded.getHeight == 2)
    val p = decoded.getRGB(0, 1) // py=0 → bottom row
    assert(((p >>> 24) & 0xff) > 0)
    assert((p & 0xff) > ((p >> 16) & 0xff)) // blue stacked over red
  }

  test("attributes route filters by cs, globs, and applies the max cap") {
    val names = Seq(
      ("cs1", "r3", "vac", "p1", "pressure"),
      ("cs1", "r3", "vac", "p2", "pressure"),
      ("cs1", "r3", "vac", "p3", "pressure"),
      ("cs2", "r3", "vac", "p4", "pressure"))
      .toDF("cs_name", "domain", "family", "member", "name")
    val r = ArchiveApi.attributes(names, "cs1", "*/vac/*", max = 2)
    assert(r.count() == 2) // cs2 filtered out, cap applied to cs1's 3
  }

  test("parameterAt and history route through the catalog operators") {
    val params = Seq((7, 100L, "label=a"), (7, 200L, "label=b"),
      (8, 150L, "label=c")).toDF("att_conf_id", "recv_time", "value")
    val p = ArchiveApi.parameterAt(params, 7, 250L).collect()
    assert(p.length == 1 && p.head.getString(2) == "label=b")
    val hist = Seq((7, 10L, "start"), (7, 20L, "pause"), (7, 30L, "start"),
      (9, 15L, "start")).toDF("att_conf_id", "time", "event")
    val h = ArchiveApi.history(hist, 7, 5L, 25L).collect()
    assert(h.map(_.getString(2)).toSeq == Seq("start", "pause"))
  }

  test("rawQuery renders CSV and Grafana JSON end-to-end (§3.2)") {
    val pts = Seq(
      ("u1/click", 1L, 100L, 1.0), ("u1/click", 2L, 200L, Double.NaN),
      ("u2/view", 3L, 150L, 3.0), ("u1/click", 4L, 900L, 9.9))
      .toDF("att_name", "point_id", "t", "value_r")
    val csv = ArchiveApi.rawQuery(pts, Seq("u1/click", "u2/view"),
      0L, 500L, None, asCsv = true)
    assert(csv == "u1/click\nt[us],value_r\n100,1.0\n200,\n" +
      "\nu2/view\nt[us],value_r\n150,3.0\n")
    val json = ArchiveApi.rawQuery(pts, Seq("u2/view"), 0L, 500L, None,
      asCsv = false)
    assert(json ==
      """[{"target": "u2/view", "datapoints": [[3.0, 0.15]]}]""")
  }

  test("rawQuery bounds an un-intervaled render with a real top-k cap") {
    // 5000 raw points, no interval — the reference path would collect
    // them all (data.py:63-66); the cap must keep the render bounded
    // AND deterministic: the k EARLIEST points, not arbitrary
    val pts = (0 until 5000)
      .map(i => ("big/attr", i.toLong, i.toLong * 3, i.toDouble))
      .toDF("att_name", "point_id", "t", "value_r")
    val csv = ArchiveApi.rawQuery(pts, Seq("big/attr"), 0L, 100000L,
      None, asCsv = true, maxRows = 7)
    val lines = csv.split("\n")
    assert(lines.length == 9) // series name + header + exactly 7 rows
    assert(lines.drop(2).map(_.split(",")(0).toDouble).toSeq ==
      (0 until 7).map(_ * 3.0))
    // the cap is a uniform TIME cut: an attribute sorting after the
    // whale must still appear (attr-first ordering would drop it
    // entirely — indistinguishable from no data)
    val two = pts.unionByName(Seq(("z/late", 9000L, 4L, 7.5))
      .toDF("att_name", "point_id", "t", "value_r"))
    val csv2 = ArchiveApi.rawQuery(two, Seq("big/attr", "z/late"),
      0L, 100000L, None, asCsv = true, maxRows = 7)
    assert(csv2.contains("z/late\nt[us],value_r\n4,7.5\n"),
      s"later-sorted attribute vanished under the cap:\n$csv2")
    val json = ArchiveApi.rawQuery(pts, Seq("big/attr"), 0L, 100000L,
      None, asCsv = false, maxRows = 5)
    val dps = graft.server.Json.arr(graft.server.Json.obj(
      graft.server.Json.arr(graft.server.Json.parse(json))(0))("datapoints"))
    assert(dps.length == 5)
    // the default cap leaves small results untouched
    val full = ArchiveApi.rawQuery(pts, Seq("big/attr"), 0L, 100000L,
      None, asCsv = true)
    assert(full.split("\n").length == 5002)
  }

  test("streaming raw render: peak driver buffer is ONE sort partition, " +
    "not the whole cap") {
    // the rawQuery scaladoc claims toLocalIterator holds one range
    // partition of the final sort at a time; this measures that claim
    // on the REAL frame (rawQueryFrame IS what rawQuery iterates).
    // Without rawQueryFrame's explicit repartitionByRange the claim is
    // VACUOUS: limit() emits one TakeOrderedAndProject partition,
    // which trivially satisfies the regroup sort's distribution, so
    // the whole cap would sit in a single local-sorted partition (this
    // test failed exactly that way before the operator fix). With it,
    // the capped rows must spread over ceil(cap/batchRows) range
    // partitions, none holding more than a balanced share — peak
    // driver state is one batch, not the cap — and partition order
    // must equal global render order so the stream is still in-order.
    val n = 40000
    val cap = 8000
    val pts = (0 until n)
      .map(i => (s"a${i % 4}/attr", i.toLong, i.toLong * 3, i.toDouble))
      .toDF("att_name", "point_id", "t", "value_r")
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      val frame = ArchiveApi.rawQueryFrame(pts,
        Seq("a0/attr", "a1/attr", "a2/attr", "a3/attr"),
        0L, 1000000000L, None, cap, batchRows = 2000)
      val perPart = frame.rdd
        .mapPartitions(it => Iterator.single(it.toSeq)).collect()
      val sizes = perPart.map(_.size)
      assert(sizes.sum == cap)
      val nonEmpty = sizes.filter(_ > 0)
      assert(nonEmpty.length > 1,
        s"cap landed in one partition — peak buffer IS the cap: " +
          s"${sizes.mkString(",")}")
      val mean = cap.toDouble / nonEmpty.length
      assert(nonEmpty.max <= 2.0 * mean,
        s"range partitions unbalanced: max ${nonEmpty.max} vs mean $mean")
      // partition-concatenation order IS the render order: attr-major
      // (_ord), then time — flattening partitions in index order must
      // yield a globally sorted sequence
      val flat = perPart.flatten.map(r =>
        (r.getLong(3), r.getDouble(1), r.getDouble(2)))
      assert(flat.length == cap && flat.sameElements(flat.sorted),
        "partition order diverged from global render order")
      info(s"cap=$cap over ${nonEmpty.length} partition(s), " +
        s"peak buffered rows=${nonEmpty.max}")
    } finally spark.conf.set(coalesceKey, saved)
  }

  test("rawQuery with interval resamples before rendering (A1 + K2)") {
    val pts = Seq(("a", 1L, 400L, 2.0), ("a", 2L, 600L, 4.0),
      ("a", 3L, 1400L, 6.0)).toDF("att_name", "point_id", "t", "value_r")
    val json = ArchiveApi.rawQuery(pts, Seq("a"), 0L, 2000L, Some("1ms"),
      asCsv = false)
    // bucket 0 mean t=400; bucket 1000 mean t=1000, mean v=5.0
    assert(json == """[{"target": "a", "datapoints": """ +
      """[[2.0, 0.4], [5.0, 1.0]]}]""")
  }

  /** `n` points over three attributes, one every 10 µs, with NaN runs:
    * at a "10us" interval every point is its own bucket, so the raw and
    * the intervaled answer both have `n` rows. Filtered from a range
    * longer than one page so that, as over a file scan, the optimizer
    * knows no row bound within the page. */
  private def answerOf(n: Int) = {
    import org.apache.spark.sql.functions._
    answerRows(spark.range(n.toLong + B + 1).where(col("id") < n))
  }
  /** [[answerOf]]'s columns over the ids `ids`. */
  private def answerRows(ids: org.apache.spark.sql.Dataset[java.lang.Long]) = {
    import org.apache.spark.sql.functions._
    ids.select(
      concat(lit("a"), (col("id") % 3).cast("string")).as("att_name"),
      col("id").as("point_id"), (col("id") * 10).as("t"),
      when(col("id") % 13 === 0, lit(Double.NaN))
        .otherwise((col("id") % 17).cast("double")).as("value_r"))
  }
  private val answerAttrs = Seq("a2", "a0", "a1") // not lexicographic
  private val B = ArchiveApi.DriverPageRows

  /** The body the range regroup renders: `rawQueryFrame(…, maxRows)`
    * iterated partition by partition with rawQuery's render loop. */
  private def regroupedBody(n: Int, interval: Option[String],
      asCsv: Boolean, maxRows: Int): String =
    regroupedBody(answerOf(n), interval, asCsv, maxRows)

  private def regroupedBody(points: org.apache.spark.sql.DataFrame,
      interval: Option[String], asCsv: Boolean, maxRows: Int): String = {
    val it = ArchiveApi.rawQueryFrame(points, answerAttrs, 0L,
      Long.MaxValue / 2, interval, maxRows).toLocalIterator()
    val w: Render.SeriesStream =
      if (asCsv) new Render.CsvStream(new java.lang.StringBuilder)
      else new Render.GrafanaStream(new java.lang.StringBuilder)
    var current: String = null
    while (it.hasNext) {
      val r = it.next()
      val name = r.getString(0)
      if (name != current) { w.startSeries(name); current = name }
      val v = r.getDouble(2)
      w.row(r.getDouble(1), if (v.isNaN) None else Some(v))
    }
    w.finish()
  }

  private def checkBodies(n: Int, maxRows: Int): Unit =
    for (interval <- Seq(None, Some("10us")); asCsv <- Seq(true, false)) {
      val got = ArchiveApi.rawQuery(answerOf(n), answerAttrs, 0L,
        Long.MaxValue / 2, interval, asCsv, maxRows)
      val want = regroupedBody(n, interval, asCsv, maxRows)
      assert(got == want, s"n=$n maxRows=$maxRows interval=$interval " +
        s"csv=$asCsv: ${got.length} vs ${want.length} chars")
    }

  for ((label, n) <- Seq("1 row" -> 1, "DriverPageRows rows" -> B,
      "DriverPageRows + 1 rows" -> (B + 1)))
    test(s"rawQuery of an answer of $label renders the range regroup's " +
      "body (raw and intervaled, CSV and JSON)") {
      checkBodies(n, ArchiveApi.DefaultRawRowCap)
    }

  test("rawQuery under a cap below one batch that the answer hits " +
    "renders the range regroup's body") {
    checkBodies(5000, 1000)
    assert(ArchiveApi.rawQuery(answerOf(5000), answerAttrs, 0L,
      Long.MaxValue / 2, None, asCsv = true, maxRows = 1000)
      .split("\n").count(_.headOption.exists(_.isDigit)) == 1000)
  }

  test("rawQuery: an answer of one batch is one collect; one row more " +
    "takes the range regroup") {
    def jobs(n: Int, interval: Option[String]) = jobsAndCompiles(
      ArchiveApi.rawQuery(answerOf(n), answerAttrs, 0L, Long.MaxValue / 2,
        interval, asCsv = false))._1
    val (raw, intervaled) = (jobs(B, None), jobs(B, Some("10us")))
    assert(raw == 1, s"a one-batch raw answer ran $raw jobs")
    assert(intervaled <= 2, s"a one-batch intervaled answer ran $intervaled")
    val over = jobs(B + 1, None)
    assert(over > raw + 1, s"one row over a batch ran $over jobs")
  }

  test("imageQuery produces per-axis PNGs and hover descs (§3.1)") {
    val pts = (0 until 50).map { i =>
      ("sensor/a", i.toLong, i.toLong * 20, 1.0 + (i % 10))
    } ++ Seq(("sensor/b", 100L, 500L, 42.0))
    val df = pts.toDF("att_name", "point_id", "t", "value_r")
    val res = ArchiveApi.imageQuery(df,
      Seq(ArchiveApi.AttrSpec("sensor/a", 0xff0000, 0),
        ArchiveApi.AttrSpec("sensor/b", 0x00ff00, 1)),
      0L, 1000L, 16, 8)
    assert(res.images.keySet == Set("0", "1"))
    val img0 = res.images("0")
    val decoded = javax.imageio.ImageIO.read(new ByteArrayInputStream(
      java.util.Base64.getDecoder.decode(img0.imageBase64)))
    assert(decoded.getWidth == 16 && decoded.getHeight == 8)
    // axis 0: values 1..10 → padded 5% → (0.55, 10.45)
    assert(math.abs(img0.yRange._1 - 0.55) < 1e-9)
    assert(math.abs(img0.yRange._2 - 10.45) < 1e-9)
    // axis 1 is a constant 42 → invented range (21, 63)
    assert(res.images("1").yRange == (21.0, 63.0))
    val desc = res.descs("sensor/a")
    assert(desc.totalPoints == 50)
    assert(desc.indices.nonEmpty && desc.indices.forall(i => i >= 0 && i < 16))
    assert(desc.counts.sum == 50)
    // x range reported in ms
    assert(img0.xRangeMs == (0.0, 1.0))
  }

  test("imageQuery antialias opt-in renders a valid PNG, same envelope") {
    val pts = (0 until 50).map { i =>
      ("sensor/a", i.toLong, i.toLong * 20, 1.0 + (i % 10))
    }
    val df = pts.toDF("att_name", "point_id", "t", "value_r")
    val attrs = Seq(ArchiveApi.AttrSpec("sensor/a", 0xff0000, 0))
    val aa = ArchiveApi.imageQuery(df, attrs, 0L, 1000L, 16, 8,
      antialias = true)
    val plain = ArchiveApi.imageQuery(df, attrs, 0L, 1000L, 16, 8)
    // envelope identical (ranges, descs come from the same phases)…
    assert(aa.images("0").yRange == plain.images("0").yRange)
    assert(aa.descs("sensor/a").totalPoints == 50)
    val decoded = javax.imageio.ImageIO.read(new ByteArrayInputStream(
      java.util.Base64.getDecoder.decode(aa.images("0").imageBase64)))
    assert(decoded.getWidth == 16 && decoded.getHeight == 8)
    // …and the AA render is deterministic across executions
    val aa2 = ArchiveApi.imageQuery(df, attrs, 0L, 1000L, 16, 8,
      antialias = true)
    assert(aa2.images("0").imageBase64 == aa.images("0").imageBase64)
  }

  test("imageQuery honors manual axis min/max overrides (plot.py:102-104)") {
    val df = (0 until 20).map(i => ("a", i.toLong, i.toLong * 50, 1.0 + i % 5))
      .toDF("att_name", "point_id", "t", "value_r")
    val res = ArchiveApi.imageQuery(df,
      Seq(ArchiveApi.AttrSpec("a", 0xff0000, 0)), 0L, 1000L, 8, 4,
      axes = Map(0 -> ArchiveApi.AxisSpec(min = Some(0.0), max = Some(10.0))))
    // manual range 0..10 padded 5% → (-0.5, 10.5), not the data's 1..5
    assert(res.images("0").yRange == (-0.5, 10.5))
  }

  test("imageQuery log axis: positive filter + log-space padding") {
    val df = Seq(("a", 1L, 100L, 1.0), ("a", 2L, 300L, 100.0),
      ("a", 3L, 500L, -5.0)) // negative dropped by the log filter
      .toDF("att_name", "point_id", "t", "value_r")
    val res = ArchiveApi.imageQuery(df,
      Seq(ArchiveApi.AttrSpec("a", 0xff0000, 0)), 0L, 1000L, 8, 4,
      axes = Map(0 -> ArchiveApi.AxisSpec(scale = Some("log"))))
    val (lo, hi) = res.images("0").yRange
    assert(math.abs(lo - math.pow(10, -0.1)) < 1e-9)
    assert(math.abs(hi - math.pow(10, 2.1)) < 1e-9)
  }

  test("imageQuery log axis + antialias: non-positive values break the " +
    "line, render stays valid") {
    // the q29 bug: under logScale a non-positive value's null py used
    // to clamp to the TOP row (least() skips nulls); with antialias on
    // the same guard must hold through the AA kernel on the route path
    val df = Seq(("a", 1L, 100L, 1.0), ("a", 2L, 300L, 100.0),
      ("a", 3L, 500L, -5.0), ("a", 4L, 700L, 10.0))
      .toDF("att_name", "point_id", "t", "value_r")
    val res = ArchiveApi.imageQuery(df,
      Seq(ArchiveApi.AttrSpec("a", 0xff0000, 0)), 0L, 1000L, 8, 4,
      axes = Map(0 -> ArchiveApi.AxisSpec(scale = Some("log"))),
      antialias = true)
    val decoded = javax.imageio.ImageIO.read(new ByteArrayInputStream(
      java.util.Base64.getDecoder.decode(res.images("0").imageBase64)))
    assert(decoded.getWidth == 8 && decoded.getHeight == 4)
    // the top row must NOT be lit at the -5 point's pixel column: a
    // clamped py would paint px=4 row-top; a broken line leaves it
    val topRowAlpha = (0 until 8).map(x => (decoded.getRGB(x, 0) >>> 24))
    assert(topRowAlpha(4) == 0,
      s"non-positive value leaked onto the log-axis top row: $topRowAlpha")
    // determinism across executions (same AA + log path)
    val again = ArchiveApi.imageQuery(df,
      Seq(ArchiveApi.AttrSpec("a", 0xff0000, 0)), 0L, 1000L, 8, 4,
      axes = Map(0 -> ArchiveApi.AxisSpec(scale = Some("log"))),
      antialias = true)
    assert(again.images("0").imageBase64 == res.images("0").imageBase64)
  }

  test("imageQuery skips all-NaN attributes (nodata, plot.py:118-121)") {
    val df = Seq(("a", 1L, 100L, Double.NaN), ("a", 2L, 200L, Double.NaN),
      ("b", 3L, 100L, 5.0), ("b", 4L, 200L, 6.0))
      .toDF("att_name", "point_id", "t", "value_r")
    val res = ArchiveApi.imageQuery(df,
      Seq(ArchiveApi.AttrSpec("a", 0xff0000, 0),
        ArchiveApi.AttrSpec("b", 0x00ff00, 0)), 0L, 1000L, 8, 4)
    assert(res.images.contains("0"))
    assert(!res.descs.contains("a") && res.descs.contains("b"))
  }

  /** Three axes over one window: a log axis (with non-positive values
    * and an all-NaN attribute), a manual min/max axis narrower than
    * its data, and attribute "a" listed on two axes. */
  private def multiAxisFixture = {
    val rows = (0 until 60).map(i => ("a", i.toLong, i.toLong * 16,
        1.0 + (i % 10))) ++
      (0 until 40).map(i => ("b", 100L + i, i.toLong * 25,
        (i % 9) - 3.0)) ++
      (0 until 10).map(i => ("nan", 200L + i, i.toLong * 90, Double.NaN)) ++
      (0 until 30).map(i => ("c", 300L + i, i.toLong * 33,
        2.0 + (i % 6) * 0.75))
    rows.toDF("att_name", "point_id", "t", "value_r")
  }
  private val multiAttrs = Seq(
    ArchiveApi.AttrSpec("a", 0xff0000, 0),
    ArchiveApi.AttrSpec("b", 0x00ff00, 1),
    ArchiveApi.AttrSpec("nan", 0x0000ff, 1),
    ArchiveApi.AttrSpec("a", 0xffff00, 2),
    ArchiveApi.AttrSpec("c", 0x00ffff, 2))
  private val multiAxes = Map(
    1 -> ArchiveApi.AxisSpec(scale = Some("log")),
    2 -> ArchiveApi.AxisSpec(min = Some(0.0), max = Some(8.0)))

  Seq(false, true).foreach { aa =>
    test(s"imageQuery over three axes equals one request per axis " +
      s"(antialias=$aa)") {
      val df = multiAxisFixture
      def run(attrs: Seq[ArchiveApi.AttrSpec]) = ArchiveApi.imageQuery(
        df, attrs, 0L, 1000L, 24, 12, multiAxes, antialias = aa)
      val all = run(multiAttrs)
      assert(all.images.keySet == Set("0", "1", "2"))
      val solo = Seq(0, 1, 2).map(ax =>
        ax -> run(multiAttrs.filter(_.yAxis == ax))).toMap
      Seq(0, 1, 2).foreach { ax =>
        val (got, want) = (all.images(ax.toString), solo(ax).images(ax.toString))
        assert(got.imageBase64 == want.imageBase64, s"axis $ax PNG differs")
        assert(got.yRange == want.yRange && got.xRangeMs == want.xRangeMs)
      }
      // the all-NaN attribute has no desc; "a" keeps the desc of the
      // axis iterated last, and its two axes' descs really differ
      // (axis 2's manual max of 8 drops a's 9s and 10s from hover)
      assert(!all.descs.contains("nan") && all.descs.keySet == Set("a", "b", "c"))
      val aAxes = multiAttrs.groupBy(_.yAxis).toSeq.map(_._1)
        .filter(ax => multiAttrs.exists(x => x.yAxis == ax && x.name == "a"))
      assert(solo(0).descs("a") != solo(2).descs("a"))
      assert(all.descs("a") == solo(aAxes.last).descs("a"))
      assert(all.descs("b") == solo(1).descs("b"))
      assert(all.descs("c") == solo(2).descs("c"))
      // the log axis counts only b's positive values
      assert(all.descs("b").totalPoints == (0 until 40).count(i => i % 9 > 3))
    }
  }

  /** Spark jobs and codegen compiles started while a body ran on this
    * thread, and whether a stage of those jobs read a persisted RDD. */
  private final case class JobRun(jobs: Int, compiles: Long,
      persisted: Boolean)

  /** The [[JobRun]] of `body` (jobs matched by a local-property tag,
    * counted once the listener bus has delivered every job end). */
  private def jobRun(body: => Unit): JobRun = {
    import org.apache.spark.scheduler._
    import org.apache.spark.metrics.source.CodegenMetrics
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val persisted = new java.util.concurrent.atomic.AtomicBoolean()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.jobTag") == tag)) {
          started.add(e.jobId)
          if (e.stageInfos.exists(_.rddInfos.exists(_.storageLevel.isValid)))
            persisted.set(true)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (started.contains(e.jobId)) ended.incrementAndGet()
    }
    sc.addSparkListener(l)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.setLocalProperty("graft.test.jobTag", tag)
    try body finally sc.setLocalProperty("graft.test.jobTag", null)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((started.isEmpty || started.size != ended.get) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    sc.removeSparkListener(l)
    JobRun(started.size, compiles, persisted.get)
  }

  /** Jobs and codegen compiles started while `body` runs on this
    * thread. */
  private def jobsAndCompiles(body: => Unit): (Int, Long) = {
    val r = jobRun(body)
    (r.jobs, r.compiles)
  }

  test("imageQuery: a three-axis request runs no more Spark jobs than " +
    "the same attributes on one axis") {
    val df = multiAxisFixture
    val oneAxis = multiAttrs.map(_.copy(yAxis = 0)).distinct
    def run(attrs: Seq[ArchiveApi.AttrSpec]) =
      ArchiveApi.imageQuery(df, attrs, 0L, 1000L, 24, 12, multiAxes)
    val (three, _) = jobsAndCompiles(run(multiAttrs))
    val (one, _) = jobsAndCompiles(run(oneAxis))
    assert(three > 0 && three <= one, s"3 axes: $three jobs, 1 axis: $one")
  }

  test("imageQuery: a second call over a NEW window compiles at most " +
    "one codegen class (the window filter)") {
    val df = multiAxisFixture
    def run(t0: Long, t1: Long, w: Int, h: Int) = ArchiveApi.imageQuery(
      df, multiAttrs, t0, t1, w, h, multiAxes)
    run(0L, 1000L, 24, 12)
    val (_, compiles) = jobsAndCompiles(run(13L, 977L, 31, 9))
    assert(compiles <= 1, s"a new window compiled $compiles classes")
  }

  test("rawQuery over a relation Spark bounds at one page keeps the " +
    "one-partition plan: one job raw, at most two intervaled") {
    // spark.range(B) holds at most B rows, so the optimizer drops the
    // page's limit and its time-first sort
    val bounded = answerRows(spark.range(B.toLong))
    for (interval <- Seq(None, Some("10us"))) {
      var body = ""
      val jobs = jobsAndCompiles {
        body = ArchiveApi.rawQuery(bounded, answerAttrs, 0L,
          Long.MaxValue / 2, interval, asCsv = false)
      }._1
      assert(jobs <= (if (interval.isEmpty) 1 else 2),
        s"interval=$interval ran $jobs jobs")
      assert(body == regroupedBody(bounded, interval, asCsv = false,
        ArchiveApi.DefaultRawRowCap), s"interval=$interval")
    }
  }

  /** `imageQuery` over the first `n` rows of a longer range, one every
    * 10 µs: the window [0, 10·(n − 1)] holds exactly `n` rows. */
  private def imageOfRows(n: Int) = {
    val attrs = Seq(ArchiveApi.AttrSpec("a0", 0xff0000, 0),
      ArchiveApi.AttrSpec("a1", 0x00ff00, 0),
      ArchiveApi.AttrSpec("a2", 0x0000ff, 1))
    val axes = Map(1 -> ArchiveApi.AxisSpec(scale = Some("log")))
    val points = answerOf(n + 100)
    val t1 = 10L * (n - 1)
    def driverBody = {
      val rows = ArchiveApi.windowRows(ArchiveApi.windowOf(points,
        attrs.map(_.name), 0L, t1), "point_id", n + 1)
      assert(rows.length == n)
      ArchiveApi.imageOf(ArchiveApi.OnDriver(rows), attrs, 0L, t1, 240, 90,
        axes, antialias = false)
    }
    var served: ArchiveApi.ImageResult = null
    val run = jobRun {
      served = ArchiveApi.imageQuery(points, attrs, 0L, t1, 240, 90, axes)
    }
    (run, served, () => driverBody)
  }

  test("imageQuery: a window of DriverPageRows rows is one page: at " +
    "most two jobs and no persist") {
    val (run, served, driver) = imageOfRows(B)
    assert(run.jobs <= 2, s"a one-page window ran ${run.jobs} jobs")
    assert(!run.persisted, "a one-page window was persisted")
    assert(served == driver())
    assert(served.images.keySet == Set("0", "1"))
  }

  test("imageQuery: a window of DriverPageRows + 1 rows takes the " +
    "distributed path and renders the driver's body over the same rows") {
    val (run, served, driver) = imageOfRows(B + 1)
    assert(run.persisted && run.jobs > 2,
      s"${run.jobs} jobs, persisted=${run.persisted}")
    assert(served == driver())
  }
}
