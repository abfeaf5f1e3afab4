package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class RasterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("bresenham: horizontal, vertical, diagonal; start cell excluded") {
    assert(Raster.bresenham(0, 0, 3, 0).toSeq ==
      Seq((1, 0), (2, 0), (3, 0)))
    assert(Raster.bresenham(2, 1, 2, 4).toSeq ==
      Seq((2, 2), (2, 3), (2, 4)))
    assert(Raster.bresenham(0, 0, 3, 3).toSeq ==
      Seq((1, 1), (2, 2), (3, 3)))
    assert(Raster.bresenham(5, 5, 5, 5).toSeq == Seq.empty) // degenerate
  }

  test("bresenham: steep and reversed lines cover a connected path") {
    val cells = Raster.bresenham(0, 0, 2, 7)
    assert(cells.length == 7 && cells.last == ((2, 7)))
    val back = Raster.bresenham(3, 2, 0, 0)
    assert(back.last == ((0, 0)) && !back.contains((3, 2)))
  }

  test("pxCol bins µs timestamps, clamping the right edge") {
    val r = Seq(0L, 499L, 500L, 999L, 1000L).toDF("t")
      .select(DeclarativeRaster.pxCol(col("t"), 0L, 1000L, 2).as("px"))
      .as[Long].collect()
    assert(r.toSeq == Seq(0L, 0L, 1L, 1L, 1L)) // t=1000 (t1) clamps to last px
  }

  test("pyCol linear and log scales") {
    val lin = Seq(0.0, 4.9, 5.0, 10.0).toDF("v")
      .select(DeclarativeRaster.pyCol(col("v"), 0.0, 10.0, 2).as("py"))
      .as[Long].collect()
    assert(lin.toSeq == Seq(0L, 0L, 1L, 1L))
    val log = Seq(1.0, 9.0, 10.0, 100.0).toDF("v")
      .select(DeclarativeRaster.pyCol(col("v"), 1.0, 100.0, 2, logScale = true).as("py"))
      .as[Long].collect()
    assert(log.toSeq == Seq(0L, 0L, 1L, 1L))
  }

  test("binPoints: golden 4x2 grid with count/mean/min/max (A5)") {
    val pts = Seq(
      ("a", 0L, 1.0), ("a", 100L, 3.0), // cell (0,0) and (0,1)
      ("a", 600L, 1.0), ("a", 650L, 1.5), // both cell (2,0)
      ("a", 999L, 9.0), // out of value range [0,4]
      ("a", 500L, Double.NaN)) // dropped
      .toDF("att_name", "t", "value_r")
    val grid = DeclarativeRaster.binPoints(pts, Seq("att_name"), 0L, 1000L, 0.0, 4.0, 4, 2)
      .orderBy("px", "py").collect()
    assert(grid.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq == Seq(
      (0L, 0L, 1L, 1.0, 1.0, 1.0),
      (0L, 1L, 1L, 3.0, 3.0, 3.0),
      (2L, 0L, 2L, 1.25, 1.0, 1.5)))
  }

  test("hoverColumns collapses the grid along y (A6)") {
    val pts = Seq(("a", 0L, 1.0), ("a", 100L, 3.0), ("a", 600L, 2.0))
      .toDF("att_name", "t", "value_r")
    val hov = DeclarativeRaster.hoverColumns(
      DeclarativeRaster.binPoints(pts, Seq("att_name"), 0L, 1000L, 0.0, 4.0, 4, 2),
      Seq("att_name")).orderBy("px").collect()
    assert(hov.map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getLong(4))).toSeq == Seq((0L, 1.0, 3.0, 2L), (2L, 2.0, 2.0, 1L)))
  }

  test("binLines: connected polyline cells, NaN breaks the line (A4)") {
    val pts = Seq(
      ("a", 0L, 100L, 0.5), ("a", 1L, 300L, 2.5), // diagonal up
      ("a", 2L, 500L, Double.NaN), // break
      ("a", 3L, 700L, 0.5), ("a", 4L, 900L, 0.5)) // horizontal after break
      .toDF("att_name", "point_id", "t", "value_r")
    val cells = Raster.binLines(pts, Seq("att_name"), "point_id",
      0L, 1000L, 0.0, 4.0, 8, 4).orderBy("px", "py").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // segment (0,0)->(2,2): bresenham gives (1,1),(2,2); NaN kills both
    // adjacent segments; (5,0)->(7,0) gives (6,0),(7,0)
    assert(cells.toSeq == Seq((1L, 1L, 1L), (2L, 2L, 1L), (6L, 0L, 1L),
      (7L, 0L, 1L)))
  }

  test("binLines: a manual range far narrower than the data neither " +
    "wraps nor blows up — off-canvas segments skip, crossings clamp") {
    // pyCol has no bottom clamp, so the -1e7 outlier's py is ~-4e9 (an
    // Int wrap waiting to happen) and a naive Bresenham would emit
    // billions of cells per crossing segment. Range [0, 1]: the
    // outlier segments cross the canvas, the in-range points draw
    // normally, and the whole thing returns promptly with cells only
    // inside the canvas.
    val pts = Seq(
      (0L, 0.2, 1L), (10L, -1.0e7, 2L), (20L, 0.8, 3L),
      (30L, -1.0e7, 4L), (40L, -2.0e7, 5L), // fully-below segment: skipped
      (50L, 0.5, 6L))
      .toDF("t", "value_r", "point_id")
      .withColumn("att_name", lit("a"))
    val cells = Raster.binLines(pts, Seq("att_name"), "point_id",
      0L, 60L, 0.0, 1.0, width = 8, height = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(cells.nonEmpty)
    assert(cells.forall { case (px, py) =>
      px >= 0 && px < 8 && py >= 0 && py < 4 }, s"got ${cells.toSeq}")
  }

  test("binPoints/binLines reject a degenerate window like the fused " +
    "twin (zero span would silently clamp everything into one column)") {
    val pts = Seq((0L, 0.5, 1L)).toDF("t", "value_r", "point_id")
      .withColumn("att_name", lit("a"))
    intercept[IllegalArgumentException] {
      DeclarativeRaster.binPoints(pts, Seq("att_name"), 5L, 5L, 0.0, 1.0, 4, 4)
    }
    intercept[IllegalArgumentException] {
      Raster.binLines(pts, Seq("att_name"), "point_id",
        5L, 5L, 0.0, 1.0, 4, 4)
    }
  }

  test("binLines leaves no persisted RDD: its two jobs share the range " +
    "shuffle") {
    val pts = Seq(
      ("a", 0L, 100L, 0.5), ("a", 1L, 300L, 2.5),
      ("a", 3L, 700L, 0.5), ("a", 4L, 900L, 0.5))
      .toDF("att_name", "point_id", "t", "value_r")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = Raster.binLines(pts, Seq("att_name"), "point_id",
      0L, 1000L, 0.0, 4.0, 8, 4)
    assert(r.count() > 0)
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty,
      s"sorted projection still pinned after materialization: $leaked")
    // a second materialization recomputes, same values
    assert(r.count() > 0)
  }

  test("binLines matches the old single-window formulation on a fixture") {
    // 40 points over two series — enough to span multiple range partitions
    val rows = (0 until 40).map { i =>
      (if (i % 2 == 0) "x" else "y", i.toLong, i.toLong * 25,
        (i % 7).toDouble)
    }
    val pts = rows.toDF("att_name", "point_id", "t", "value_r")
    val fast = Raster.binLines(pts, Seq("att_name"), "point_id",
      0L, 1000L, 0.0, 7.0, 16, 8)
      .orderBy("att_name", "px", "py").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // reference formulation: window lag over each whole series
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("att_name").orderBy("t", "point_id")
    val proj = pts
      .withColumn("px", DeclarativeRaster.pxCol(col("t"), 0L, 1000L, 16))
      .withColumn("py", DeclarativeRaster.pyCol(col("value_r"), 0.0, 7.0, 8))
      .withColumn("px0", lag("px", 1).over(w))
      .withColumn("py0", lag("py", 1).over(w))
      .where(col("px0").isNotNull)
      .collect()
    val slow = proj.flatMap { r =>
      // columns: att_name(0) point_id(1) t(2) value_r(3) px(4) py(5) px0(6) py0(7)
      Raster.bresenham(r.getLong(6).toInt, r.getLong(7).toInt,
        r.getLong(4).toInt, r.getLong(5).toInt)
        .map(c => (r.getString(0), c._1.toLong, c._2.toLong))
    }.filter { case (_, x, y) => x >= 0 && x < 16 && y >= 0 && y < 8 }
      .groupBy(identity).map { case (k, v) => (k._1, k._2, k._3, v.size.toLong) }
      .toSeq.sorted
    assert(fast.toSeq == slow)
  }

  test("lineAA: axis-aligned and 45° lines reproduce bresenham at w=256") {
    assert(Raster.lineAA(0, 0, 3, 0).toSeq ==
      Seq((1, 0, 256L), (2, 0, 256L), (3, 0, 256L)))
    assert(Raster.lineAA(2, 1, 2, 4).toSeq ==
      Seq((2, 2, 256L), (2, 3, 256L), (2, 4, 256L)))
    assert(Raster.lineAA(0, 0, 3, 3).toSeq ==
      Seq((1, 1, 256L), (2, 2, 256L), (3, 3, 256L)))
    assert(Raster.lineAA(5, 5, 5, 5).toSeq == Seq.empty)
  }

  test("lineAA: fractional crossings split 256 units exactly (golden)") {
    // slope 1/2 from (0,0) to (4,2): crossings at y = 0.5, 1, 1.5, 2
    assert(Raster.lineAA(0, 0, 4, 2).toSeq == Seq(
      (1, 0, 128L), (1, 1, 128L), // y=0.5 splits evenly
      (2, 1, 256L),               // y=1 exact
      (3, 1, 128L), (3, 2, 128L), // y=1.5
      (4, 2, 256L)))              // y=2 exact
    // slope 2 is steep: same splits along y, emitted as (x, y)
    assert(Raster.lineAA(0, 0, 2, 4).toSeq == Seq(
      (0, 1, 128L), (1, 1, 128L),
      (1, 2, 256L),
      (1, 3, 128L), (2, 3, 128L),
      (2, 4, 256L)))
    // slope 1/3: thirds round half-up — 256/3 → 85, 171; weights per
    // column always sum to 256
    val thirds = Raster.lineAA(0, 0, 3, 1)
    assert(thirds.toSeq == Seq(
      (1, 0, 171L), (1, 1, 85L),
      (2, 0, 85L), (2, 1, 171L),
      (3, 1, 256L)))
    assert(thirds.groupBy(_._1).forall(_._2.map(_._3).sum == 256L))
    // direction-reversal covers the same columns with mirrored splits
    val fwd = Raster.lineAA(0, 0, 4, 2).filter(_._1 == 2)
    val back = Raster.lineAA(4, 2, 0, 0).filter(_._1 == 2)
    assert(fwd.map(c => (c._2, c._3)).sorted sameElements
      back.map(c => (c._2, c._3)).sorted)
  }

  test("binLinesAA: golden cells, NaN breaks, determinism") {
    val pts = Seq(
      ("a", 0L, 100L, 0.5), ("a", 1L, 300L, 2.5), // diagonal up
      ("a", 2L, 500L, Double.NaN), // break
      ("a", 3L, 700L, 0.5), ("a", 4L, 900L, 0.5)) // horizontal after break
      .toDF("att_name", "point_id", "t", "value_r")
    def run() = Raster.binLinesAA(pts, Seq("att_name"), "point_id",
      0L, 1000L, 0.0, 4.0, 8, 4).orderBy("px", "py").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // same geometry as the binLines golden: the 45° and horizontal
    // segments carry full 256-unit coverage; NaN still kills both
    // adjacent segments
    val want = Seq((1L, 1L, 256L), (2L, 2L, 256L), (6L, 0L, 256L),
      (7L, 0L, 256L))
    assert(run().toSeq == want)
    assert(run().toSeq == want) // deterministic across executions
  }

  test("binLines/binLinesAA with per-key scales equal one call per " +
    "scale; a null scale index drops the series") {
    val rows = (0 until 60).map { i =>
      val k = Seq("lin", "log", "none")(i % 3)
      (k, i.toLong, i.toLong * 15, if (i % 11 == 0) Double.NaN
        else (i % 8) - 2.0)
    }
    val pts = rows.toDF("att_name", "point_id", "t", "value_r")
    val scales = Seq(graft.plans.YScale(-2.0, 5.0),
      graft.plans.YScale(0.5, 5.0, logScale = true))
    val scaleOf = when(col("att_name") === "lin", lit(0))
      .when(col("att_name") === "log", lit(1))
    def only(k: String) = pts.where(col("att_name") === k)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("att_name", "px", "py").collect().map(_.toSeq).toSeq
    val multi = Raster.binLines(pts, Seq("att_name"), "point_id", 0L, 1000L,
      scales, scaleOf, 16, 8)
    val want = Raster.binLines(only("lin"), Seq("att_name"), "point_id",
        0L, 1000L, -2.0, 5.0, 16, 8)
      .unionByName(Raster.binLines(only("log"), Seq("att_name"), "point_id",
        0L, 1000L, 0.5, 5.0, 16, 8, logScale = true))
    assert(canon(multi) == canon(want) && canon(multi).nonEmpty)
    val multiAA = Raster.binLinesAA(pts, Seq("att_name"), "point_id",
      0L, 1000L, scales, scaleOf, 16, 8)
    val wantAA = Raster.binLinesAA(only("lin"), Seq("att_name"), "point_id",
        0L, 1000L, -2.0, 5.0, 16, 8)
      .unionByName(Raster.binLinesAA(only("log"), Seq("att_name"),
        "point_id", 0L, 1000L, 0.5, 5.0, 16, 8, logScale = true))
    assert(canon(multiAA) == canon(wantAA) && canon(multiAA).nonEmpty)
  }
}
