package graft.render

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.api.ArchiveApi
import graft.api.ArchiveApi.{AttrSpec, AxisSpec, Distributed, OnDriver}

/** `imageQuery` renders a window that fits the driver page from its
  * rows on the driver, and a larger one with the executors. Both bodies
  * must agree byte for byte: here each request is rendered both ways
  * over the same window of a seeded archive, written as several parquet
  * files so that windows cross scan-partition boundaries. */
class ImageWindowSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val root =
    java.nio.file.Files.createTempDirectory("graft-image-window")
  private lazy val points: DataFrame =
    spark.read.parquet(root.resolve("p").toString)

  /** Per attribute a series over [0, 20000) µs: steps of 1–12 µs with
    * about one timestamp in ten repeated (the point ids, shuffled
    * against time, order the duplicates), NaN runs of 1–8 points, 3%
    * null values, and 2% outliers 10^4 times the normal scale. "nan"
    * is all NaN; "signed" holds zeros and negatives. */
  private def archive(seed: Long): Seq[(String, Long, Long, Option[Double])] = {
    val rnd = new scala.util.Random(seed)
    val rows = Seq("a", "b", "c", "signed", "nan").flatMap { name =>
      var t = 0L; var nanLeft = 0
      Iterator.continually {
        if (rnd.nextDouble() >= 0.1) t += 1 + rnd.nextInt(12)
        if (nanLeft == 0 && rnd.nextDouble() < 0.03) nanLeft = 1 + rnd.nextInt(8)
        val v =
          if (name == "nan") Some(Double.NaN)
          else if (nanLeft > 0) { nanLeft -= 1; Some(Double.NaN) }
          else if (rnd.nextDouble() < 0.03) None
          else {
            val base = if (name == "signed") (rnd.nextInt(21) - 10).toDouble
              else 50.0 + rnd.nextInt(5000) / 100.0
            Some(if (rnd.nextDouble() < 0.02) base * 1e4 else base)
          }
        (name, t, v)
      }.takeWhile(_._2 < 20000L).toSeq
    }
    val ids = rnd.shuffle(rows.indices.map(_.toLong))
    rows.zip(ids).map { case ((n, t, v), id) => (n, id, t, v) }
  }

  override def beforeAll(): Unit =
    archive(20240105L).toDF("att_name", "point_id", "t", "value_r")
      .repartition(5).sortWithinPartitions("t")
      .write.parquet(root.resolve("p").toString)

  override def afterAll(): Unit =
    java.nio.file.Files.walk(root)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))

  private case class Req(attrs: Seq[AttrSpec], t0: Long, t1: Long,
      w: Int, h: Int, axes: Map[Int, AxisSpec] = Map.empty,
      aa: Boolean = false)

  /** The request rendered from the window's rows on the driver, and by
    * the executors from the same window. */
  private def both(r: Req) = {
    val window = ArchiveApi.windowOf(points, r.attrs.map(_.name).distinct,
      r.t0, r.t1)
    def body(w: ArchiveApi.ImageWindow) = ArchiveApi.imageOf(w, r.attrs,
      r.t0, r.t1, r.w, r.h, r.axes, r.aa)
    val rows = ArchiveApi.windowRows(window, "point_id", Int.MaxValue)
    (rows.length, body(OnDriver(rows)), body(Distributed(window, "point_id")))
  }

  private def assertSame(r: Req): Unit = {
    val (n, driver, dist) = both(r)
    assert(n > 0 && n <= ArchiveApi.DriverPageRows)
    assert(driver.images.keySet == dist.images.keySet)
    driver.images.foreach { case (axis, img) =>
      val other = dist.images(axis)
      assert(img.imageBase64 == other.imageBase64, s"axis $axis PNG, $r")
      assert(img.yRange == other.yRange && img.xRangeMs == other.xRangeMs,
        s"axis $axis ranges, $r")
    }
    assert(driver.descs == dist.descs, s"descs, $r")
    // and imageQuery, whose window fits the page, answers the driver's
    val served = ArchiveApi.imageQuery(points, r.attrs, r.t0, r.t1, r.w,
      r.h, r.axes, antialias = r.aa)
    assert(served.images == driver.images && served.descs == driver.descs)
  }

  private val a = AttrSpec("a", 0xff0000, 0)
  private val b = AttrSpec("b", 0x00ff00, 0)
  private val c = AttrSpec("c", 0x0000ff, 1)
  private val signed = AttrSpec("signed", 0xffff00, 1)
  private val nan = AttrSpec("nan", 0x00ffff, 0)
  private val log1 = Map(1 -> AxisSpec(scale = Some("log")))

  for (aa <- Seq(false, true)) {
    test(s"NaN runs, null values and duplicate timestamps (antialias=$aa)") {
      assertSame(Req(Seq(a, b), 0L, 19999L, 97, 41, aa = aa))
      assertSame(Req(Seq(a), 3000L, 3400L, 50, 20, aa = aa))
    }

    test(s"a log axis over zero and negative values (antialias=$aa)") {
      assertSame(Req(Seq(a, c, signed), 0L, 19999L, 80, 30, log1, aa))
      assertSame(Req(Seq(signed), 1000L, 9000L, 64, 32,
        Map(0 -> AxisSpec(scale = Some("log"))), aa))
    }

    test(s"a manual range that leaves outliers beyond the clamp band " +
      s"(antialias=$aa)") {
      // the 10^4-scale outliers lie ~1000 canvas heights above [0, 120]
      assertSame(Req(Seq(a, b, c), 0L, 19999L, 120, 24,
        Map(0 -> AxisSpec(min = Some(40.0), max = Some(120.0)),
          1 -> AxisSpec(min = Some(0.0), max = Some(1.0))), aa))
    }

    test(s"one attribute on two axes and an all-NaN attribute " +
      s"(antialias=$aa)") {
      assertSame(Req(Seq(a, nan, a.copy(color = 0x808080, yAxis = 1), c),
        0L, 19999L, 73, 29, log1 + (2 -> AxisSpec(max = Some(90.0))), aa))
      assertSame(Req(Seq(nan), 0L, 19999L, 40, 20, aa = aa))
    }
  }

  test("seeded windows across scan partitions: driver and executors agree") {
    val rnd = new scala.util.Random(7L)
    val all = Seq(a, b, c, signed, nan)
    (0 until 12).foreach { _ =>
      val t0 = rnd.nextInt(15000).toLong
      val attrs = rnd.shuffle(all).take(1 + rnd.nextInt(4))
        .map(x => x.copy(yAxis = rnd.nextInt(3)))
      val axes = (0 until 3).flatMap { ax =>
        rnd.nextInt(4) match {
          case 0 => Some(ax -> AxisSpec(scale = Some("log")))
          case 1 => Some(ax -> AxisSpec(min = Some(rnd.nextInt(60).toDouble)))
          case _ => None
        }
      }.toMap
      assertSame(Req(attrs, t0, t0 + 1 + rnd.nextInt(8000),
        10 + rnd.nextInt(150), 5 + rnd.nextInt(60), axes, rnd.nextBoolean()))
    }
    assert(points.rdd.getNumPartitions > 1, "the archive must span scan partitions")
  }
}
