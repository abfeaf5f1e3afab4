package graft.plans

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, In, InSet, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.api.ArchiveApi
import graft.api.ArchiveApi.{AttrSpec, AxisSpec}
import graft.sources.EventsArchiveAdapter

/** [[ParamLiterals]]: a served request of a shape seen before compiles
  * no new class, and the lifted literals change no answer — every
  * result is compared with an extension-free session's. */
class ParamLiteralsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestBase.spark
  private lazy val bare = SparkTestBase.bareSession()

  private val Day = 86400L * 1000000L
  private val T0 = 1700006400L * 1000000L // a UTC midnight

  /** Three days in the events layout, one parquet file per day: four
    * hot attributes every 30 s, the values a slow wave with NaN gaps. */
  private lazy val archive: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-param").toString
    val hot = 4
    spark.range(0L, 3L * 2880 * hot).select(
        col("id").as("event_id"),
        timestamp_micros(lit(T0) + (col("id") / hot).cast("long") * 30000000L
          + col("id") % hot).cast("timestamp_ntz").as("ts"),
        (col("id") % hot + 1).as("user_id"),
        lit("view").as("event_type"),
        when(col("id") % 97 === 0, lit(Double.NaN))
          .otherwise(sin(col("id") / 500.0) * 40 + col("id") % hot * 20)
          .as("value"),
        lit("{}").as("props"))
      .repartitionByRange(3, col("ts")).sortWithinPartitions("ts")
      .write.parquet(s"$dir/events.parquet")
    dir
  }
  private def points(s: SparkSession): DataFrame =
    new EventsArchiveAdapter(s, archive).pointsAll
  private lazy val served = points(spark)
  private lazy val reference = points(bare)

  private def compiles[T](f: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = f
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  private def raw(pts: DataFrame, names: Seq[String], from: Long, to: Long,
      interval: Option[String], csv: Boolean): String =
    ArchiveApi.rawQuery(pts, names, from, to, interval, csv)

  // each shape gets windows of its own (`k`): CSV and raw JSON run the
  // same plan, and a window seen before would hit the cache anyway
  Seq(("Grafana JSON, intervaled", true, false),
      ("CSV, raw", false, true),
      ("/httpquery, raw JSON", false, false)).zipWithIndex.foreach {
    case ((shape, intervaled, csv), k) =>
      test(s"rawQuery ($shape): a second request of the shape compiles " +
        "no class, and answers as an extension-free session does") {
        val first = (Seq("u1/view", "u2/view"), T0 + (k + 1) * 3600000000L,
          T0 + Day - k, if (intervaled) Some("1m") else None)
        val second = (Seq("u4/view", "u3/view"), T0 + Day / 2 + k * 7,
          T0 + 2 * Day + 7 + k, if (intervaled) Some("5m") else None)
        val (out1, _) = compiles(raw(served, first._1, first._2, first._3,
          first._4, csv))
        val (out2, n) = compiles(raw(served, second._1, second._2,
          second._3, second._4, csv))
        assert(n == 0, s"$n classes compiled for a seen shape")
        assert(out1.length > 1000 && out2.length > 1000)
        assert(out1 == raw(reference, first._1, first._2, first._3,
          first._4, csv))
        assert(out2 == raw(reference, second._1, second._2, second._3,
          second._4, csv))
      }
  }

  test("imageQuery: a second request with another window, canvas and " +
    "y-range compiles no class, and renders as an extension-free " +
    "session does") {
    val attrs = Seq(AttrSpec("u1/view", 0xff0000), AttrSpec("u2/view",
      0x00ff00), AttrSpec("u3/view", 0x0000ff, yAxis = 1))
    // (from, to, width, height, axes); rendered to a string, so a NaN
    // in a hover desc compares equal to itself
    type Req = (Long, Long, Int, Int, Map[Int, AxisSpec])
    def image(pts: DataFrame, q: Req): String = {
      val r = ArchiveApi.imageQuery(pts, attrs, q._1, q._2, q._3, q._4, q._5)
      (r.images.toSeq.sortBy(_._1), r.descs.toSeq.sortBy(_._1)).toString
    }
    val first: Req = (T0 + 3600L * 1000000L, T0 + Day, 400, 200, Map.empty)
    val second: Req = (T0 + Day / 3, T0 + 2 * Day + 11, 640, 300,
      Map(0 -> AxisSpec(min = Some(-25.0), max = Some(55.5))))
    val (img1, _) = compiles(image(served, first))
    val (img2, n) = compiles(image(served, second))
    assert(n == 0, s"$n classes compiled for a seen shape")
    assert(img1.contains("u3/view") && img1 != img2)
    assert(img1 == image(reference, first))
    assert(img2 == image(reference, second))
  }

  private def expressions(df: DataFrame): Seq[Expression] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case p: SparkPlan if !p.isInstanceOf[FileSourceScanExec] => p.expressions
    }.flatten

  /** One row per kind of edge value, in parquet so the operators above
    * the scan are not folded into a local relation. */
  private lazy val edges: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-edges").toString
    Seq((1L, 0.0, "2024-02-29", "2024-02-29 23:59:59.999999", "a"),
      (2L, -0.0, "1970-01-01", "1969-12-31 23:59:59", "b"),
      (Long.MinValue, Double.NaN, "0001-01-01", "0001-01-01 00:00:00", "c"),
      (Long.MaxValue, Double.PositiveInfinity, "9999-12-31",
        "9999-12-31 23:59:59.999999", null),
      (0L, Double.NegativeInfinity, null, null, "a"),
      (-7L, 1.5, "2000-03-01", "2000-03-01 12:00:00", "d"))
      .toDF("l", "d", "ds", "tss", "s")
      .select(col("l"), col("d"), to_date(col("ds")).as("dt"),
        to_timestamp(col("tss")).as("ts"), col("s"))
      .repartition(2).write.parquet(s"$dir/edges")
    s"$dir/edges"
  }

  test("edge-value literals answer as without the rule: NaN, ±Infinity, " +
    "-0.0, Long.MinValue, dates, timestamps, In lists with a null") {
    val day = java.sql.Date.valueOf("2024-02-29")
    val at = java.sql.Timestamp.valueOf("1969-12-31 23:59:59")
    def project(s: SparkSession): DataFrame = s.read.parquet(edges)
      .where(col("l") =!= Long.MaxValue - 1 || col("d").isNaN)
      .select(
        col("l"), col("d"),
        col("d") === Double.NaN, col("d") === -0.0, col("d") === 0.0,
        col("d") < Double.PositiveInfinity,
        col("d") > Double.NegativeInfinity,
        col("d") * -0.0, col("d") + Double.NaN,
        col("l") === Long.MinValue, col("l") > Long.MinValue,
        greatest(col("l"), lit(Long.MinValue)),
        col("dt") === lit(day), col("dt") > lit(day), date_add(col("dt"), 3),
        col("ts") === lit(at), col("ts") >= lit(at),
        col("d").isin(Double.NaN, -0.0, 7.0),
        col("d").isin(null, 1.5), col("d").isin(null, 2.5),
        col("l").isin(Long.MinValue, -7L), col("dt").isin(lit(day)),
        col("s").isin("a", "d"), col("s").isin("a", null),
        lit(-0.0).as("neg_zero"), lit(Double.NaN).as("nan"))
    def aggregate(s: SparkSession): DataFrame = s.read.parquet(edges)
      .groupBy(col("d") === -0.0)
      .agg(count(lit(1)), sum(when(col("d").isNaN, 1L).otherwise(0L)),
        max(when(col("l") > Long.MinValue, col("l")).otherwise(-1L)),
        min(col("d") * Double.NegativeInfinity),
        sum(when(col("dt") > lit(java.sql.Date.valueOf("1999-12-31")), 1)))
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
      case d: Double if d == 0.0 => s"${1 / d > 0}:$d" // tells -0.0 apart
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

    val lifted = Seq(project _, aggregate _).map { q =>
      val df = q(spark)
      assert(rows(df) == rows(q(bare)))
      val exprs = expressions(df)
      assert(exprs.exists(_.exists(_.isInstanceOf[ParamLiteral])),
        "the rule did not fire")
      assert(!exprs.exists(_.exists {
        case Literal(_: Number, _) => true
        case _ => false
      }), "a non-null numeric literal survived above the scan")
      exprs
    }
    assert(lifted.head.exists(_.exists(_.isInstanceOf[InSet])))
    // an In holding a null stays an In, its null a Literal
    assert(lifted.head.exists(_.exists {
      case In(_, list) => list.exists {
        case Literal(null, _) => true
        case _ => false
      }
      case _ => false
    }))
  }

  test("scans keep their Literals: pushdown and day pruning are unchanged") {
    val df = served.where(col("att_name").isin("u1/view", "u2/view") &&
      col("t").between(T0 + Day / 2, T0 + Day - 1))
    val n = df.count()
    assert(n == reference.where(col("att_name").isin("u1/view", "u2/view")
      && col("t").between(T0 + Day / 2, T0 + Day - 1)).count())
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(!(s.partitionFilters ++ s.dataFilters)
        .exists(_.exists(_.isInstanceOf[ParamLiteral])))
      assert(s.metadata.getOrElse("PushedFilters", "").contains("ts"))
    }
  }
}
