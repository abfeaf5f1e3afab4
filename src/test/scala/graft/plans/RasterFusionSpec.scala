package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.operators.DeclarativeRaster

class RasterFusionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("event_type", "px", "py").collect()
      .map(_.toSeq).toSeq

  private def fixture = (0 until 500).map { i =>
    val v = i match {
      case 13 => Double.NaN          // NaN guard
      case 77 => -3.0                // below vmin → filtered
      case 191 => 99.0               // above vmax → filtered
      case _ => (i % 40) * 0.25
    }
    (if (i % 3 == 0) "click" else "view", i.toLong, i.toLong * 2000, v)
  }.toDF("event_type", "point_id", "t", "value_r")

  test("fused binPoints matches the declarative operator exactly") {
    val (t0, t1, vmin, vmax, w, h) = (0L, 1000000L, 0.0, 9.75, 32, 16)
    val fused = RasterFusion.binPoints(fixture, Seq("event_type"),
      t0, t1, vmin, vmax, w, h)
    val plain = DeclarativeRaster.binPoints(fixture, Seq("event_type"),
      t0, t1, vmin, vmax, w, h)
    assert(fused.columns.toSeq == plain.columns.toSeq)
    assert(canon(fused) == canon(plain))
  }

  test("fused binPoints matches on a log scale and on empty input") {
    val logf = RasterFusion.binPoints(fixture.where(col("value_r") > 0),
      Seq("event_type"), 0L, 1000000L, 0.25, 9.75, 16, 8, logScale = true)
    val logp = DeclarativeRaster.binPoints(fixture.where(col("value_r") > 0),
      Seq("event_type"), 0L, 1000000L, 0.25, 9.75, 16, 8, logScale = true)
    assert(canon(logf) == canon(logp))
    val empty = RasterFusion.binPoints(
      fixture.where(col("t") < 0), Seq("event_type"),
      0L, 1000000L, 0.0, 10.0, 16, 8)
    assert(empty.collect().isEmpty)
  }

  test("fused binPoints with NO key columns (whole-canvas grid)") {
    val fused = RasterFusion.binPoints(fixture, Seq.empty,
      0L, 1000000L, 0.0, 9.75, 32, 16)
    val plain = DeclarativeRaster.binPoints(fixture, Seq.empty,
      0L, 1000000L, 0.0, 9.75, 32, 16)
    val f = fused.orderBy("px", "py").collect().map(_.toSeq).toSeq
    val p = plain.orderBy("px", "py").collect().map(_.toSeq).toSeq
    assert(f == p && f.nonEmpty)
  }

  test("the executed plan shows the fused operator pair + exchange") {
    val fused = RasterFusion.binPoints(fixture, Seq("event_type"),
      0L, 1000000L, 0.0, 9.75, 32, 16)
    fused.collect() // materialize so AQE finalizes the plan
    val plan = fused.queryExecution.executedPlan.toString
    assert(plan.contains("RasterBinPartial"),
      s"partial operator missing from plan:\n$plan")
    assert(plan.contains("RasterBinMerge"),
      s"merge operator missing from plan:\n$plan")
    assert(plan.contains("Exchange"),
      s"expected the auto-inserted exchange:\n$plan")
  }

  test("fused hoverColumns matches binPoints ∘ hoverColumns exactly") {
    val (t0, t1, vmin, vmax, w, h) = (0L, 1000000L, 0.0, 9.75, 32, 16)
    val fused = RasterFusion.hoverColumns(fixture, Seq("event_type"),
      t0, t1, vmin, vmax, w, h)
    val plain = DeclarativeRaster.hoverColumns(
      DeclarativeRaster.binPoints(fixture, Seq("event_type"), t0, t1, vmin, vmax,
        w, h), Seq("event_type"))
    assert(fused.columns.toSeq == plain.columns.toSeq)
    def c(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type", "px").collect().map(_.toSeq).toSeq
    assert(c(fused) == c(plain) && c(fused).nonEmpty)
    // log scale + no-key variants share the same partial; spot-check
    val logF = RasterFusion.hoverColumns(fixture.where(col("value_r") > 0),
      Seq.empty, t0, t1, 0.25, vmax, 16, 8, logScale = true)
    val logP = DeclarativeRaster.hoverColumns(
      DeclarativeRaster.binPoints(fixture.where(col("value_r") > 0), Seq.empty,
        t0, t1, 0.25, vmax, 16, 8, logScale = true), Seq.empty)
    def cx(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("px").collect().map(_.toSeq).toSeq
    assert(cx(logF) == cx(logP))
  }

  test("fused hover plan: ONE exchange, hover merge operator") {
    val fused = RasterFusion.hoverColumns(fixture, Seq("event_type"),
      0L, 1000000L, 0.0, 9.75, 32, 16)
    fused.collect()
    val plan = fused.queryExecution.executedPlan.toString
    assert(plan.contains("RasterBinPartial"),
      s"partial operator missing from plan:\n$plan")
    assert(plan.contains("RasterHoverMerge"),
      s"hover merge operator missing from plan:\n$plan")
    // the whole point of the fusion: exactly one shuffle — the
    // declarative composition pays two (grid, then column aggregate).
    // AQE's toString prints the initial plan after the final one, so
    // count only the final section
    val finalPlan = plan.split("== Initial Plan ==").head
    val nExchanges = "(?m)\\bExchange\\b".r.findAllIn(finalPlan).size
    assert(nExchanges == 1,
      s"expected exactly 1 exchange, saw $nExchanges:\n$plan")
  }

  test("fused hover on a LOG axis keeps the single exchange and matches " +
    "the declarative composition") {
    val fused = RasterFusion.hoverColumns(fixture, Seq("event_type"),
      0L, 1000000L, 0.25, 9.75, 32, 16, logScale = true)
    val rows = fused.collect()
    val plan = fused.queryExecution.executedPlan.toString
    assert(plan.contains("RasterHoverMerge"))
    val finalPlan = plan.split("== Initial Plan ==").head
    val nExchanges = "(?m)\\bExchange\\b".r.findAllIn(finalPlan).size
    assert(nExchanges == 1,
      s"log hover lost the fusion: $nExchanges exchanges:\n$plan")
    // parity with the declarative grid → column reduction on the SAME
    // log parameters (q30 pins this against DuckDB; this pins it
    // in-engine on the fixture)
    val grid = DeclarativeRaster.binPoints(fixture, Seq("event_type"),
      0L, 1000000L, 0.25, 9.75, 32, 16, logScale = true)
    val want = DeclarativeRaster.hoverColumns(grid, Seq("event_type"))
      .orderBy(col("event_type"), col("px")).collect()
    val got = rows.sortBy(r => (r.getString(0), r.getLong(1)))
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
    assert(rows.nonEmpty)
  }

  test("fused output composes downstream (filter + order + agg)") {
    val fused = RasterFusion.binPoints(fixture, Seq("event_type"),
      0L, 1000000L, 0.0, 9.75, 32, 16)
    // grid attributes must resolve downstream by exprId
    val top = fused.where(col("cnt") > 0)
      .groupBy(col("event_type")).agg(sum(col("cnt")).as("total"))
      .orderBy(col("event_type")).collect()
    val want = DeclarativeRaster.binPoints(fixture, Seq("event_type"),
      0L, 1000000L, 0.0, 9.75, 32, 16)
      .groupBy(col("event_type")).agg(sum(col("cnt")).as("total"))
      .orderBy(col("event_type")).collect()
    assert(top.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("per-key scales: one fused pass equals one call per scale, and a " +
    "null scale index skips the row") {
    val fx = fixture.unionByName(fixture.where(col("point_id") < 60)
      .withColumn("event_type", lit("other")))
    val (t0, t1, w, h) = (0L, 1000000L, 32, 16)
    val scales = Seq(YScale(0.0, 9.75), YScale(0.25, 9.75, logScale = true))
    // "other" maps to no scale
    val scaleOf = when(col("event_type") === "click", lit(0))
      .when(col("event_type") === "view", lit(1))
    def only(k: String) = fx.where(col("event_type") === k)
    val grid = RasterFusion.binPoints(fx, Seq("event_type"), t0, t1,
      scales, scaleOf, w, h)
    val gridWant = RasterFusion.binPoints(only("click"), Seq("event_type"),
        t0, t1, 0.0, 9.75, w, h)
      .unionByName(RasterFusion.binPoints(only("view"), Seq("event_type"),
        t0, t1, 0.25, 9.75, w, h, logScale = true))
    assert(canon(grid) == canon(gridWant) && canon(grid).nonEmpty)
    def c(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type", "px").collect().map(_.toSeq).toSeq
    val hover = RasterFusion.hoverColumns(fx, Seq("event_type"), t0, t1,
      scales, scaleOf, w, h)
    val hoverWant = RasterFusion.hoverColumns(only("click"),
        Seq("event_type"), t0, t1, 0.0, 9.75, w, h)
      .unionByName(RasterFusion.hoverColumns(only("view"),
        Seq("event_type"), t0, t1, 0.25, 9.75, w, h, logScale = true))
    assert(c(hover) == c(hoverWant) && c(hover).nonEmpty)
  }

  test("every fused exec reports output rows; the merges report the " +
    "partial cells they merged") {
    val fused = RasterFusion.binPoints(fixture, Seq("event_type"),
      0L, 1000000L, 0.0, 9.75, 32, 16)
    val rows = fused.collect().length
    // descends into the adaptive plan's query stages
    val plans = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    def metric(node: String, m: String): Long =
      plans.collect(fused.queryExecution.executedPlan) {
        case p if p.nodeName == node => p.metrics(m).value
      }.sum
    val partialCells = metric("RasterBinPartial", "numOutputRows")
    assert(metric("RasterBinMerge", "numOutputRows") == rows && rows > 0)
    assert(partialCells >= rows)
    assert(metric("RasterBinMerge", "cellsMerged") == partialCells)
    val hover = RasterFusion.hoverColumns(fixture, Seq("event_type"),
      0L, 1000000L, 0.0, 9.75, 32, 16)
    val cols = hover.collect().length
    def hoverMetric(node: String, m: String): Long =
      plans.collect(hover.queryExecution.executedPlan) {
        case p if p.nodeName == node => p.metrics(m).value
      }.sum
    assert(hoverMetric("RasterHoverMerge", "numOutputRows") == cols)
    assert(hoverMetric("RasterHoverMerge", "cellsMerged") ==
      hoverMetric("RasterBinPartial", "numOutputRows"))
  }
}
