package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.server.Json

/** Pins the JSON shape [[Profile]] writes, on one small query profiled
  * in the shared test session. */
class ProfileSpec extends AnyFunSuite {
  private val dir = Harness.warmDir // the sf0.001 tier

  test("profile of q02 at sf0.001: scan rows, layers partition the wall, " +
    "stamp present; unknown query refused") {
    val p = Json.obj(Json.parse(
      Profile.run(SparkTestBase.spark, "q02_resample_5m", dir, dir)))
    assert(Json.str(p("query")) == "q02_resample_5m")
    val wall = Json.num(p("wall_s"))
    val layers = Json.obj(p("layers_s"))
    assert(layers.keySet == Set("scan", "exchange", "broadcast", "compute",
      "driver", "unattributed"))
    assert(wall > 0 && math.abs(layers.values.map(Json.num).sum - wall) <=
      0.05 * wall)
    val share = Json.num(p("unattributed_share"))
    assert(share >= 0 && share <= 1)
    val nodes = Json.arr(p("executions")).flatMap(e =>
      Json.arr(Json.obj(e)("nodes"))).map(Json.obj)
    assert(nodes.exists(n => Json.str(n("name")).startsWith("Scan") &&
      Json.obj(n("metrics")).get("number of output rows").exists(Json.num(_) > 0)))
    val stages = Json.arr(p("stages")).map(Json.obj)
    assert(stages.nonEmpty && stages.forall(s => Json.num(s("skew")) >= 1))
    // warmed on the same data, the profiled run compiles nothing new
    val codegen = Json.obj(p("codegen"))
    assert(Json.num(codegen("compiles")) == 0 &&
      Json.num(codegen("compile_ms")) == 0, codegen)
    val stamp = Json.obj(p("stamp"))
    assert(Set("cpus", "xmx", "git", "sf").subsetOf(stamp.keySet))
    assert(Json.str(stamp("sf")) == dir)
    intercept[IllegalArgumentException](
      Profile.run(SparkTestBase.spark, "q99_no_such_query", dir, dir))
  }

  test("profile of q36 at sf0.001 names the fused raster execs: row and " +
    "merge counts, and the stages that ran them") {
    val p = Json.obj(Json.parse(Profile.run(SparkTestBase.spark,
      "q36_image_pipeline", dir, dir)))
    val nodes = Json.arr(p("executions")).flatMap(e =>
      Json.arr(Json.obj(e)("nodes"))).map(Json.obj)
    def metric(node: String, m: String): Seq[Double] = nodes
      .filter(n => Json.str(n("name")) == node)
      .flatMap(n => Json.obj(n("metrics")).get(m).map(Json.num))
    assert(metric("RasterBinPartial", "number of output rows").exists(_ > 0))
    val merged = metric("RasterBinMerge", "number of output rows")
    assert(merged.exists(_ > 0))
    assert(metric("RasterBinMerge", "partial cells merged").sum >= merged.sum)
    // the stages running the execs carry their names and a wall share
    val stages = Json.arr(p("stages")).map(Json.obj)
    Seq("RasterBinPartial", "RasterBinMerge").foreach { node =>
      val ran = stages.filter(s =>
        Json.arr(s("nodes")).map(Json.str).contains(node))
      assert(ran.nonEmpty && ran.map(s => Json.num(s("share_ms"))).sum > 0,
        s"no stage attributed to $node")
    }
  }
}
