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
    val stamp = Json.obj(p("stamp"))
    assert(Set("cpus", "xmx", "git", "sf").subsetOf(stamp.keySet))
    assert(Json.str(stamp("sf")) == dir)
    intercept[IllegalArgumentException](
      Profile.run(SparkTestBase.spark, "q99_no_such_query", dir, dir))
  }
}
