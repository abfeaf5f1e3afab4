package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class CatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def names = Seq(
    ("cs1:10000", "r3", "vac", "pump-01", "pressure"),
    ("cs1:10000", "r3", "mag", "dia-01", "current"),
    ("cs1:10000", "r1", "vac", "pump-02", "PRESSURE"),
    ("cs2:10000", "r1", "rf", "tx-01", "power"))
    .toDF("cs_name", "domain", "family", "member", "name")

  private def conf = Seq(
    ("cs1:10000", "r3/vac/pump-01/pressure", 1, "scalar_devdouble_ro"),
    ("cs2:10000", "r1/rf/tx-01/power", 2, "scalar_devfloat_ro"))
    .toDF("cs_name", "att_name", "att_conf_id", "data_type")

  test("search: case-insensitive glob over formatted names, sorted (F5/O1)") {
    val r = Catalog.search(names, "*/vac/*/pressure").as[String].collect()
    assert(r.toSeq == Seq("r1/vac/pump-02/PRESSURE", "r3/vac/pump-01/pressure"))
  }

  test("searchSubstring: Grafana /search semantics (F6)") {
    val r = Catalog.searchSubstring(names, "PUMP").as[String].collect()
    assert(r.length == 2)
  }

  test("controlSystems: distinct sorted (O2)") {
    val r = Catalog.controlSystems(conf).as[String].collect()
    assert(r.toSeq == Seq("cs1:10000", "cs2:10000"))
  }

  test("latestBefore picks the latest row strictly before the cutoff (S6/O3)") {
    val df = Seq(("a", 10L, 100L, 1.0), ("a", 20L, 101L, 2.0),
      ("a", 30L, 102L, 3.0), ("b", 5L, 103L, 4.0))
      .toDF("k", "t", "tie", "v")
    val r = Catalog.latestBefore(df, Seq("k"), "t", 30L, "tie")
      .orderBy("k").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getDouble(3))).toSeq
      == Seq(("a", 20L, 2.0), ("b", 5L, 4.0)))
  }

  test("latestBefore breaks time ties by the tie-break column") {
    val df = Seq(("a", 10L, 1L, 1.0), ("a", 10L, 2L, 2.0))
      .toDF("k", "t", "tie", "v")
    val r = Catalog.latestBefore(df, Seq("k"), "t", 99L, "tie").collect()
    assert(r.length == 1 && r.head.getDouble(3) == 2.0)
  }

  test("firstEvents returns the first n per key with ranks (S7/O4)") {
    val df = (1 to 20).map(i => ("a", i.toLong * 10, i.toLong, i.toDouble))
      .++(Seq(("b", 55L, 100L, 9.0)))
      .toDF("k", "t", "tie", "v")
    val r = Catalog.firstEvents(df, Seq("k"), "t", 0L, 1000L, 3, "tie")
      .orderBy("k", "rn").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getInt(4))).toSeq
      == Seq(("a", 10L, 1), ("a", 20L, 2), ("a", 30L, 3), ("b", 55L, 1)))
  }

  test("firstEvents window bounds are exclusive (hdbpp.py:183-184)") {
    val df = Seq(("a", 10L, 1L, 1.0), ("a", 20L, 2L, 2.0),
      ("a", 30L, 3L, 3.0)).toDF("k", "t", "tie", "v")
    val r = Catalog.firstEvents(df, Seq("k"), "t", 10L, 30L, 5, "tie")
      .collect()
    assert(r.length == 1 && r.head.getLong(1) == 20L)
  }
}
