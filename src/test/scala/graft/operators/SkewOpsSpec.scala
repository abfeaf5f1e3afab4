package graft.operators

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class SkewOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("saltedJoin: null salt-source rows still join (xxhash64(null) = seed)") {
    // the salted token joins feed doc_id as the salt source; a null
    // there must not DROP the row — xxhash64 of a null column yields
    // the seed (a stable long), so pmod still lands in [0, buckets)
    // and the row matches a replica of its dim key. Pinned so a future
    // hash/salt change cannot silently turn nulls into lost rows. Both
    // keys hold half the weight, so the gate salts both.
    val fact = Seq((1, Some(10L)), (1, None), (2, Some(20L)), (2, None))
      .toDF("key", "row_id")
    val dim = Seq((1, "x", 2L), (2, "y", 2L)).toDF("key", "label", "w")
    assert(SkewOps.hotKeys(dim, "key", "w", 8).count() == 2)
    val r = SkewOps.hotSaltedJoin(fact, dim, "key", "row_id", 8, "w")
      .groupBy("label").agg(count(lit(1)).as("n"))
      .orderBy("label").as[(String, Long)].collect().toSeq
    assert(r == Seq(("x", 2L), ("y", 2L)),
      s"null-salt rows dropped or duplicated: $r")
  }

  test("hotKeys gate: empty on uniform weights, exact on a whale, " +
    "bounded by construction") {
    val uniform = (1 to 100).map(i => (i, 10L)).toDF("key", "w")
    assert(SkewOps.hotKeys(uniform, "key", "w", 8).count() == 0,
      "uniform weights must produce an EMPTY hot set (no salting cost)")
    // one key holds 90% — with 8 buckets the half-reducer share is
    // 1/16, so only the whale qualifies
    val whale = ((1, 900L) +: (2 to 11).map(i => (i, 10L))).toDF("key", "w")
    val hot = SkewOps.hotKeys(whale, "key", "w", 8)
      .select("key").as[Int].collect().toSeq
    assert(hot == Seq(1), s"expected only the whale key, got $hot")
    // boundedness: shares are capped at 1 so > 1/(2·buckets) admits
    // fewer than 2·buckets keys no matter the distribution
    val adversarial = (1 to 1000).map(i => (i, 1L)).toDF("key", "w")
    assert(SkewOps.hotKeys(adversarial, "key", "w", 2).count() <= 4)
  }

  test("hotSaltedJoin matches the plain join with and without a whale") {
    val whaleFact = ((1 to 900).map(i => (1, i.toLong)) ++
      (1 to 100).map(i => (i % 7 + 2, 1000L + i))).toDF("key", "row_id")
    val uniformFact = (1 to 800).map(i => (i % 8 + 1, i.toLong))
      .toDF("key", "row_id")
    val dims = Seq((1, "hot"), (2, "a"), (3, "b"), (4, "c"), (5, "d"),
      (6, "e"), (7, "f"), (8, "g")).toDF("key", "label")
    Seq("whale" -> whaleFact, "uniform" -> uniformFact).foreach {
      case (lbl, fact) =>
        val w = fact.groupBy("key").agg(count(lit(1)).as("w"))
        val dim = dims.join(w, "key")
        val plain = fact.join(dim, "key").groupBy("label")
          .agg(count(lit(1)).as("n")).orderBy("label")
          .as[(String, Long)].collect().toSeq
        val gated = SkewOps.hotSaltedJoin(fact, dim, "key", "row_id", 8, "w")
          .groupBy("label").agg(count(lit(1)).as("n")).orderBy("label")
          .as[(String, Long)].collect().toSeq
        assert(plain == gated, s"$lbl: gated join diverged")
    }
  }

  test("hotSaltedJoin left variant keeps unmatched and null-key fact " +
    "rows, exactly like the plain left join") {
    // fact keys: a whale (1), a tail, a key absent from dim (99), and
    // null keys — the left contract must hold for all four
    val fact = (((1 to 600).map(i => (Some(1), i.toLong)) ++
      (1 to 80).map(i => (Some(i % 5 + 2), 1000L + i)) ++
      (1 to 40).map(i => (Some(99), 2000L + i)) ++
      (1 to 20).map(i => (Option.empty[Int], 3000L + i))))
      .toDF("key", "row_id")
    val dim = Seq((1, "hot", 600L), (2, "a", 16L), (3, "b", 16L),
      (4, "c", 16L), (5, "d", 16L), (6, "e", 16L))
      .toDF("key", "label", "w")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "row_id", "label").collect()
        .map(r => (Option(r.get(0)), r.getLong(1),
          Option(r.get(2)))).toSet
    val plain = canon(fact.join(dim, Seq("key"), "left"))
    val salted = canon(SkewOps.hotSaltedJoin(fact, dim, "key", "row_id",
      8, "w", joinType = "left"))
    assert(plain == salted)
    assert(plain.count(_._3.isEmpty) == 60) // 40 absent-key + 20 null-key
  }

  test("hotSaltedJoin: the gate's two dim reads share one exchange, " +
    "the main plan reads dim once, repeat calls hit the gate cache") {
    // the gate (total + hot-set filter) references the dim subtree
    // twice within its own job; if the exchange were NOT reused it
    // would double the vocabulary aggregate's cost at 100 TB. AQE
    // reuses the stage at runtime (canonical-plan stage cache), so
    // the assertion reads the FINAL adaptive plan after executing the
    // gate query directly. The fixture plants a whale so the hot set
    // is non-empty — with an empty hot set AQE's empty-relation
    // propagation folds the filter side away and there is nothing
    // left to reuse (the uniform-corpus ≈1× result StressSpec
    // prices).
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val fact = s.range(2000).select(
      when(col("id") % 10 === 0, 1).otherwise(col("id").cast("int") % 50 + 2)
        .as("key"),
      col("id").as("row_id"))
    val whale = s.range(18000).select(lit(1).as("key"),
      (col("id") + 10000L).as("row_id"))
    val all = fact.unionByName(whale) // key 1 holds 90% of rows
    val dim = all.groupBy("key").agg(count(lit(1)).as("w"))
    val gate = SkewOps.hotKeys(dim, "key", "w", 8)
    assert(gate.collect().map(_.getInt(0)).toSeq == Seq(1))
    val gatePlan = gate.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(gatePlan.contains("ReusedExchange"),
      s"dim aggregate recomputed (no exchange reuse) in:\n" +
        gatePlan.take(3000))
    // the memoized gate: second identical call replays the collected
    // hot list (no second gate job), and the joined result is intact
    SkewOps.clearGateCache()
    val hits0 = SkewOps.gateHits.get()
    val q = SkewOps.hotSaltedJoin(all, dim, "key", "row_id", 8, "w")
      .agg(count(lit(1)))
    assert(q.collect()(0).getLong(0) == 20000L)
    assert(SkewOps.gateHits.get() == hits0, "first call must miss")
    val q2 = SkewOps.hotSaltedJoin(all, dim, "key", "row_id", 8, "w")
      .agg(count(lit(1)))
    assert(q2.collect()(0).getLong(0) == 20000L)
    assert(SkewOps.gateHits.get() == hits0 + 1,
      "second identical call must hit the gate cache")
  }

  test("saltedAgg equals the direct aggregation") {
    val df = ((1 to 500).map(_ => ("hot", 1.0)) ++
      Seq(("a", 2.0), ("a", 4.0), ("b", 9.0))).toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("k").as[(String, Long, Double)].collect()
    val salted = SkewOps.saltedAgg(df, Seq("k"), "v", 4,
      partials = Seq(count(lit(1)).as("pn"), sum("v").as("ps")),
      merges = Seq(sum("pn").as("n"), sum("ps").as("s")))
      .orderBy("k").as[(String, Long, Double)].collect()
    assert(direct.toSeq == salted.toSeq)
  }

  test("bucketed tables co-locate the join: no Exchange in the plan") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    (1 to 1000).map(i => (i % 50, i.toLong)).toDF("att_conf_id", "t")
      .write.bucketBy(8, "att_conf_id").sortBy("att_conf_id")
      .mode("overwrite").saveAsTable("pts_bucketed")
    (0 until 50).map(i => (i, s"attr$i")).toDF("att_conf_id", "att_name")
      .write.bucketBy(8, "att_conf_id")
      .mode("overwrite").saveAsTable("conf_bucketed")
    val joined = s.table("pts_bucketed")
      .join(s.table("conf_bucketed"), "att_conf_id")
    val physical = joined.queryExecution.executedPlan.toString()
    // both sides pre-bucketed on the join key → shuffle-free join
    assert(!physical.contains("Exchange"), physical.take(500))
    assert(joined.count() == 1000)
  }
}
