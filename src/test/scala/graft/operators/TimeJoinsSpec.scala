package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class TimeJoinsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def left = Seq(
    // (key, t, lbl)
    ("a", 10L, "a10"), ("a", 20L, "a20"), ("a", 25L, "a25"),
    ("b", 5L, "b5"), ("c", 50L, "c50"))
    .toDF("k", "t", "lbl")

  private def right = Seq(
    // (key, rt, rid, v)
    ("a", 10L, 1L, 1.0), ("a", 15L, 2L, 2.0), ("a", 22L, 3L, 3.0),
    ("b", 7L, 4L, 4.0)) // b's only row is AFTER b's left row; c has none
    .toDF("k", "rt", "rid", "v")

  test("asofJoin inclusive: latest right at-or-before, null when none") {
    val r = TimeJoins.asofJoin(left, right, Seq("k"),
      leftTime = "t", rightTime = "rt", valueCols = Seq("rid", "v"),
      rightTie = "rid")
      .orderBy("k", "t").collect()
      .map(row => (row.getString(2),
        if (row.isNullAt(3)) -1L else row.getLong(3)))
    assert(r.toSeq == Seq(
      ("a10", 1L), // equal time visible (inclusive)
      ("a20", 2L), ("a25", 3L),
      ("b5", -1L), // right row is later → null
      ("c50", -1L))) // no right rows for key
  }

  test("asofJoin: equal right times resolve to the largest tie id") {
    val dupRight = Seq(("a", 5L, 1L, 1.0), ("a", 5L, 9L, 9.0))
      .toDF("k", "rt", "rid", "v")
    val r = TimeJoins.asofJoin(
      Seq(("a", 6L, "x")).toDF("k", "t", "lbl"), dupRight, Seq("k"),
      "t", "rt", Seq("rid", "v"), rightTie = "rid").collect()
    assert(r.head.getLong(3) == 9L && r.head.getDouble(4) == 9.0)
  }

  test("asofJoin propagates the most recent right ROW atomically — a " +
    "legit null payload column is not backfilled from an older row") {
    // right rows (t=1, a=5, b=6) and (t=2, a=null, b=7): the match for
    // a left row at t=3 is the WHOLE t=2 row → (null, 7). Per-column
    // last(_, ignoreNulls) returned (5, 7) — a and b from two
    // different right rows
    val l = Seq(("k", 3L, "x")).toDF("k", "t", "lbl")
    val r = Seq(
      ("k", 1L, 1L, Some(5.0), 6.0),
      ("k", 2L, 2L, Option.empty[Double], 7.0))
      .toDF("k", "rt", "rid", "a", "b")
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val row = df.collect().head
      assert(row.isNullAt(row.fieldIndex("a")),
        s"null payload column backfilled from an older right row: $row")
      assert(row.getDouble(row.fieldIndex("b")) == 7.0)
    }
    check(TimeJoins.asofJoin(l, r, Seq("k"), "t", "rt",
      Seq("a", "b"), "rid"))
    // the bucketed variant's carry path has the same contract: put the
    // match in an EARLIER bucket than the left row so the carry-in (not
    // the in-cell merge) supplies the row
    check(TimeJoins.asofJoinBucketed(l, r, Seq("k"), "t", "rt",
      Seq("a", "b"), "rid", bucketUs = 1L))
    check(TimeJoins.asofJoinBucketed(l, r, Seq("k"), "t", "rt",
      Seq("a", "b"), "rid", bucketUs = 100L))
  }

  test("asofJoinBucketed: parity with asofJoin across widths") {
    // rights in earlier buckets, empty buckets, tie at a bucket edge
    val l = Seq(
      ("a", 3L, "l3"), ("a", 19L, "l19"), ("a", 21L, "l21"),
      ("a", 55L, "l55"), ("b", 30L, "l30"), ("c", 9L, "l9"))
      .toDF("k", "t", "lbl")
    val r = Seq(
      ("a", 1L, 1L, 1.0), ("a", 19L, 2L, 2.0), ("a", 20L, 3L, 3.0),
      ("b", 40L, 4L, 4.0)) // b's right is after its left; c has none
      .toDF("k", "rt", "rid", "v")
    val plain = TimeJoins.asofJoin(l, r, Seq("k"), "t", "rt",
      Seq("rid", "v"), "rid").collect().map(_.toSeq).toSet
    for (w <- Seq(7L, 10L, 100L)) {
      val bucketed = TimeJoins.asofJoinBucketed(l, r, Seq("k"), "t", "rt",
        Seq("rid", "v"), "rid", bucketUs = w)
        .collect().map(_.toSeq).toSet
      assert(bucketed == plain, s"width=$w")
    }
  }

  test("asofJoinBucketed: parity on the events fixture (day buckets)") {
    val p = new graft.sources.EventsArchiveAdapter(
      spark, "/root/testdata/sf0.001").pointsAll
    val purchases = p.where(col("event_type") === "purchase")
      .select(col("user_id"), col("point_id"), col("t"), col("value_r"))
    val clicks = p.where(col("event_type") === "click")
      .select(col("user_id"), col("t").as("ct"),
        col("point_id").as("click_id"), col("value_r").as("click_value"))
    val plain = TimeJoins.asofJoin(purchases, clicks, Seq("user_id"),
      "t", "ct", Seq("click_id", "click_value"), "click_id")
      .collect().map(_.toSeq).toSet
    val bucketed = TimeJoins.asofJoinBucketed(purchases, clicks,
      Seq("user_id"), "t", "ct", Seq("click_id", "click_value"),
      "click_id", bucketUs = 86400000000L)
      .collect().map(_.toSeq).toSet
    assert(plain.nonEmpty && bucketed == plain)
  }

  test("asofJoin: seeded-random parity with a brute-force reference") {
    // small time range over few keys → plenty of exact-time ties
    val rnd = new scala.util.Random(42)
    val lRows = (1 to 150).map(i =>
      (s"k${rnd.nextInt(3)}", rnd.nextInt(40).toLong, i.toLong))
    val rRows = (1 to 150).map(i =>
      (s"k${rnd.nextInt(3)}", rnd.nextInt(40).toLong, 1000L + i,
        rnd.nextInt(100).toDouble))
    val l = lRows.toDF("k", "t", "lid")
    val r = rRows.toDF("k", "rt", "rid", "v")
    val got = TimeJoins.asofJoin(l, r, Seq("k"), "t", "rt",
      Seq("rid", "v"), "rid")
      .collect()
      .map(row => (row.getString(0), row.getLong(1), row.getLong(2),
        if (row.isNullAt(3)) -1L else row.getLong(3))).toSet
    val want = lRows.map { case (k, t, lid) =>
      val cands = rRows.filter(rr => rr._1 == k && rr._2 <= t)
      val best = if (cands.isEmpty) -1L
        else cands.maxBy(rr => (rr._2, rr._3))._3
      (k, t, lid, best)
    }.toSet
    assert(got == want)
    // bucketed variant agrees on the same random data
    val gotB = TimeJoins.asofJoinBucketed(l, r, Seq("k"), "t", "rt",
      Seq("rid", "v"), "rid", bucketUs = 7L)
      .collect()
      .map(row => (row.getString(0), row.getLong(1), row.getLong(2),
        if (row.isNullAt(3)) -1L else row.getLong(3))).toSet
    assert(gotB == want, "bucketed")
  }

  test("rangeJoin: containment matches, each pair exactly once") {
    val pointsDf = Seq(("a", 10L), ("a", 25L), ("a", 31L), ("b", 10L))
      .toDF("k", "t")
    // [5,25] spans 3 buckets at W=10 — t=10 and t=25 match once each;
    // [30,31] exercises an interval inside one bucket
    val iv = Seq(("a", 1L, 5L, 25L), ("a", 2L, 30L, 31L), ("b", 3L, 20L, 30L))
      .toDF("k", "iid", "lo", "hi")
    val r = TimeJoins.rangeJoin(pointsDf, iv, Seq("k"), "t", "lo", "hi", 10L)
      .select("k", "t", "iid").collect()
      .map(row => (row.getString(0), row.getLong(1), row.getLong(2)))
    assert(r.toSet == Set(("a", 10L, 1L), ("a", 25L, 1L), ("a", 31L, 2L)))
    assert(r.length == 3) // no duplicate pairs from multi-bucket spans
  }

  test("rangeJoin plans an equi-join, not a nested loop") {
    val pointsDf = Seq(("a", 10L)).toDF("k", "t")
    val iv = Seq(("a", 1L, 5L, 25L)).toDF("k", "iid", "lo", "hi")
    val plan = TimeJoins.rangeJoin(pointsDf, iv, Seq("k"), "t", "lo", "hi", 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"))
  }
}
