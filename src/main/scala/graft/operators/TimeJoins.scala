package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-keyed join operators Spark's built-ins don't express directly:
  * AS-OF join (each left row matched to the most recent right row at or
  * before its timestamp) and RANGE join (points against intervals)
  * — the two join shapes time-series/archive workloads reach for first.
  *
  * Both are built so the plan never degenerates into a per-row probe or
  * a BroadcastNestedLoop/cartesian:
  *  - as-of: the classic union-merge — tag both sides, union, ONE
  *    window per key ordered by (time, side, tie) propagating the last
  *    right payload with `last(_, ignoreNulls)`; one shuffle + one
  *    partitioned sort regardless of how many left rows probe the same
  *    right row. (A per-left-row correlated lookup — the naive shape —
  *    is a join per row; an inequality theta-join plans as a nested
  *    loop. Neither survives scale; the merge does, and it is exactly
  *    how a single-node engine implements ASOF internally.)
  *  - range: interval bucketing — the interval side explodes to the
  *    fixed-width buckets it covers, the point side computes its ONE
  *    bucket, and the join is a plain equi-join on (key, bucket) with
  *    an exact containment filter behind it. Each qualifying (point,
  *    interval) pair meets in exactly one bucket (the point's), so no
  *    post-join dedup is needed. Bucket width trades explode factor
  *    (long intervals / W) against join selectivity (W ≫ interval
  *    length puts unrelated rows in one bucket); pick W ≈ the typical
  *    interval length so each interval covers ≤ 2 buckets.
  */
object TimeJoins {

  /** As-of join: for every left row, the most recent right row with
    * `right(rightTime) <= left(leftTime)` within the same `keyCols`
    * group; right payload columns `valueCols` are appended (null when
    * no right row precedes). Ties on the right time are broken toward the LARGEST
    * `rightTie` value — pass a unique id column for determinism.
    *
    * All left columns are preserved; `valueCols` must not collide with
    * left column names. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTime: String, rightTime: String, valueCols: Seq[String],
      rightTie: String): DataFrame = {
    val leftPayload = left.columns.filterNot(keyCols.contains).toSeq
    require(valueCols.forall(!left.columns.contains(_)),
      "valueCols collide with left columns")
    val rSchema = right.schema
    // the right payload travels as ONE struct so the propagated match
    // is atomic: per-column `last(_, ignoreNulls)` would mix columns
    // from DIFFERENT right rows whenever the most recent row holds a
    // legitimate null in one payload column (a=null from t=2 would be
    // backfilled by a=5 from t=1 while b=7 comes from t=2) — breaking
    // the "most recent right ROW" contract
    val payloadType = org.apache.spark.sql.types.StructType(
      valueCols.map(c => rSchema(c)))
    val lTagged = left.select(
      keyCols.map(col) ++
        Seq(col(leftTime).as("_t"), lit(1).as("_is_left"),
          lit(Long.MaxValue).as("_tie"),
          lit(null).cast(payloadType).as("_payload")) ++
        leftPayload.map(col): _*)
    val lSchema = left.schema
    val rTagged = right.select(
      keyCols.map(col) ++
        Seq(col(rightTime).as("_t"), lit(0).as("_is_left"),
          col(rightTie).cast("long").as("_tie"),
          struct(valueCols.map(col): _*).as("_payload")) ++
        leftPayload.map(c => lit(null).cast(lSchema(c).dataType).as(c)): _*)
    // right rows sort BEFORE left rows at an equal time (is_left
    // ascending puts 0 first), so an equal-time right row is visible.
    // _tie orders equal-time right rows so `last` picks the largest tie
    // deterministically.
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_t").asc, col("_is_left").asc, col("_tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lTagged.unionByName(rTagged)
      .select(keyCols.map(col) ++ Seq(col("_is_left")) ++
        leftPayload.map(col) :+
        last(col("_payload"), ignoreNulls = true).over(w).as("_m"): _*)
      .where(col("_is_left") === 1)
      .select(keyCols.map(col) ++ leftPayload.map(col) ++
        valueCols.map(c => col(s"_m.$c").as(c)): _*)
  }

  /** Skew-bounded as-of join — identical output to [[asofJoin]]
    * (parity-tested), different distribution contract: [[asofJoin]]
    * sorts each KEY in one window partition, so one whale key (a
    * 10⁹-row attribute in a 100 TB archive) becomes one giant sort
    * task. Here the timeline is cut into `bucketUs`-wide cells and the
    * merge window runs per (key, bucket) — task size is bounded by
    * bucket width, not key volume. Rows matched inside their own
    * bucket are done; rows whose predecessor lies in an EARLIER bucket
    * take a carry-in computed from the per-(key, bucket) last-right
    * table (tiny: one row per non-empty cell) with a window over
    * buckets. Carry-in needs no equal-time care: an equal-time right
    * row is by definition in the SAME bucket.
    * Cost: one extra shuffle of the cell summary — the classic
    * bounded-state trade. */
  def asofJoinBucketed(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], leftTime: String, rightTime: String,
      valueCols: Seq[String], rightTie: String,
      bucketUs: Long): DataFrame = {
    require(bucketUs > 0)
    val leftPayload = left.columns.filterNot(keyCols.contains).toSeq
    require(valueCols.forall(!left.columns.contains(_)),
      "valueCols collide with left columns")
    val rSchema = right.schema
    val lSchema = left.schema
    // atomic right-row payload struct — see [[asofJoin]]: per-column
    // propagation mixed columns from different right rows on legit
    // null payload values, and the per-column carry coalesce likewise
    // substituted a previous bucket's value for an in-cell match's null
    val payloadType = org.apache.spark.sql.types.StructType(
      valueCols.map(c => rSchema(c)))
    val lTagged = left.select(
      keyCols.map(col) ++
        Seq(col(leftTime).as("_t"), lit(1).as("_is_left"),
          lit(Long.MaxValue).as("_tie"),
          lit(null).cast(payloadType).as("_payload")) ++
        leftPayload.map(col): _*)
    val rTagged = right.select(
      keyCols.map(col) ++
        Seq(col(rightTime).as("_t"), lit(0).as("_is_left"),
          col(rightTie).cast("long").as("_tie"),
          struct(valueCols.map(col): _*).as("_payload")) ++
        leftPayload.map(c => lit(null).cast(lSchema(c).dataType).as(c)): _*)
    // persisted because BOTH window passes below consume it; released
    // by the one-shot listener once the returned plan's first
    // materialization completes (both passes live inside that one
    // plan) — the library-wide CacheLifecycle contract
    val u = lTagged.unionByName(rTagged)
      .withColumn("_b", expr(s"_t div ${bucketUs}L")).persist()
    // pass 1: merge within each (key, bucket) cell — bounded tasks
    val wCell = Window.partitionBy((keyCols :+ "_b").map(col): _*)
      .orderBy(col("_t").asc, col("_is_left").asc, col("_tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inCell = u.select(
      (keyCols :+ "_b").map(col) ++ Seq(col("_is_left")) ++
        leftPayload.map(col) :+
        last(col("_payload"), ignoreNulls = true).over(wCell).as("_m"): _*)
      .where(col("_is_left") === 1)
    // pass 2: per-cell LAST right row (max (_t, _tie) — unique per
    // right), then carry the latest non-empty cell forward per key
    val lastStruct = max(when(col("_is_left") === 0,
      struct(col("_t"), col("_tie"), col("_payload"))))
      .as("_last")
    val cells = u.groupBy((keyCols :+ "_b").map(col): _*).agg(lastStruct)
    val wCarry = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = cells.select(
      (keyCols :+ "_b").map(col) :+
        last(col("_last"), ignoreNulls = true).over(wCarry)
          .as("_carry"): _*)
    // left rows unmatched in their own cell take the carry-in ROW
    val res = inCell.join(carry, keyCols :+ "_b")
      .withColumn("_row", coalesce(col("_m"), col("_carry._payload")))
      .select(
        keyCols.map(col) ++ leftPayload.map(col) ++
          valueCols.map(c => col(s"_row.$c").as(c)): _*)
    CacheLifecycle.unpersistAfterFirstUse(res, u)
    res
  }

  /** Range join: pairs every point row (`pointTime`) with every
    * interval row whose `[loCol, hiCol]` contains it (inclusive both
    * ends), matching on `keyCols` first. `bucketUs` is the bucketing
    * width in the time unit of the columns. Returns point ⨯ interval
    * columns; callers aggregate as needed. */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
      keyCols: Seq[String], pointTime: String, loCol: String,
      hiCol: String, bucketUs: Long): DataFrame = {
    require(bucketUs > 0)
    val pb = points.withColumn("_bucket",
      expr(s"$pointTime div ${bucketUs}L"))
    val ib = intervals.withColumn("_bucket",
      explode(sequence(expr(s"$loCol div ${bucketUs}L"),
        expr(s"$hiCol div ${bucketUs}L"))))
    pb.join(ib, keyCols :+ "_bucket")
      .where(col(pointTime) >= col(loCol) && col(pointTime) <= col(hiCol))
      .drop("_bucket")
  }
}
