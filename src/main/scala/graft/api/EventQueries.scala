package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{GlobFns, TimeFns}
import graft.operators.{Catalog, Extrema, Raster, Resample}
import graft.sources.{ArchiveWriter, EventsArchiveAdapter, ParquetArchiveSource}

/** SURVEY §2 core operators expressed over the driver's `events` table
  * (the HDB++-points stand-in, see FIXTURES.md §1), each with a DuckDB
  * oracle. Numeric determinism rules (hash compare vs the oracle):
  *
  *  - money/value sums go through exact integer cents
  *    (`sum(cast(round(v*100) as bigint))`) — bit-exact in any engine;
  *  - means divide an exact integer sum by the count, then `round(.,6)`;
  *  - timestamp means average the *offset from 2024-01-01* so partial
  *    sums stay inside double's 53-bit exact-integer range;
  *  - every query has a total ORDER BY with a unique tie-break.
  */
object EventQueries {

  // epoch-µs constants (UTC)
  val Epoch2024: Long = 1704067200000000L // 2024-01-01
  val T0: Long = 1704412800000000L // 2024-01-05
  val T1: Long = 1705708800000000L // 2024-01-20
  val TEnd: Long = 1706659200000000L // 2024-01-31
  val Jan10: Long = 1704844800000000L // 2024-01-10

  private def pts(s: SparkSession, dir: String): DataFrame =
    new EventsArchiveAdapter(s, dir).pointsAll

  /** Oracle-side equivalent of [[EventsArchiveAdapter.pointsAll]]. */
  val PtsSql: String =
    """WITH pts AS (
      |  SELECT event_id AS point_id, user_id, event_type,
      |         user_id * 8 + (CASE event_type WHEN 'click' THEN 0
      |            WHEN 'error' THEN 1 WHEN 'purchase' THEN 2
      |            WHEN 'signup' THEN 3 WHEN 'view' THEN 4 END) AS att_conf_id,
      |         'u' || user_id || '/' || event_type AS att_name,
      |         epoch_us(ts) AS t, value AS value_r
      |  FROM events)
      |""".stripMargin

  /** Exact mean of a 2-decimal value column: integer-cents sum / count. */
  private def meanCents(c: String): org.apache.spark.sql.Column =
    round(sum(round(col(c) * 100).cast("long")).cast("double")
      / count(lit(1)) / lit(100.0), 6)
  private def meanCentsSql(c: String): String =
    s"round(CAST(sum(CAST(round($c*100) AS BIGINT)) AS DOUBLE) / count(*) / 100.0, 6)"

  private def sumCents(c: String): org.apache.spark.sql.Column =
    sum(round(col(c) * 100).cast("long"))
  private def sumCentsSql(c: String): String =
    s"CAST(sum(CAST(round($c*100) AS BIGINT)) AS BIGINT)"

  // ---------------------------------------------------------------- S1/S2/P1/P2/F1
  private def q01(s: SparkSession, dir: String): DataFrame =
    pts(s, dir)
      .where(col("event_type") === "purchase"
        && EventsArchiveAdapter.tsRangeUs(T0, T1))
      .select(col("att_name"), col("point_id"), col("t"), col("value_r"))
      .orderBy(col("t"), col("point_id"))

  private val q01Sql =
    s"""${PtsSql}SELECT att_name, point_id, t, value_r FROM pts
       |WHERE event_type = 'purchase' AND t BETWEEN $T0 AND $T1
       |ORDER BY t, point_id""".stripMargin

  // ---------------------------------------------------------------- A1 resample
  private def resampleQ(freq: String)(s: SparkSession, dir: String): DataFrame =
    Resample.resampleExact(
      pts(s, dir).where(EventsArchiveAdapter.tsRangeUs(T0, T1)),
      freq, Seq("att_name"), Epoch2024)
      .orderBy(col("att_name"), col("bucket_us"))

  private def resampleSql(freq: String): String = {
    val d = TimeFns.intervalUs(freq)
    s"""${PtsSql}SELECT att_name,
       |  ((t + ${d / 2}) // $d) * $d AS bucket_us,
       |  CAST(sum(t - $Epoch2024) AS DOUBLE) / count(*) AS t_mean_off_us,
       |  ${meanCentsSql("value_r")} AS value_mean,
       |  count(*) AS n
       |FROM pts WHERE t BETWEEN $T0 AND $T1
       |GROUP BY att_name, bucket_us
       |ORDER BY att_name, bucket_us""".stripMargin
  }

  // ---------------------------------------------------------------- A2/A7 extrema
  private def q04(s: SparkSession, dir: String): DataFrame =
    Extrema.perAttribute(
      pts(s, dir).where(EventsArchiveAdapter.tsRangeUs(T0, T1)),
      Seq("att_name"))
      .orderBy(col("att_name"))

  // NaN→null mirrored on the oracle side: DuckDB's min/max order NaN
  // above all reals, so a NaN row would otherwise make vmax=NaN while
  // the Spark side (numpy-nanmin/nanmax semantics) returns the real max.
  private val q04Sql =
    s"""${PtsSql}SELECT att_name,
       |  min(CASE WHEN isnan(value_r) THEN NULL ELSE value_r END) AS vmin,
       |  max(CASE WHEN isnan(value_r) THEN NULL ELSE value_r END) AS vmax,
       |  count(*) AS points
       |FROM pts WHERE t BETWEEN $T0 AND $T1
       |GROUP BY att_name ORDER BY att_name""".stripMargin

  // ---------------------------------------------------------------- F3 log-axis extrema
  private def q05(s: SparkSession, dir: String): DataFrame =
    pts(s, dir)
      .withColumn("value_r", col("value_r") - 100) // synthesize negatives
      .where(col("value_r") > 0
        && EventsArchiveAdapter.tsRangeUs(T0, T1))
      .groupBy(col("att_name"))
      .agg(min(col("value_r")).as("vmin"), max(col("value_r")).as("vmax"),
        count(lit(1)).as("points"))
      .orderBy(col("att_name"))

  private val q05Sql =
    s"""${PtsSql}SELECT att_name, min(value_r - 100) AS vmin,
       |  max(value_r - 100) AS vmax, count(*) AS points
       |FROM pts
       |WHERE value_r - 100 > 0 AND t BETWEEN $T0 AND $T1
       |GROUP BY att_name ORDER BY att_name""".stripMargin

  // ---------------------------------------------------------------- A3/J4 axis limits
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val ex = pts(s, dir)
      .where(EventsArchiveAdapter.tsRangeUs(T0, T1))
      .groupBy(col("att_name"), (col("user_id") % 3).as("y_axis"))
      .agg(min(col("value_r")).as("vmin"), max(col("value_r")).as("vmax"),
        count(lit(1)).as("points"))
    Extrema.axisLimits(ex, "y_axis").orderBy(col("y_axis"))
  }

  private val q06Sql =
    s"""${PtsSql}, ex AS (
       |  SELECT att_name, user_id % 3 AS y_axis, min(value_r) AS vmin,
       |         max(value_r) AS vmax, count(*) AS points
       |  FROM pts WHERE t BETWEEN $T0 AND $T1
       |  GROUP BY att_name, y_axis)
       |SELECT y_axis, min(vmin) AS axis_min, max(vmax) AS axis_max,
       |  CAST(sum(points) AS BIGINT) AS axis_points, count(*) AS n_series
       |FROM ex GROUP BY y_axis ORDER BY y_axis""".stripMargin

  // ---------------------------------------------------------------- A5 raster grid
  private val W = 64; private val H = 32
  private val VMax = 330.0

  /** [[graft.operators.Raster]] segCells' out-of-canvas guards,
    * mirrored into the raster oracles: a segment entirely below/above
    * the canvas is skipped (its cells could never survive the clip),
    * and crossing endpoints clamp into the ±(4·H+4) band — without
    * this the oracle walks a far outlier's exact endpoints (different
    * in-canvas cells than the engine, and a recursive CTE that emits
    * |Δpy| rows). NULL pys pass through untouched (line breaks). */
  private def segClampSql(h: Int): String = {
    // ONE band definition with the engine (Raster.clampBand) — any
    // drift between the two splits engine and oracle on far outliers
    val band = graft.operators.Raster.clampBand(h)
    val lo = -band; val hi = band + h
    def cl(c: String) =
      s"CASE WHEN $c IS NULL THEN NULL WHEN $c < $lo THEN $lo " +
        s"WHEN $c > $hi THEN $hi ELSE $c END"
    s"""segc AS (
       |  SELECT event_type, x0, ${cl("y0")} AS y0, x1, ${cl("y1")} AS y1
       |  FROM segs
       |  WHERE coalesce(NOT ((y0 < -1 AND y1 < -1)
       |    OR (y0 > $h AND y1 > $h)), TRUE))""".stripMargin
  }

  private def q07(s: SparkSession, dir: String): DataFrame =
    // the FUSED raster path (plans/RasterFusion.scala): one custom
    // operator for filter+pixel-bin+partial-agg; value parity with
    // the declarative DeclarativeRaster.binPoints (test scope) is
    // plan-asserted in RasterFusionSpec and hash-pinned here against
    // the same oracle
    graft.plans.RasterFusion.binPoints(
      pts(s, dir).where(EventsArchiveAdapter.tsRangeUs(Epoch2024, TEnd)),
      Seq("event_type"), Epoch2024, TEnd, 0.0, VMax, W, H)
      .withColumn("vmean", round(col("vmean"), 6))
      .orderBy(col("event_type"), col("px"), col("py"))

  // vmean follows the exact-sum contract like everything else: e6
  // integer sum, one multiply, one division (a plain avg's double
  // accumulation drifted 1 ulp from DuckDB once sf1 cells held enough
  // points — "cell populations are tiny" did not survive the scale-up).
  private val q07Sql =
    s"""${PtsSql}, binned AS (
       |  SELECT event_type,
       |    least(((t - $Epoch2024) * $W) // ${TEnd - Epoch2024}, ${W - 1}) AS px,
       |    least(CAST(floor((value_r - 0.0) / $VMax * $H) AS BIGINT), ${H - 1}) AS py,
       |    value_r
       |  FROM pts
       |  WHERE t BETWEEN $Epoch2024 AND $TEnd AND NOT isnan(value_r)
       |    AND value_r BETWEEN 0.0 AND $VMax)
       |SELECT event_type, px, py, count(*) AS cnt,
       |  round(CAST(sum(CAST(round(value_r * 1e6) AS BIGINT)) AS DOUBLE)
       |    / (count(*) * 1e6), 6) AS vmean,
       |  min(value_r) AS vmin, max(value_r) AS vmax
       |FROM binned GROUP BY event_type, px, py
       |ORDER BY event_type, px, py""".stripMargin

  // ---------------------------------------------------------------- A6 hover
  private def q08(s: SparkSession, dir: String): DataFrame =
    // the FUSED hover path (plans/RasterFusion.hoverColumns): one
    // exchange on (keys, px) instead of grid + second aggregate; value
    // parity with the declarative DeclarativeRaster.binPoints ∘
    // hoverColumns composition (test scope) is plan-asserted in
    // RasterFusionSpec and hash-pinned here against the unchanged oracle
    graft.plans.RasterFusion.hoverColumns(
      pts(s, dir).where(EventsArchiveAdapter.tsRangeUs(Epoch2024, TEnd)),
      Seq("event_type"), Epoch2024, TEnd, 0.0, VMax, W, H)
      .orderBy(col("event_type"), col("px"))

  private val q08Sql =
    s"""${PtsSql}, binned AS (
       |  SELECT event_type,
       |    least(((t - $Epoch2024) * $W) // ${TEnd - Epoch2024}, ${W - 1}) AS px,
       |    least(CAST(floor((value_r - 0.0) / $VMax * $H) AS BIGINT), ${H - 1}) AS py,
       |    value_r
       |  FROM pts
       |  WHERE t BETWEEN $Epoch2024 AND $TEnd AND NOT isnan(value_r)
       |    AND value_r BETWEEN 0.0 AND $VMax),
       |grid AS (
       |  SELECT event_type, px, py, count(*) AS cnt, min(value_r) AS vmin,
       |         max(value_r) AS vmax
       |  FROM binned GROUP BY event_type, px, py)
       |SELECT event_type, px, min(vmin) AS col_min, max(vmax) AS col_max,
       |  CAST(sum(cnt) AS BIGINT) AS col_count
       |FROM grid GROUP BY event_type, px
       |ORDER BY event_type, px""".stripMargin

  // ---------------------------------------------------------------- S6/O3 point-in-time
  private def q09(s: SparkSession, dir: String): DataFrame =
    Catalog.latestBefore(pts(s, dir)
      .where(EventsArchiveAdapter.tsLtUs(T1)),
      Seq("user_id"), "t", T1, "point_id")
      .select(col("user_id"), col("point_id"), col("t"), col("value_r"))
      .orderBy(col("user_id"))

  private val q09Sql =
    s"""${PtsSql}, ranked AS (
       |  SELECT user_id, point_id, t, value_r,
       |    row_number() OVER (PARTITION BY user_id
       |                       ORDER BY t DESC, point_id DESC) AS rn
       |  FROM pts WHERE t < $T1)
       |SELECT user_id, point_id, t, value_r FROM ranked WHERE rn = 1
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- S7/O4 history limit
  private def q10(s: SparkSession, dir: String): DataFrame =
    Catalog.firstEvents(pts(s, dir)
      .where(EventsArchiveAdapter.tsGtLtUs(T0, T1)),
      Seq("event_type"), "t", T0, T1, 10, "point_id")
      .select(col("event_type"), col("rn").cast("long").as("rn"),
        col("point_id"), col("t"), col("value_r"))
      .orderBy(col("event_type"), col("rn"))

  private val q10Sql =
    s"""${PtsSql}, ranked AS (
       |  SELECT event_type, point_id, t, value_r,
       |    row_number() OVER (PARTITION BY event_type
       |                       ORDER BY t ASC, point_id ASC) AS rn
       |  FROM pts WHERE t > $T0 AND t < $T1)
       |SELECT event_type, rn, point_id, t, value_r FROM ranked WHERE rn <= 10
       |ORDER BY event_type, rn""".stripMargin

  // ---------------------------------------------------------------- F5/O1 glob search
  private val Glob = "*/u1?/p*"
  private def q11(s: SparkSession, dir: String): DataFrame =
    Catalog.search(new EventsArchiveAdapter(s, dir).attNames, Glob)

  private val q11Sql = {
    val re = GlobFns.globRegex(Glob)
    s"""WITH an AS (SELECT DISTINCT
       |    'events/stream/u' || user_id || '/' || event_type AS attribute
       |  FROM events)
       |SELECT attribute FROM an WHERE regexp_matches(attribute, '$re')
       |ORDER BY attribute""".stripMargin
  }

  // ---------------------------------------------------------------- F6 substring search
  private def q12(s: SparkSession, dir: String): DataFrame =
    Catalog.searchSubstring(new EventsArchiveAdapter(s, dir).attNames, "chas")

  private val q12Sql =
    s"""WITH an AS (SELECT DISTINCT
       |    'events/stream/u' || user_id || '/' || event_type AS attribute
       |  FROM events)
       |SELECT attribute FROM an
       |WHERE regexp_matches(attribute, '${GlobFns.substringRegex("chas")}')
       |ORDER BY attribute""".stripMargin

  // ---------------------------------------------------------------- O2 distinct sorted
  private def q13(s: SparkSession, dir: String): DataFrame =
    pts(s, dir).select(col("att_name")).distinct().orderBy(col("att_name"))

  private val q13Sql =
    s"""${PtsSql}SELECT DISTINCT att_name FROM pts ORDER BY att_name"""

  // ---------------------------------------------------------------- J2 catalog grouping
  private def q14(s: SparkSession, dir: String): DataFrame =
    new EventsArchiveAdapter(s, dir).attNames
      .groupBy(col("member"))
      .agg(count(lit(1)).as("n_attributes"),
        array_join(sort_array(collect_list(col("name"))), ",").as("attrs"))
      .orderBy(col("member"))

  private val q14Sql =
    """WITH an AS (SELECT DISTINCT user_id, event_type FROM events)
      |SELECT 'u' || user_id AS member, count(*) AS n_attributes,
      |  string_agg(event_type, ',' ORDER BY event_type) AS attrs
      |FROM an GROUP BY user_id ORDER BY member""".stripMargin

  // ---------------------------------------------------------------- U1 union of partitions
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val p = pts(s, dir)
    val a = p.where(EventsArchiveAdapter.tsGeLtUs(Epoch2024, Jan10))
    val b = p.where(EventsArchiveAdapter.tsGeLtUs(Jan10, T1))
    a.unionByName(b)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sumCents("value_r").as("sum_cents"))
      .orderBy(col("event_type"))
  }

  // oracle is the single-scan equivalent — union of day partitions must
  // be indistinguishable from one scan (reference U1, hdbpp.py:324-325)
  private val q15Sql =
    s"""${PtsSql}SELECT event_type, count(*) AS n,
       |  ${sumCentsSql("value_r")} AS sum_cents
       |FROM pts WHERE t >= $Epoch2024 AND t < $T1
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- O6 top-k (fixed)
  private def q16(s: SparkSession, dir: String): DataFrame =
    pts(s, dir)
      .select(col("point_id"), col("att_name"), col("t"), col("value_r"))
      .orderBy(col("value_r").desc, col("point_id").asc)
      .limit(20)

  private val q16Sql =
    s"""${PtsSql}SELECT point_id, att_name, t, value_r FROM pts
       |ORDER BY value_r DESC, point_id ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- K2 Grafana datapoints
  private def q17(s: SparkSession, dir: String): DataFrame =
    pts(s, dir)
      .where(col("event_type") === "click"
        && EventsArchiveAdapter.tsRangeUs(T0, T1))
      .select(col("att_name"), col("point_id"),
        when(isnan(col("value_r")), lit(null)).otherwise(col("value_r"))
          .as("value_r"),
        (col("t") / lit(1000.0)).as("t_ms"))
      .orderBy(col("att_name"), col("t_ms"), col("point_id"))

  private val q17Sql =
    s"""${PtsSql}SELECT att_name, point_id,
       |  CASE WHEN isnan(value_r) THEN NULL ELSE value_r END AS value_r,
       |  t / 1000.0 AS t_ms
       |FROM pts WHERE event_type = 'click' AND t BETWEEN $T0 AND $T1
       |ORDER BY att_name, t_ms, point_id""".stripMargin

  // ---------------------------------------------------------------- K1 CSV projection
  private def q18(s: SparkSession, dir: String): DataFrame =
    pts(s, dir)
      .where(col("att_name") === "u3/view")
      .select(col("t"), col("value_r"))
      .orderBy(col("t"), col("value_r"))

  private val q18Sql =
    s"""${PtsSql}SELECT t, value_r FROM pts WHERE att_name = 'u3/view'
       |ORDER BY t, value_r""".stripMargin

  // ---------------------------------------------------------------- J1 broadcast join
  private def q19(s: SparkSession, dir: String): DataFrame = {
    val cust = s.read.parquet(s"$dir/customer.parquet")
    pts(s, dir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sumCents("value_r").as("sum_cents"),
        meanCents("value_r").as("value_mean"))
      .orderBy(col("c_mktsegment"))
  }

  private val q19Sql =
    s"""${PtsSql}SELECT c_mktsegment, count(*) AS n,
       |  ${sumCentsSql("value_r")} AS sum_cents,
       |  ${meanCentsSql("value_r")} AS value_mean
       |FROM pts JOIN customer ON user_id = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- TPC-H Q1 style
  private val ShipCut = 904694400000000L // 1998-09-02 UTC epoch-µs
  private def q20(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
      // direct TIMESTAMP_NTZ comparison (session TZ pinned UTC, so this
      // instant equals the oracle's epoch_us(l_shipdate) <= ShipCut) — and
      // unlike unix_micros(cast(...)) it pushes into the parquet scan
      .where(col("l_shipdate") <= to_timestamp_ntz(
        lit("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("sum_base_cents"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000).cast("long")).as("sum_disc_e4"),
        sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")) * 1000000).cast("long"))
          .as("sum_charge_e6"),
        round(sum(round(col("l_quantity")).cast("long")).cast("double")
          / count(lit(1)), 6).as("avg_qty"),
        meanCents("l_extendedprice").as("avg_price"),
        round(sum(round(col("l_discount") * 100).cast("long")).cast("double")
          / count(lit(1)) / lit(100.0), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q20Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
       |    AS sum_base_cents,
       |  CAST(sum(CAST(round(l_extendedprice*(1 - l_discount)*10000)
       |    AS BIGINT)) AS BIGINT) AS sum_disc_e4,
       |  CAST(sum(CAST(round(l_extendedprice*(1 - l_discount)*(1 + l_tax)
       |    *1000000) AS BIGINT)) AS BIGINT) AS sum_charge_e6,
       |  round(CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
       |    / count(*), 6) AS avg_qty,
       |  ${meanCentsSql("l_extendedprice")} AS avg_price,
       |  round(CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE)
       |    / count(*) / 100.0, 6) AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem WHERE epoch_us(l_shipdate) <= $ShipCut
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- A4 line raster
  private def q21(s: SparkSession, dir: String): DataFrame =
    Raster.binLines(
      pts(s, dir).where(EventsArchiveAdapter.tsRangeUs(Epoch2024, TEnd)),
      Seq("event_type"), "point_id", Epoch2024, TEnd, 0.0, VMax, W, H)
      .orderBy(col("event_type"), col("px"), col("py"))

  /** Bresenham as a recursive CTE: each working row is one line-walk
    * state (x, y, err); a step emits the next covered cell, exactly
    * mirroring [[Raster.bresenham]] (which emits every cell AFTER the
    * start cell, endpoint included). Segments = consecutive points per
    * event_type ordered by (t, point_id); NaN endpoints break the line. */
  private val q21Sql =
    s"""${PtsSql.replaceFirst("WITH ", "WITH RECURSIVE ")}, proj AS (
       |  SELECT event_type, point_id, t,
       |    least(((t - $Epoch2024) * $W) // ${TEnd - Epoch2024}, ${W - 1}) AS px,
       |    CASE WHEN isnan(value_r) THEN NULL
       |         ELSE least(CAST(floor((value_r - 0.0) / $VMax * $H) AS BIGINT),
       |                    ${H - 1}) END AS py
       |  FROM pts WHERE t BETWEEN $Epoch2024 AND $TEnd),
       |segs AS (
       |  SELECT event_type,
       |    lag(px) OVER win AS x0, lag(py) OVER win AS y0,
       |    px AS x1, py AS y1
       |  FROM proj WINDOW win AS (PARTITION BY event_type ORDER BY t, point_id)),
       |${segClampSql(H)},
       |walk AS (
       |  SELECT event_type, x0 AS x, y0 AS y, x1, y1,
       |    abs(x1 - x0) AS dx, -abs(y1 - y0) AS dy,
       |    CASE WHEN x0 < x1 THEN 1 ELSE -1 END AS sx,
       |    CASE WHEN y0 < y1 THEN 1 ELSE -1 END AS sy,
       |    abs(x1 - x0) - abs(y1 - y0) AS err, FALSE AS emit
       |  FROM segc WHERE x0 IS NOT NULL AND y0 IS NOT NULL AND y1 IS NOT NULL
       |  UNION ALL
       |  SELECT event_type,
       |    CASE WHEN 2*err >= dy THEN x + sx ELSE x END,
       |    CASE WHEN 2*err <= dx THEN y + sy ELSE y END,
       |    x1, y1, dx, dy, sx, sy,
       |    err + CASE WHEN 2*err >= dy THEN dy ELSE 0 END
       |        + CASE WHEN 2*err <= dx THEN dx ELSE 0 END,
       |    TRUE
       |  FROM walk WHERE NOT (x = x1 AND y = y1))
       |SELECT event_type, x AS px, y AS py, count(*) AS cnt
       |FROM walk WHERE emit AND x BETWEEN 0 AND ${W - 1}
       |  AND y BETWEEN 0 AND ${H - 1}
       |GROUP BY event_type, px, py
       |ORDER BY event_type, px, py""".stripMargin

  /** A4-AA — the anti-aliased line raster as a first-class oracled
    * query: same segments as q21, coverage split per major-axis step
    * in closed-form integer-rational arithmetic. Unlike Bresenham's
    * stateful walk (recursive CTE), the AA kernel is a direct function
    * of the step index, so the oracle is plain generate_series SQL
    * mirroring [[Raster.lineAA]] term by term. */
  private def q28(s: SparkSession, dir: String): DataFrame =
    Raster.binLinesAA(
      pts(s, dir).where(EventsArchiveAdapter.tsRangeUs(Epoch2024, TEnd)),
      Seq("event_type"), "point_id", Epoch2024, TEnd, 0.0, VMax, W, H)
      .orderBy(col("event_type"), col("px"), col("py"))

  /** Shared AA-walk oracle chain (q28 linear-y / q29 log-y): the
    * segment pairing, orientation, closed-form coverage split and
    * clipping are py-agnostic — only the projection's py expression
    * differs between the two axes. */
  private def aaSql(pySql: String): String =
    s"""${PtsSql}, proj AS (
       |  SELECT event_type, point_id, t,
       |    least(((t - $Epoch2024) * $W) // ${TEnd - Epoch2024}, ${W - 1}) AS px,
       |    $pySql AS py
       |  FROM pts WHERE t BETWEEN $Epoch2024 AND $TEnd),
       |segs AS (
       |  SELECT event_type,
       |    lag(px) OVER win AS x0, lag(py) OVER win AS y0,
       |    px AS x1, py AS y1
       |  FROM proj WINDOW win AS (PARTITION BY event_type ORDER BY t, point_id)),
       |${segClampSql(H)},
       |oriented AS (
       |  SELECT event_type, abs(y1 - y0) > abs(x1 - x0) AS steep,
       |    CASE WHEN abs(y1 - y0) > abs(x1 - x0) THEN y0 ELSE x0 END AS a0,
       |    CASE WHEN abs(y1 - y0) > abs(x1 - x0) THEN x0 ELSE y0 END AS b0,
       |    CASE WHEN abs(y1 - y0) > abs(x1 - x0) THEN y1 ELSE x1 END AS a1,
       |    CASE WHEN abs(y1 - y0) > abs(x1 - x0) THEN x1 ELSE y1 END AS b1
       |  FROM segc
       |  WHERE x0 IS NOT NULL AND y0 IS NOT NULL AND y1 IS NOT NULL
       |    AND NOT (x0 = x1 AND y0 = y1)),
       |steps AS (
       |  SELECT event_type, steep, a0, b0, a1 - a0 AS da, b1 - b0 AS db,
       |    CASE WHEN a1 >= a0 THEN 1 ELSE -1 END AS sa,
       |    unnest(generate_series(1, abs(a1 - a0))) AS i
       |  FROM oriented),
       |walk AS (
       |  SELECT event_type, steep, a0 + i * sa AS m,
       |    CASE WHEN da < 0 THEN -(b0 * da + i * sa * db)
       |         ELSE b0 * da + i * sa * db END AS num,
       |    abs(da) AS den
       |  FROM steps),
       |split AS (
       |  -- DuckDB's % takes the dividend's sign while lineAA's
       |  -- floorDiv keeps rem in [0, den); normalize with a positive
       |  -- modulo (num can be negative when a segment dips below the
       |  -- canvas) and recover the floor quotient from it exactly
       |  SELECT event_type, steep, m,
       |    (num - ((num % den) + den) % den) // den AS ib,
       |    ((num % den) + den) % den AS rem,
       |    (256 * (((num % den) + den) % den) * 2 + den) // (2 * den)
       |      AS w_hi
       |  FROM walk),
       |cells AS (
       |  SELECT event_type, steep, m, ib AS b, 256 AS w
       |  FROM split WHERE rem = 0
       |  UNION ALL
       |  SELECT event_type, steep, m, ib AS b, 256 - w_hi AS w
       |  FROM split WHERE rem > 0 AND 256 - w_hi > 0
       |  UNION ALL
       |  SELECT event_type, steep, m, ib + 1 AS b, w_hi AS w
       |  FROM split WHERE rem > 0 AND w_hi > 0),
       |grid AS (
       |  SELECT event_type,
       |    CASE WHEN steep THEN b ELSE m END AS px,
       |    CASE WHEN steep THEN m ELSE b END AS py, w
       |  FROM cells)
       |SELECT event_type, px, py, CAST(sum(w) AS BIGINT) AS w256
       |FROM grid
       |WHERE px BETWEEN 0 AND ${W - 1} AND py BETWEEN 0 AND ${H - 1}
       |GROUP BY event_type, px, py
       |ORDER BY event_type, px, py""".stripMargin

  private val q28Sql = aaSql(
    s"""CASE WHEN isnan(value_r) THEN NULL
       |         ELSE least(CAST(floor((value_r - 0.0) / $VMax * $H) AS BIGINT),
       |                    ${H - 1}) END""".stripMargin)

  /** A4-AA × C8-log — the anti-aliased raster on a LOG y-axis (the
    * reference's log-scale rendering, `imageplot.js:194-216`),
    * hash-pinned; before this only goldens covered the combination.
    * vmin=1 / vmax=100 put the log-space bounds at exactly 0.0 and 2.0
    * in BOTH engines (log10 of a power of ten is exact — Java
    * documents it, C libms honor it), so the only shared float op is
    * `log10(v)` itself; a py boundary flip would need log10(v)·H/2
    * within an ulp of an integer, i.e. v within ~1e-13 of some
    * 10^(k/16) — no synthetic value sits there. The q05 `-100` shift
    * synthesizes non-positive values, which a log axis cannot project:
    * linesRaster's explicit guard nulls their py and the polyline
    * BREAKS there (adding this query caught the guard's absence —
    * pyCol's null-skipping `least` used to clamp them to the top row). */
  private def q29(s: SparkSession, dir: String): DataFrame =
    Raster.binLinesAA(
      pts(s, dir)
        .withColumn("value_r", col("value_r") - 100)
        .where(EventsArchiveAdapter.tsRangeUs(Epoch2024, TEnd)),
      Seq("event_type"), "point_id", Epoch2024, TEnd, 1.0, 100.0, W, H,
      logScale = true)
      .orderBy(col("event_type"), col("px"), col("py"))

  private val q29Sql = aaSql(
    s"""CASE WHEN isnan(value_r) OR value_r - 100 <= 0 THEN NULL
       |         ELSE least(CAST(floor((log10(value_r - 100) - 0.0)
       |                          / 2.0 * $H) AS BIGINT),
       |                    ${H - 1}) END""".stripMargin)

  /** A6-hover × C8-log — the FUSED hover path on a LOG y-axis:
    * `RasterParams`' log branch (py via log10, keep via the
    * positive-floor guard) was goldens-only while q08 pinned linear-y
    * — the same asymmetry q29 closed for the AA raster. vmin=1 /
    * vmax=100 put the log-space bounds at exactly 0.0 and 2.0 in both
    * engines (q29's exactness argument: log10 of a power of ten is
    * exact, so the only shared float op is `log10(v)` itself, and a py
    * boundary flip would need a value within ~1e-13 of some 10^(k/16)
    * — none of the synthetic values sits there). The keep filter's
    * log-branch floor `max(vmin, MIN_VALUE)` is 1.0 here, so the SQL
    * BETWEEN mirrors it inclusively. */
  private def q30(s: SparkSession, dir: String): DataFrame =
    graft.plans.RasterFusion.hoverColumns(
      pts(s, dir).where(EventsArchiveAdapter.tsRangeUs(Epoch2024, TEnd)),
      Seq("event_type"), Epoch2024, TEnd, 1.0, 100.0, W, H,
      logScale = true)
      .orderBy(col("event_type"), col("px"))

  private val q30Sql =
    s"""${PtsSql}, binned AS (
       |  SELECT event_type,
       |    least(((t - $Epoch2024) * $W) // ${TEnd - Epoch2024}, ${W - 1}) AS px,
       |    least(CAST(floor((log10(value_r) - 0.0) / 2.0 * $H) AS BIGINT),
       |          ${H - 1}) AS py,
       |    value_r
       |  FROM pts
       |  WHERE t BETWEEN $Epoch2024 AND $TEnd AND NOT isnan(value_r)
       |    AND value_r BETWEEN 1.0 AND 100.0),
       |grid AS (
       |  SELECT event_type, px, py, count(*) AS cnt, min(value_r) AS vmin,
       |         max(value_r) AS vmax
       |  FROM binned GROUP BY event_type, px, py)
       |SELECT event_type, px, min(vmin) AS col_min, max(vmax) AS col_max,
       |  CAST(sum(cnt) AS BIGINT) AS col_count
       |FROM grid GROUP BY event_type, px
       |ORDER BY event_type, px""".stripMargin

  // ---------------------------------------------------------------- star-schema joins
  /** Multi-way broadcast join over the TPC-H-ish dimensions: revenue
    * rollup orders ⋈ customer ⋈ nation (both dims broadcast — at 100 TB
    * the fact side streams, no shuffle of orders). */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
    val cust = s.read.parquet(s"$dir/customer.parquet")
    val nation = s.read.parquet(s"$dir/nation.parquet")
    orders
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        sumCents("o_totalprice").as("revenue_cents"))
      .orderBy(col("n_name"))
  }

  private val q22Sql =
    s"""SELECT n_name, count(*) AS n_orders,
       |  ${sumCentsSql("o_totalprice")} AS revenue_cents
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Fact-to-dim join with selective dim filter: lineitem ⋈ part
    * restricted to one brand — the dim filter prunes before broadcast,
    * so the join probes a tiny hash table. */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val part = s.read.parquet(s"$dir/part.parquet")
      .where(col("p_brand") === "Brand#1")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        sumCents("l_extendedprice").as("sum_price_cents"))
      .orderBy(col("p_type"))
  }

  private val q23Sql =
    s"""SELECT p_type, count(*) AS n_items,
       |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       |  ${sumCentsSql("l_extendedprice")} AS sum_price_cents
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE p_brand = 'Brand#1'
       |GROUP BY p_type ORDER BY p_type""".stripMargin

  // ---------------------------------------------------------------- as-of join
  /** As-of join (beyond the reference's surface, SURVEY §5 extension):
    * every purchase event picks up the same user's most recent click
    * value at-or-before it — the "state at event time" lookup an
    * archive viewer needs to correlate a reading with the last
    * configuration/calibration row. Runs the SKEW-BOUNDED bucketed
    * merge (day cells) so the oracle verifies the 100 TB path
    * directly; `asofJoin` (the single-window form) is parity-tested
    * against it in TimeJoinsSpec. */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val p = pts(s, dir)
    val purchases = p.where(col("event_type") === "purchase")
      .select(col("user_id"), col("point_id"), col("t"), col("value_r"))
    val clicks = p.where(col("event_type") === "click")
      .select(col("user_id"), col("t").as("ct"),
        col("point_id").as("click_id"), col("value_r").as("click_value"))
    graft.operators.TimeJoins.asofJoinBucketed(
      purchases, clicks, Seq("user_id"),
      leftTime = "t", rightTime = "ct",
      valueCols = Seq("click_id", "click_value"), rightTie = "click_id",
      bucketUs = 86400000000L)
      .orderBy(col("user_id"), col("t"), col("point_id"))
  }

  private val q24Sql =
    s"""${PtsSql}, purchases AS (
       |  SELECT user_id, point_id, t, value_r FROM pts
       |  WHERE event_type = 'purchase'),
       |clicks AS (
       |  SELECT user_id, t AS ct, point_id AS click_id,
       |         value_r AS click_value
       |  FROM pts WHERE event_type = 'click')
       |SELECT p.user_id, p.point_id, p.t, p.value_r,
       |  (SELECT c.click_id FROM clicks c
       |   WHERE c.user_id = p.user_id AND c.ct <= p.t
       |   ORDER BY c.ct DESC, c.click_id DESC LIMIT 1) AS click_id,
       |  (SELECT c.click_value FROM clicks c
       |   WHERE c.user_id = p.user_id AND c.ct <= p.t
       |   ORDER BY c.ct DESC, c.click_id DESC LIMIT 1) AS click_value
       |FROM purchases p
       |ORDER BY p.user_id, p.t, p.point_id""".stripMargin

  // ---------------------------------------------------------------- range join
  /** Range join: every error event opens a 1-hour incident window;
    * count and sum the same user's purchases inside each window.
    * Interval-bucketed equi-join — never a nested-loop theta join
    * (operators/TimeJoins.scala). Windows may overlap; a purchase can
    * legitimately land in several. */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val p = pts(s, dir)
    val purchases = p.where(col("event_type") === "purchase")
      .select(col("user_id"), col("t"), col("value_r"))
    val incidents = p.where(col("event_type") === "error")
      .select(col("user_id"), col("point_id").as("err_id"),
        col("t").as("lo"), (col("t") + hourUs).as("hi"))
    graft.operators.TimeJoins.rangeJoin(
      purchases, incidents, Seq("user_id"),
      pointTime = "t", loCol = "lo", hiCol = "hi", bucketUs = hourUs)
      .groupBy(col("user_id"), col("err_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sumCents("value_r").as("sum_cents"))
      .orderBy(col("user_id"), col("err_id"))
  }

  private val q25Sql =
    s"""${PtsSql}, purchases AS (
       |  SELECT user_id, t, value_r FROM pts WHERE event_type = 'purchase'),
       |incidents AS (
       |  SELECT user_id, point_id AS err_id, t AS lo, t + 3600000000 AS hi
       |  FROM pts WHERE event_type = 'error')
       |SELECT p.user_id, i.err_id, count(*) AS n_purchases,
       |  ${sumCentsSql("p.value_r")} AS sum_cents
       |FROM purchases p JOIN incidents i
       |  ON p.user_id = i.user_id AND p.t >= i.lo AND p.t <= i.hi
       |GROUP BY p.user_id, i.err_id
       |ORDER BY p.user_id, i.err_id""".stripMargin

  // ---------------------------------------------------------------- sessionize
  /** Gap-based sessionization (30-min gap): per-user activity bursts
    * with count/start/end/duration — one per-key window + rollup
    * (operators/Sessions.scala). */
  private def q26(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessions.sessionStats(
      pts(s, dir).select(col("user_id"), col("point_id"), col("t")),
      Seq("user_id"), timeCol = "t", tieCol = "point_id",
      gapUs = 1800000000L)
      .orderBy(col("user_id"), col("session_seq"))

  private val q26Sql =
    s"""${PtsSql}, s AS (
       |  SELECT user_id, point_id, t,
       |    CASE WHEN lag(t) OVER win IS NULL
       |           OR t - lag(t) OVER win > 1800000000
       |         THEN 1 ELSE 0 END AS starts
       |  FROM pts WINDOW win AS (PARTITION BY user_id ORDER BY t, point_id)),
       |g AS (
       |  SELECT user_id, t,
       |    CAST(sum(starts) OVER (PARTITION BY user_id ORDER BY t, point_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_seq
       |  FROM s)
       |SELECT user_id, session_seq, count(*) AS n_events,
       |  min(t) AS t_start, max(t) AS t_end,
       |  max(t) - min(t) AS duration_us
       |FROM g GROUP BY user_id, session_seq
       |ORDER BY user_id, session_seq""".stripMargin

  // ---------------------------------------------------------------- naive range
  /** The q01-style range written NAIVELY — only the derived µs column
    * `t`, no manually paired raw-`ts` bound (what a user who never read
    * [[EventsArchiveAdapter.tsRangeUs]]'s scaladoc writes). Correct
    * either way; row-group PRUNED only because
    * [[graft.plans.DerivedDivBounds]] derives the raw bound —
    * PlanGuardSpec asserts the pushdown reaches the footer, this
    * oracle pins the results. */
  private def q27(s: SparkSession, dir: String): DataFrame =
    pts(s, dir)
      .where(col("event_type") === "click"
        && col("t") >= T0 && col("t") <= T1)
      .select(col("att_name"), col("point_id"), col("t"), col("value_r"))
      .orderBy(col("t"), col("point_id"))

  private val q27Sql =
    s"""${PtsSql}SELECT att_name, point_id, t, value_r FROM pts
       |WHERE event_type = 'click' AND t BETWEEN $T0 AND $T1
       |ORDER BY t, point_id""".stripMargin

  // ---------------------------------------------------------------- multi-type pointsResolved
  /** q31 — the multi-TYPE archive scan ([[ParquetArchiveSource
    * .pointsResolved]], reference `hdbpp.py:404-410`): each requested
    * attribute's data table is resolved from `att_conf.data_type`, each
    * table scanned only for its own ids, and the frames unioned with
    * `value_r` widened to double. Until this round the widened-union
    * path was scalatest-only; this pins it against the events oracle.
    *
    * Fixture: a deterministic two-type archive DERIVED from the events
    * table (built once per session×dir into a temp dir, reused across
    * bench passes) — click/error/purchase points land in
    * `att_scalar_devdouble_ro` as doubles, signup/view points in
    * `att_scalar_devfloat_ro` NARROWED to float (both engines round
    * ties-to-even, so the float step is bit-reproducible and the
    * widening is observable in the hash). The oracle replays the same
    * narrowing with `CAST(value_r AS REAL)` directly over events. */
  private val multiTypeRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The six attributes q31 resolves — u1/u2/u3 × {click, view}. The
    * data-table fixture is restricted to THEM: the layout is
    * `(att_conf_id, period)`-partitioned, so writing the full events
    * id space would create #atts × #days partition directories of a
    * few rows each (at sf0.1 that is ~300k shell-out file creations —
    * measured as a bench-killing multi-hour write), while the query
    * only ever prunes down to these six. The catalog keeps ALL
    * attributes so the data_type resolution still searches a
    * realistic table. */
  private val Q31Ids = Seq(8, 12, 16, 20, 24, 28)

  private def multiTypeArchive(s: SparkSession, dir: String): String =
    // one spare build on a lost race leaks one temp dir — harmless
    graft.operators.SkewOps.sessionMemo(multiTypeRoots, s, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-multitype").toString
      val p = pts(s, dir)
        .where(col("att_conf_id").isin(Q31Ids: _*))
        .select(col("att_conf_id"), col("period"),
          col("point_id"), col("t"), col("value_r"),
          pmod(col("att_conf_id"), lit(8)).as("_ty"))
      ArchiveWriter.write(p.where(col("_ty") < 3).drop("_ty"),
        root, "att_scalar_devdouble_ro", mode = "overwrite")
      ArchiveWriter.write(
        p.where(col("_ty") >= 3)
          .withColumn("value_r", col("value_r").cast("float")).drop("_ty"),
        root, "att_scalar_devfloat_ro", mode = "overwrite")
      pts(s, dir)
        .select(col("att_conf_id").cast("int").as("att_conf_id"),
          pmod(col("att_conf_id"), lit(8)).as("_ty")).distinct()
        .withColumn("data_type", when(col("_ty") < 3,
          "scalar_devdouble_ro").otherwise("scalar_devfloat_ro"))
        .drop("_ty")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/att_conf")
      root
    }

  // ------------------------------------------- flat multi-file archive scan
  /** q35 — a time window over a FLAT day-rolled multi-file archive,
    * read through [[graft.sources.TsStatsFileIndex]] (the adapter's
    * multi-file path): the layout where Spark's own parquet layer
    * prunes nothing on the driver's unadjusted-µs encoding and the
    * footer-stats index supplies the skipping. Until now the index was
    * scalatest-only; this pins its results against the events oracle —
    * pruning must be invisible in the answer.
    *
    * Fixture: the events table re-rolled into ~15 ts-ranged files
    * (unadjusted `timestamp[us]`, the driver encoding), built once per
    * session×dir. The canonical NTZ `ts` is rebuilt from the derived
    * µs `t`, so the fixture is identical under every source
    * encoding. */
  private val flatRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def flatArchive(s: SparkSession, dir: String): String =
    graft.operators.SkewOps.sessionMemo(flatRoots, s, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-flat").toString
      pts(s, dir).select(
          col("point_id").as("event_id"),
          // reinterpret, not cast/convert_timezone: both render the
          // SESSION zone (convert_timezone's implicit LTZ→NTZ cast
          // mis-resolves DST-ambiguous fall-back wall times)
          TimeFns.ntzOfMicros(col("t")).as("ts"),
          col("user_id"), col("event_type"),
          col("value_r").as("value"), col("error_desc").as("props"))
        .repartitionByRange(15, col("ts"))
        .write.mode("overwrite").parquet(s"$root/events.parquet")
      root
    }

  private def q35(s: SparkSession, dir: String): DataFrame =
    new EventsArchiveAdapter(s, flatArchive(s, dir)).pointsAll
      .where(EventsArchiveAdapter.tsRangeUs(Jan10, Jan10 + 2 * 86400000000L))
      .select(col("att_name"), col("point_id"), col("t"), col("value_r"))
      .orderBy(col("point_id"))

  private val q35Sql =
    s"""${PtsSql}SELECT att_name, point_id, t, value_r FROM pts
       |WHERE t BETWEEN $Jan10 AND ${Jan10 + 2 * 86400000000L}
       |ORDER BY point_id""".stripMargin

  private def q31(s: SparkSession, dir: String): DataFrame = {
    val src = new ParquetArchiveSource(s, multiTypeArchive(s, dir))
    // u1/u2/u3 × {click → double table, view → float table}
    src.pointsResolved(Seq(8, 12, 16, 20, 24, 28),
      "2024-01-05", "2024-01-20")
      .select(col("att_conf_id").cast("long").as("att_conf_id"),
        col("point_id"), col("t"), col("value_r"))
      .orderBy(col("att_conf_id"), col("point_id"))
  }

  // period ∈ ['2024-01-05','2024-01-20'] ⟺ t ∈ [Jan5, Jan21) in µs
  private val q31Sql =
    s"""${PtsSql}SELECT att_conf_id, point_id, t,
       |  CASE WHEN att_conf_id % 8 >= 3
       |       THEN CAST(CAST(value_r AS REAL) AS DOUBLE)
       |       ELSE value_r END AS value_r
       |FROM pts
       |WHERE att_conf_id IN (8, 12, 16, 20, 24, 28)
       |  AND t >= $T0 AND t < ${T1 + 86400000000L}
       |ORDER BY att_conf_id, point_id""".stripMargin

  // ---------------------------------------------------------------- R1/A1 streaming resample
  /** q32 — Structured Streaming as a first-class ORACLED query: the
    * events file read through `readStream` and aggregated by
    * [[graft.streaming.StreamOps.streamingResample]] (the A1
    * round-to-nearest 5m resample as a watermarked windowed streaming
    * aggregation), run to completion with an availableNow trigger into
    * a complete-mode memory sink, and returned as the sink table.
    * Until now streaming parity was scalatest-only; this puts the
    * actual streaming execution path — file stream source, event-time
    * window state, sink commit — under the driver's DuckDB hash gate.
    *
    * The float mean column is dropped: a streaming avg's accumulation
    * order is not reproducible across engines, and mean determinism is
    * already oracled batch-side (q02); bucket labels and counts are
    * exact integers. The oracle is the same centered-bucket SQL the
    * batch resample uses — stream-over-the-whole-file must equal
    * batch-over-the-whole-file. */
  private val streamDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Result-sink key for [[graft.streaming.StreamOps
    * .runToParquetTable]]: parent session + data dir + query tag —
    * stable across bench/verify reruns (which is what bounds sink
    * disk to one result copy per query), distinct across sessions
    * and scale dirs. */
  private[api] def streamSinkKey(s: SparkSession, dir: String,
      tag: String): String =
    s"${graft.operators.SkewOps.sessionKey(s)}|$dir|$tag"

  /** The file-stream source requires a DIRECTORY (a bare file path
    * fails with "'basePath' must be a directory", and the basePath
    * option does not override that for streams). A directory-shaped
    * events.parquet (a Spark-written dataset) streams as-is; a single
    * FILE (the driver's current layout) is staged into a temp dir
    * once per session×dir — `Files.copy` on a directory would copy
    * only the empty directory entry and the stream would silently
    * read zero rows. */
  private def stagedStreamDir(s: SparkSession, dir: String): String = {
    val src = java.nio.file.Paths.get(dir, "events.parquet")
    if (java.nio.file.Files.isDirectory(src)) src.toString
    // keyed by the stable session UUID (identity hashes can be reused
    // after GC — see SkewOps.sessionKey); the compute is pure file IO,
    // so holding the bin lock across it is fine (no Spark job)
    else streamDirs.computeIfAbsent(
        s"${graft.operators.SkewOps.sessionKey(s)}|$dir", _ => {
      val d = java.nio.file.Files.createTempDirectory("graft-stream")
      java.nio.file.Files.copy(src, d.resolve("events.parquet"))
      d.toString
    })
  }

  /** Derived state-store partition count for q32–q34, from DATA rather
    * than a pinned constant: the staged stream's row count (parquet
    * metadata — a footer-only job, memoized per session×dir) is a
    * sound upper bound on live state entries for every stateful shape
    * here (windowed agg keys ≤ input rows; session windows ≤ input
    * rows; join state buffers ≤ input rows within the watermark), and
    * [[graft.streaming.StreamOps.statePartitionsFor]] turns it into a
    * partition count via the volume ÷ (target × `stores`) rule —
    * `stores` is the operator's state-store count per partition (1
    * for the q32/q33 aggregations, 4 for the q34 join), the round-13
    * sweep's measured divergence between the two families; see the
    * rule's scaladoc for the curve. At sf0.1 (~10⁵ events) that's 2
    * partitions for the aggregations and one fat store for the join;
    * at sf1, 16 and 4 — proportionally more with SF instead of
    * silently bottlenecking on a pinned count. */
  private val streamRowCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def derivedStatePartitions(s: SparkSession, dir: String,
      stores: Int): Int = {
    val rows = graft.operators.SkewOps.sessionMemo(streamRowCounts, s, dir)(
      java.lang.Long.valueOf(s.read.parquet(stagedStreamDir(s, dir)).count()))
    graft.streaming.StreamOps.statePartitionsFor(rows.longValue(),
      graft.streaming.StreamOps.StateSizing(numStores = stores))
  }

  /** Shared by q32–q34: the events stream's derived event-time column
    * — the SAME dispatch the batch adapter uses, so the two paths
    * cannot drift. */
  private def eventTimeUs(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Column =
    EventsArchiveAdapter.tsMicrosExpr(schema("ts").dataType)

  private def q32(s: SparkSession, dir: String): DataFrame = {
    graft.functions.MicrosOf.register(s)
    val ad = new EventsArchiveAdapter(s, dir)
    val schema = ad.raw.schema // legacy data: raw sets nanosAsLong on demand
    val tUs = eventTimeUs(schema)
    // STABLE sink key (parent session + data dir + query tag, the
    // stagedStreamDir convention): reruns overwrite the one fixed
    // result dir — bench passes cost zero extra disk (the old
    // per-invocation memory-sink names existed to dodge temp-view
    // collisions, which keyed file dirs don't have)
    val name = streamSinkKey(s, dir, "q32")
    // state partitions derived from input volume (1-store windowed
    // aggregation) — see derivedStatePartitions. The WHOLE pipeline
    // (UDF registration, file stream, sink read) is built on the clone
    // the helper hands us: registrations do not carry across sessions.
    graft.streaming.StreamOps.withStatePartitions(
        s, derivedStatePartitions(s, dir, stores = 1)) { sess =>
      graft.functions.MicrosOf.register(sess)
      val stream = sess.readStream.schema(schema)
        .parquet(stagedStreamDir(s, dir))
        .select(
          concat(lit("u"), col("user_id"), lit("/"), col("event_type"))
            .as("att_name"),
          timestamp_micros(tUs).as("data_time"),
          col("value").as("value_r"))
      val resampled =
        graft.streaming.StreamOps.streamingResample(stream, "5m", "1 minute")
      // executor-written parquet result table, NOT a memory sink —
      // the driver must never hold the O(result) rows (see
      // runToParquetTable's scaladoc for the measured sf1→sf10
      // task-size growth and the sf10 OOM the memory sink caused)
      graft.streaming.StreamOps.runToParquetTable(
          resampled, "complete", sess, name)
        .select(col("att_name"), col("bucket_us"), col("n"))
        .orderBy(col("att_name"), col("bucket_us"))
    }
  }

  private val q32Sql =
    s"""${PtsSql}SELECT att_name,
       |  ${TimeFns.roundBucketSql("t", 300000000L)} AS bucket_us,
       |  count(*) AS n
       |FROM pts GROUP BY att_name, bucket_us
       |ORDER BY att_name, bucket_us""".stripMargin

  /** q33 — native `session_window` sessionization as a STREAMING
    * oracled query: the q26 gap semantics (30-min gap, break on
    * strictly-greater — Spark's session merge is INCLUSIVE of an
    * event landing exactly at lastEvent+gap, verified empirically)
    * run through the real streaming machinery: file stream, merging
    * session state, complete-mode memory sink. Sessions are keyed by
    * start time instead of a per-key ordinal (a stream cannot total-
    * order an unbounded past — the [[graft.streaming.StreamOps
    * .streamingSessions]] contract), and `t_end` is the session
    * window's EXCLUSIVE end = last event + gap; the oracle mirrors
    * both. Together with q32 this pins the two stateful streaming
    * aggregation families (tumbling window, merging session window)
    * against DuckDB. */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    graft.functions.MicrosOf.register(s)
    val ad = new EventsArchiveAdapter(s, dir)
    val schema = ad.raw.schema // legacy data: raw sets nanosAsLong on demand
    val name = streamSinkKey(s, dir, "q33")
    // state partitions derived from input volume (1-store session
    // aggregation) — see derivedStatePartitions; pipeline built on the
    // clone (see q32)
    graft.streaming.StreamOps.withStatePartitions(
        s, derivedStatePartitions(s, dir, stores = 1)) { sess =>
      graft.functions.MicrosOf.register(sess)
      val stream = sess.readStream.schema(schema)
        .parquet(stagedStreamDir(s, dir))
        .select(col("user_id"),
          timestamp_micros(eventTimeUs(schema)).as("data_time"))
      val sessions = graft.streaming.StreamOps.streamingSessions(
        stream, "user_id", "data_time", "30 minutes", "1 minute")
      // executor-written parquet result, not a memory sink (see q32)
      graft.streaming.StreamOps.runToParquetTable(
          sessions, "complete", sess, name)
        .orderBy(col("user_id"), col("t_start"))
    }
  }

  private val q33Sql =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS t FROM events),
       |s AS (
       |  SELECT user_id, t,
       |    CASE WHEN lag(t) OVER win IS NULL
       |           OR t - lag(t) OVER win > 1800000000
       |         THEN 1 ELSE 0 END AS starts
       |  FROM ev WINDOW win AS (PARTITION BY user_id ORDER BY t)),
       |g AS (
       |  SELECT user_id, t,
       |    CAST(sum(starts) OVER (PARTITION BY user_id ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS seq
       |  FROM s)
       |SELECT user_id, min(t) AS t_start, max(t) + 1800000000 AS t_end,
       |  count(*) AS n_events
       |FROM g GROUP BY user_id, seq
       |ORDER BY user_id, t_start""".stripMargin

  /** q34 — watermarked STREAM-STREAM range join under the oracle
    * gate ([[graft.streaming.StreamOps.streamingRangeJoin]]): every
    * error event opens a 1-hour incident window; purchases of the
    * same user inside the window join to it — q25's batch semantics
    * (inclusive both ends) through the real stream-stream join path:
    * two file streams over the same source, watermark-bounded join
    * state, append-mode emission. Raw match rows are returned (a
    * second stateful aggregate after a stream-stream join would
    * chain stateful operators; the batch q25 already pins the
    * rollup). With q32/q33 the three stateful streaming families —
    * tumbling window, merging session window, stream-stream join —
    * are all DuckDB-pinned. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    graft.functions.MicrosOf.register(s)
    val ad = new EventsArchiveAdapter(s, dir)
    val schema = ad.raw.schema // legacy data: raw sets nanosAsLong on demand
    // ONE file-stream source split into both join legs via `where` (a
    // streaming self-join): with `def src` each leg was its own source
    // — two file-stream states, each listing and reading every file
    // per batch. Same rows, same hash; roughly half the fixed source
    // machinery cost (this was the suite's slowest query at r9).
    val name = streamSinkKey(s, dir, "q34")
    // state partitions derived from input volume with stores=4 (the
    // join keeps 4 state stores per partition, so over-partitioning
    // tiny state costs pure per-batch commit I/O: 32 → 7.3 s, 8 →
    // 2.6 s at sf0.1; 32 → 8.7 s vs 4 → 3.0 s at sf1) — see
    // derivedStatePartitions; pipeline on the clone (q32)
    graft.streaming.StreamOps.withStatePartitions(
        s, derivedStatePartitions(s, dir, stores = 4)) { sess =>
      graft.functions.MicrosOf.register(sess)
      val src =
        sess.readStream.schema(schema).parquet(stagedStreamDir(s, dir))
      val purchases = src.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          timestamp_micros(eventTimeUs(schema)).as("pt"),
          col("value").as("value_r"))
      val errors = src.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          timestamp_micros(eventTimeUs(schema)).as("ot"))
      val joined = graft.streaming.StreamOps.streamingRangeJoin(
        purchases, errors, "user_id", "pt", "ot", "1 hour", "1 minute")
      // executor-written parquet result, not a memory sink (see q32);
      // append mode — the join emits deltas, the helper clears the
      // fixed dir up front and appends each batch
      graft.streaming.StreamOps.runToParquetTable(
          joined.select(col("user_id"), col("err_id"), col("pid"),
            unix_micros(col("pt")).as("t"), col("value_r")),
          "append", sess, name)
        .orderBy(col("user_id"), col("err_id"), col("pid"))
    }
  }

  private val q34Sql =
    s"""WITH purchases AS (
       |  SELECT user_id, event_id AS pid, epoch_us(ts) AS t,
       |         value AS value_r
       |  FROM events WHERE event_type = 'purchase'),
       |errs AS (
       |  SELECT user_id, event_id AS err_id, epoch_us(ts) AS lo
       |  FROM events WHERE event_type = 'error')
       |SELECT p.user_id, e.err_id, p.pid, p.t, p.value_r
       |FROM purchases p JOIN errs e ON p.user_id = e.user_id
       |  AND p.t >= e.lo AND p.t <= e.lo + 3600000000
       |ORDER BY p.user_id, e.err_id, p.pid""".stripMargin

  // ---------------------------------------------------------------- q36 /image capstone
  /** Shared `/image` phase 1 (q36 raster / q43 hover): the PERSISTED
    * visible window with its y_axis assignment — read twice (extrema,
    * then the one fused operator over every axis), so the one scan is
    * cached and released after the result's first consumption (the
    * same window-caching the reference's period cache provides its
    * /image handler) — plus the per-axis PADDED y-scales: extrema →
    * axis limits → [[Extrema.padRange]], O(#axes) driver rows like
    * the reference's collected limits — and the column indexing a
    * row's axis into them (null for an axis with no limits, whose rows
    * the fused operator skips, as `plot.py:156` does). */
  private def imageWindow(s: SparkSession, dir: String)
      : (DataFrame, Seq[graft.plans.YScale], Column) = {
    val vis = pts(s, dir)
      .where(EventsArchiveAdapter.tsRangeUs(Epoch2024, TEnd))
      .withColumn("y_axis", (col("user_id") % 3).cast("long"))
      .persist()
    val limits = Extrema.axisLimits(
      Extrema.perAttribute(vis, Seq("att_name", "y_axis")), "y_axis")
      .select(col("y_axis"), col("axis_min"), col("axis_max"))
      .collect()
    val ranges = limits.toSeq
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2)) // plot.py:156 continue
      .sortBy(_.getLong(0))
    val scales = ranges.map { r =>
      val (lo, hi) =
        Extrema.padRange(r.getDouble(1), r.getDouble(2), logScale = false)
      graft.plans.YScale(lo, hi)
    }
    val scaleOf = element_at(
      typedLit(ranges.map(_.getLong(0)).zipWithIndex.toMap), col("y_axis"))
    (vis, scales, scaleOf)
  }

  /** q36 — the `/image` endpoint's TWO-PHASE pipeline as ONE oracled
    * query (reference `server.py:92-148` + `plot.py:74-220`): phase 1
    * computes per-attribute extrema rolled into per-axis limits (A2 →
    * A3, exactly q04/q06's shapes); the C7 padding
    * ([[Extrema.padRange]], `plot.py:160-188`) turns each axis's
    * limits into its y-range; phase 2 rasterizes every axis's points
    * in ONE fused bin operator, each axis with its COMPUTED padded
    * range as the pixel transform (a per-key y-scale table) — the
    * dependency the individual q04/q06/q07 greens never exercised
    * (their ranges were constants). Limits are
    * O(#axes) driver state — the reference collects the same rows
    * before building its datashader canvases, and at 100 TB the
    * collect is 3 rows. Cross-engine float safety: the padded bounds
    * and the pixel projection are single-IEEE-op chains over exact
    * 2-decimal extrema (q07's argument), so the bin boundaries are
    * bit-identical in both engines; `vmean` keeps q07's round(6). */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val (vis, scales, scaleOf) = imageWindow(s, dir)
    // one fused operator bins every axis with its own padded range; an
    // empty window (no non-null axis limits) has no scales, so every
    // row is skipped and the query yields the oracle's graceful 0 rows
    val out = graft.plans.RasterFusion.binPoints(vis, Seq("y_axis"),
        Epoch2024, TEnd, scales, scaleOf, W, H)
      .withColumn("vmean", round(col("vmean"), 6))
      .orderBy(col("y_axis"), col("px"), col("py"))
    graft.operators.CacheLifecycle.unpersistAfterFirstUse(out, vis)
    out
  }

  /** Shared q36/q43 oracle CTEs: window, NaN-cleaned axis limits, the
    * padded/invented range (mirroring [[Extrema.padRange]] op for op),
    * and the pixel binning parameterized BY the computed range. */
  private val imageCtesSql =
    s"""${PtsSql}, vis AS (
       |  SELECT user_id % 3 AS y_axis, t, value_r FROM pts
       |  WHERE t BETWEEN $Epoch2024 AND $TEnd),
       |lim AS (
       |  SELECT y_axis,
       |    min(CASE WHEN isnan(value_r) THEN NULL ELSE value_r END) AS amin,
       |    max(CASE WHEN isnan(value_r) THEN NULL ELSE value_r END) AS amax
       |  FROM vis GROUP BY y_axis),
       |rng AS (
       |  SELECT y_axis,
       |    CASE WHEN amin = amax THEN
       |           CASE WHEN amin > 0 THEN amin / 2.0
       |                WHEN amin = 0 THEN -0.5
       |                ELSE 1.5 * amin END
       |         ELSE amin - 0.05 * (amax - amin) END AS lo,
       |    CASE WHEN amin = amax THEN
       |           CASE WHEN amin > 0 THEN 1.5 * amin
       |                WHEN amin = 0 THEN 0.5
       |                ELSE amin / 2.0 END
       |         ELSE amax + 0.05 * (amax - amin) END AS hi
       |  FROM lim WHERE amin IS NOT NULL AND amax IS NOT NULL),
       |binned AS (
       |  SELECT v.y_axis,
       |    least(((v.t - $Epoch2024) * $W) // ${TEnd - Epoch2024}, ${W - 1})
       |      AS px,
       |    least(CAST(floor((v.value_r - r.lo) / (r.hi - r.lo) * $H)
       |                 AS BIGINT), ${H - 1}) AS py,
       |    v.value_r
       |  FROM vis v JOIN rng r ON v.y_axis = r.y_axis
       |  WHERE NOT isnan(v.value_r)
       |    AND v.value_r BETWEEN r.lo AND r.hi)""".stripMargin

  private val q36Sql =
    s"""$imageCtesSql
       |SELECT y_axis, px, py, count(*) AS cnt,
       |  round(CAST(sum(CAST(round(value_r * 1e6) AS BIGINT)) AS DOUBLE)
       |    / (count(*) * 1e6), 6) AS vmean,
       |  min(value_r) AS vmin, max(value_r) AS vmax
       |FROM binned GROUP BY y_axis, px, py
       |ORDER BY y_axis, px, py""".stripMargin

  /** q43 — the `/image` HOVER leg with COMPUTED ranges: phase 1's
    * padded per-axis limits parameterize the fused hover reduction
    * ([[graft.plans.RasterFusion.hoverColumns]]) the way
    * [[graft.api.ArchiveApi.imageQuery]] wires them — q08/q30 pinned
    * hover with CONSTANT ranges; this closes the same two-phase
    * dependency q36 closed for the raster grid. */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val (vis, scales, scaleOf) = imageWindow(s, dir)
    val out = graft.plans.RasterFusion.hoverColumns(vis, Seq("y_axis"),
        Epoch2024, TEnd, scales, scaleOf, W, H)
      .orderBy(col("y_axis"), col("px"))
    graft.operators.CacheLifecycle.unpersistAfterFirstUse(out, vis)
    out
  }

  private val q43Sql =
    s"""$imageCtesSql,
       |grid AS (
       |  SELECT y_axis, px, py, count(*) AS cnt, min(value_r) AS vmin,
       |         max(value_r) AS vmax
       |  FROM binned GROUP BY y_axis, px, py)
       |SELECT y_axis, px, min(vmin) AS col_min, max(vmax) AS col_max,
       |  CAST(sum(cnt) AS BIGINT) AS col_count
       |FROM grid GROUP BY y_axis, px
       |ORDER BY y_axis, px""".stripMargin

  // ---------------------------------------------------------------- q37 C3 naive-UTC parse
  /** q37 — C3 under the oracle gate: [[TimeFns.parseNaiveUtcCol]]
    * (reference `utils.py:14-19`) over a string column cycling SEVEN
    * request-time shapes — 'T'-separated ISO, space-separated,
    * date-only, explicit `+02:00` offset (formatted from the
    * instant's +02:00 wall clock, so the parsed UTC instant must
    * round back to the second-truncated `t`), and a MILLISECOND
    * fractional form whose 3-digit fraction exercises the
    * pad-to-6-digits path in both engines. The strings are formatted
    * from the events themselves, so both engines parse IDENTICAL
    * text and the hash pins parse → epoch-µs end-to-end.
    * Two more forms complete the ISO coverage: a 'Z'-suffixed UTC
    * spelling (the most common wire form) and the offset+fraction
    * combination (whose 12h-wrong parse a substr-positioned oracle
    * once produced — positions shift when a fraction precedes the
    * offset). */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    // naive-UTC NTZ via the ntz_of_micros REINTERPRET: date_format
    // over LTZ renders the SESSION zone, and even
    // convert_timezone('UTC', …) casts LTZ→NTZ in the session zone
    // first, mis-resolving DST-ambiguous fall-back wall times — the
    // oracle's strftime(make_timestamp(t)) is zone-free, so must we be
    val ts = TimeFns.ntzOfMicros(col("t"))
    val tsPlus2h = TimeFns.ntzOfMicros(col("t") + lit(7200000000L))
    val msFrac = lpad(expr("pmod(t, 1000000) div 1000").cast("string"),
      3, "0")
    val form = pmod(col("point_id"), lit(7))
    val iso = when(form === 0, date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"))
      .when(form === 1, date_format(ts, "yyyy-MM-dd HH:mm:ss"))
      .when(form === 2, date_format(ts, "yyyy-MM-dd"))
      .when(form === 3, concat(
        date_format(tsPlus2h, "yyyy-MM-dd'T'HH:mm:ss"), lit("+02:00")))
      .when(form === 4, concat(
        date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"), lit("."), msFrac))
      .when(form === 5, concat(
        date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"), lit("Z")))
      .otherwise(concat(
        date_format(tsPlus2h, "yyyy-MM-dd'T'HH:mm:ss"),
        lit("."), msFrac, lit("+02:00")))
    pts(s, dir).select(col("point_id"), iso.as("iso"))
      .withColumn("t_parsed", TimeFns.parseNaiveUtcCol(col("iso")))
      .orderBy(col("point_id"))
  }

  private val q37Sql =
    s"""${PtsSql}, strs AS (
       |  SELECT point_id,
       |    CASE point_id % 7
       |      WHEN 0 THEN strftime(make_timestamp(t), '%Y-%m-%dT%H:%M:%S')
       |      WHEN 1 THEN strftime(make_timestamp(t), '%Y-%m-%d %H:%M:%S')
       |      WHEN 2 THEN strftime(make_timestamp(t), '%Y-%m-%d')
       |      WHEN 3 THEN strftime(make_timestamp(t + 7200000000),
       |             '%Y-%m-%dT%H:%M:%S') || '+02:00'
       |      WHEN 4 THEN strftime(make_timestamp(t), '%Y-%m-%dT%H:%M:%S')
       |             || '.' || lpad(CAST((((t % 1000000) + 1000000)
       |                              % 1000000) // 1000 AS VARCHAR),
       |                            3, '0')
       |      WHEN 5 THEN strftime(make_timestamp(t), '%Y-%m-%dT%H:%M:%S')
       |             || 'Z'
       |      ELSE strftime(make_timestamp(t + 7200000000),
       |             '%Y-%m-%dT%H:%M:%S')
       |             -- positive-mod like q39Sql: DuckDB % keeps the
       |             -- dividend's sign, the engine's msFrac uses pmod
       |             || '.' || lpad(CAST((((t % 1000000) + 1000000)
       |                              % 1000000) // 1000 AS VARCHAR),
       |                            3, '0') || '+02:00'
       |    END AS iso
       |  FROM pts),
       |-- the offset/Z suffix is stripped BEFORE fraction handling —
       |-- an earlier fixed-substr form read the fraction's digits as
       |-- the offset hours whenever a fraction preceded the offset
       |base AS (
       |  SELECT point_id, iso, s,
       |    CASE
       |      WHEN s LIKE '%Z' THEN substr(s, 1, length(s) - 1)
       |      WHEN regexp_matches(s, '[+-][0-9]{2}:[0-9]{2}$$')
       |        THEN substr(s, 1, length(s) - 6)
       |      ELSE s END AS body,
       |    CASE
       |      WHEN regexp_matches(s, '[+-][0-9]{2}:[0-9]{2}$$') THEN
       |        (CASE WHEN substr(s, length(s) - 5, 1) = '+'
       |              THEN 1 ELSE -1 END)
       |          * (CAST(substr(s, length(s) - 4, 2) AS BIGINT) * 3600
       |             + CAST(substr(s, length(s) - 1, 2) AS BIGINT) * 60)
       |          * 1000000
       |      ELSE 0 END AS off_us
       |  FROM (SELECT point_id, iso, replace(iso, ' ', 'T') AS s
       |        FROM strs))
       |SELECT point_id, iso,
       |  CASE
       |    WHEN length(body) = 10 THEN epoch_us(strptime(body, '%Y-%m-%d'))
       |    WHEN body LIKE '%.%' THEN
       |      epoch_us(strptime(
       |        regexp_replace(body, '\\.[0-9]+$$', '')
       |          || '.' || rpad(regexp_extract(body, '\\.([0-9]+)', 1),
       |                         6, '0'),
       |        '%Y-%m-%dT%H:%M:%S.%f'))
       |    ELSE epoch_us(strptime(body, '%Y-%m-%dT%H:%M:%S'))
       |  END - off_us AS t_parsed
       |FROM base ORDER BY point_id""".stripMargin

  // ---------------------------------------------------------------- q38 C4 period arithmetic
  /** q38 — C4 under the oracle gate: the day-period enumeration the
    * per-day fan-out scans are built from (reference `hdbpp.py:303-309`
    * — inclusive date range → "YYYY-MM-DD" strings; our periods are
    * UTC where the reference uses the server's local zone, the
    * documented divergence at [[graft.sources.ArchiveWriter]]). Spark:
    * `sequence(to_date(min), to_date(max), interval 1 day)` + explode —
    * the generator stays distributed per group. */
  private def q38(s: SparkSession, dir: String): DataFrame =
    pts(s, dir)
      .groupBy(col("event_type"))
      .agg(min(col("t")).as("t0"), max(col("t")).as("t1"))
      .select(col("event_type"),
        // tz-free UTC day bounds (to_date over an LTZ timestamp
        // renders the SESSION zone; utcDay is epoch arithmetic, the
        // oracle's CAST(make_timestamp AS DATE) semantics)
        explode(sequence(
          graft.functions.TimeFns.utcDayDate(col("t0")),
          graft.functions.TimeFns.utcDayDate(col("t1")),
          expr("interval 1 day"))).as("day"))
      .select(col("event_type"),
        col("day").cast("string").as("period"))
      .orderBy(col("event_type"), col("period"))

  private val q38Sql =
    s"""${PtsSql}, b AS (
       |  SELECT event_type,
       |    CAST(make_timestamp(min(t)) AS DATE) AS d0,
       |    CAST(make_timestamp(max(t)) AS DATE) AS d1
       |  FROM pts GROUP BY event_type)
       |SELECT event_type,
       |  strftime(unnest(generate_series(d0, d1, INTERVAL 1 DAY)),
       |    '%Y-%m-%d') AS period
       |FROM b ORDER BY event_type, period""".stripMargin

  // ---------------------------------------------------------------- q39 C5 s+µs combine
  /** q39 — C5 under the oracle gate: the reference's split-timestamp
    * representation (second-precision `data_time` + µs remainder,
    * `hdbpp.py:84-87`) synthesized FROM the events and recombined with
    * [[TimeFns.epochUsSplit]]; `t_ms` replays the reference's exact
    * float form (`d.timestamp()*1000 + us/1000.` — one multiply, one
    * divide, one add, bit-identical IEEE in both engines). */
  private def q39(s: SparkSession, dir: String): DataFrame =
    pts(s, dir)
      .withColumn("data_time",
        date_trunc("second", timestamp_micros(col("t"))))
      .withColumn("data_time_us", pmod(col("t"), lit(1000000L)))
      .select(col("point_id"),
        expr("unix_micros(data_time) div 1000000").as("t_sec"),
        col("data_time_us"),
        TimeFns.epochUsSplit(col("data_time"), col("data_time_us"))
          .as("t_us"),
        (expr("unix_micros(data_time) div 1000000").cast("double")
          * lit(1000.0)
          + col("data_time_us").cast("double") / lit(1000.0)).as("t_ms"))
      .orderBy(col("point_id"))

  private val q39Sql =
    // positive-mod / floor-div forms, NOT bare % and //: DuckDB's %
    // takes the dividend's sign and // truncates toward zero, while
    // the Spark side uses pmod and date_trunc's floor — bare forms
    // would shift every pre-1970 timestamp by one second/bucket
    s"""${PtsSql}SELECT point_id,
       |  (t - (((t % 1000000) + 1000000) % 1000000)) // 1000000 AS t_sec,
       |  ((t % 1000000) + 1000000) % 1000000 AS data_time_us,
       |  epoch_us(date_trunc('second', make_timestamp(t)))
       |    + (((t % 1000000) + 1000000) % 1000000) AS t_us,
       |  CAST((t - (((t % 1000000) + 1000000) % 1000000)) // 1000000
       |    AS DOUBLE) * 1000.0
       |    + CAST(((t % 1000000) + 1000000) % 1000000 AS DOUBLE) / 1000.0
       |    AS t_ms
       |FROM pts ORDER BY point_id""".stripMargin

  // ---------------------------------------------------------------- q40 C7 axis padding
  /** q40 — C7 under the oracle gate: [[Extrema.padLoCol]]/[[Extrema
    * .padHiCol]] (reference `plot.py:160-188`) over per-(user, type,
    * day) extrema of the q05-shifted values — groups fine enough that
    * singleton groups exercise the CONSTANT-VALUE range invention
    * (including negative constants via the −100 shift), while the
    * normal branch pins the 5% padding. The log-branch columns are
    * round(6)-guarded (`log10`/`pow` are libm-ulp-dependent) and
    * null where the reference's control flow never reaches the log
    * path (constant value, or non-positive min). */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val clean = when(isnan(col("value_r")), lit(null))
      .otherwise(col("value_r"))
    pts(s, dir)
      .withColumn("value_r", col("value_r") - 100)
      .groupBy(col("user_id"), col("event_type"),
        // tz-free UTC day — to_date(timestamp_micros(t)) renders the
        // SESSION zone, the oracle's CAST(make_timestamp AS DATE) is
        // zone-free UTC
        graft.functions.TimeFns.utcDay(col("t")).as("period"))
      .agg(min(clean).as("vmin"), max(clean).as("vmax"))
      .where(col("vmin").isNotNull) // plot.py:156 — no data, no range
      .select(col("user_id"), col("event_type"), col("period"),
        col("vmin"), col("vmax"),
        Extrema.padLoCol(col("vmin"), col("vmax")).as("pad_lo"),
        Extrema.padHiCol(col("vmin"), col("vmax")).as("pad_hi"),
        when(col("vmin") > 0 && col("vmin") =!= col("vmax"),
          round(Extrema.padLoLogCol(col("vmin"), col("vmax")), 6))
          .as("log_lo"),
        when(col("vmin") > 0 && col("vmin") =!= col("vmax"),
          round(Extrema.padHiLogCol(col("vmin"), col("vmax")), 6))
          .as("log_hi"))
      .orderBy(col("user_id"), col("event_type"), col("period"))
  }

  private val q40Sql =
    s"""${PtsSql}, ex AS (
       |  SELECT user_id, event_type,
       |    strftime(CAST(make_timestamp(t) AS DATE), '%Y-%m-%d') AS period,
       |    min(CASE WHEN isnan(value_r - 100) THEN NULL
       |             ELSE value_r - 100 END) AS vmin,
       |    max(CASE WHEN isnan(value_r - 100) THEN NULL
       |             ELSE value_r - 100 END) AS vmax
       |  FROM pts GROUP BY user_id, event_type, period)
       |SELECT user_id, event_type, period, vmin, vmax,
       |  CASE WHEN vmin = vmax THEN
       |         CASE WHEN vmin > 0 THEN vmin / 2.0
       |              WHEN vmin = 0 THEN -0.5
       |              ELSE 1.5 * vmin END
       |       ELSE vmin - 0.05 * (vmax - vmin) END AS pad_lo,
       |  CASE WHEN vmin = vmax THEN
       |         CASE WHEN vmin > 0 THEN 1.5 * vmin
       |              WHEN vmin = 0 THEN 0.5
       |              ELSE vmin / 2.0 END
       |       ELSE vmax + 0.05 * (vmax - vmin) END AS pad_hi,
       |  CASE WHEN vmin > 0 AND vmin <> vmax THEN
       |    round(pow(10.0, log10(vmin)
       |      - 0.05 * (log10(vmax) - log10(vmin))), 6) END AS log_lo,
       |  CASE WHEN vmin > 0 AND vmin <> vmax THEN
       |    round(pow(10.0, log10(vmax)
       |      + 0.05 * (log10(vmax) - log10(vmin))), 6) END AS log_hi
       |FROM ex WHERE vmin IS NOT NULL
       |ORDER BY user_id, event_type, period""".stripMargin

  // ---------------------------------------------------------------- q41 F4/U3 cache cycle
  /** q41 — the open-day truncate-then-append cycle under the oracle
    * gate (reference `hdbpp.py:362-397`, the cache's subtlest trick):
    * a stale "cached" frame (everything up to a mid-second cut) runs
    * through [[graft.cache.ArchiveCache.refreshOpenDay]] — truncate
    * the cache at the last FULL second before its max `t`, fetch only
    * `t >= bound` fresh rows to the new horizon, union. The oracle is
    * the single-scan equivalent: the cycle must be row-for-row
    * indistinguishable from one direct scan (same contract as q15's
    * union-of-partitions), which fails on any duplicated or dropped
    * boundary row — the exact bug class the reference's
    * second-truncation exists to prevent (sub-second µs parts arriving
    * after the cached read). The cut sits mid-second so the truncation
    * genuinely re-fetches a nonempty overlap. */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val p = pts(s, dir)
    val tCut = Jan10 + 12L * 3600000000L + 123456L
    val (merged, _) = graft.cache.ArchiveCache.refreshOpenDay(
      p.where(col("t") <= tCut),
      since => p.where(col("t") >= since && col("t") <= T1))
    merged.select(col("att_name"), col("point_id"), col("t"),
        col("value_r"))
      .orderBy(col("point_id"))
  }

  private val q41Sql =
    s"""${PtsSql}SELECT att_name, point_id, t, value_r FROM pts
       |WHERE t <= $T1 ORDER BY point_id""".stripMargin

  // ---------------------------------------------------------------- q42 C1 path codec
  /** q42 — C1 under the oracle gate: the 5-part attribute path codec
    * (reference `hdbpp.py:90-92` `rsplit("/", 4)`, client regex
    * `js/utils.js:40-44`) as a COLUMN split over synthesized full
    * paths whose cs deliberately contains slashes
    * (`tango://csN:10000`) — the form a first-'/' split mis-parses.
    * Split and oracle share [[graft.model.AttributePath.Rsplit4Re]]
    * (greedy head = rsplit); `refmt` pins the format round-trip
    * (C1's other direction) in the same hash. */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val re = graft.model.AttributePath.Rsplit4Re
    val full = concat(lit("tango://cs"), pmod(col("user_id"), lit(4)),
      lit(":10000/sys/u"), col("user_id"), lit("/"), col("event_type"),
      lit("/value"))
    pts(s, dir).select(full.as("path")).distinct()
      .select(col("path"),
        regexp_extract(col("path"), re, 1).as("cs_name"),
        regexp_extract(col("path"), re, 2).as("domain"),
        regexp_extract(col("path"), re, 3).as("family"),
        regexp_extract(col("path"), re, 4).as("member"),
        regexp_extract(col("path"), re, 5).as("name"))
      .withColumn("refmt", concat_ws("/", col("cs_name"), col("domain"),
        col("family"), col("member"), col("name")))
      .orderBy(col("path"))
  }

  private val q42Sql = {
    val re = graft.model.AttributePath.Rsplit4Re
    s"""${PtsSql}, an AS (
       |  SELECT DISTINCT 'tango://cs' || (user_id % 4) || ':10000/sys/u'
       |    || user_id || '/' || event_type || '/value' AS path
       |  FROM pts),
       |parts AS (
       |  SELECT path,
       |    regexp_extract(path, '$re', 1) AS cs_name,
       |    regexp_extract(path, '$re', 2) AS domain,
       |    regexp_extract(path, '$re', 3) AS family,
       |    regexp_extract(path, '$re', 4) AS member,
       |    regexp_extract(path, '$re', 5) AS name
       |  FROM an)
       |SELECT path, cs_name, domain, family, member, name,
       |  cs_name || '/' || domain || '/' || family || '/' || member
       |    || '/' || name AS refmt
       |FROM parts ORDER BY path""".stripMargin
  }

  // ---------------------------------------------------------------- q44 R2/S3 period cache
  /** q44 — R2's closed-period cache under the oracle gate: a
    * [[graft.cache.ArchiveCache.PeriodCache]] whose fetch is the
    * per-day scan and whose "today" sits MID-RANGE (2024-01-15), so
    * `range(Jan 5, Jan 20)` serves days 05–14 from persisted closed
    * frames and 15–20 as fresh fetches — the reference's per-day
    * fan-out ∪ through its cache split (`hdbpp.py:329-360`). The
    * oracle is the single-scan equivalent: cache policy must be
    * invisible in the answer (q15's contract, now THROUGH the cache
    * object rather than a hand-built 2-way union). CacheSpec pins the
    * persist/fetch-count policy itself; this pins the data. */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val p = pts(s, dir)
    def dayUs(d: String): Long =
      java.time.LocalDate.parse(d).toEpochDay * 86400000000L
    val cache = new graft.cache.ArchiveCache.PeriodCache(
      period => p.where(col("t") >= dayUs(period)
        && col("t") < dayUs(period) + 86400000000L),
      () => "2024-01-15")
    val out = cache.range("2024-01-05", "2024-01-20")
      .select(col("att_name"), col("point_id"), col("t"), col("value_r"))
      .orderBy(col("point_id"))
    // the throwaway cache object pins one persisted frame per closed
    // day — release them all once the merged result has been consumed
    graft.operators.CacheLifecycle.releaseAfterFirstUse(out)(
      () => cache.invalidate())
    out
  }

  private val q44Sql =
    s"""${PtsSql}SELECT att_name, point_id, t, value_r FROM pts
       |WHERE t >= $T0 AND t < ${T1 + 86400000000L}
       |ORDER BY point_id""".stripMargin

  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q44_period_cache_range" -> (q44 _),
    "q42_path_codec" -> (q42 _),
    "q43_image_hover" -> (q43 _),
    "q36_image_pipeline" -> (q36 _),
    "q37_parse_naive_utc" -> (q37 _),
    "q38_period_days" -> (q38 _),
    "q39_split_us_combine" -> (q39 _),
    "q40_axis_padding" -> (q40 _),
    "q41_cache_refresh_cycle" -> (q41 _),
    "q34_stream_range_join" -> (q34 _),
    "q33_stream_sessionize" -> (q33 _),
    "q32_stream_resample" -> (q32 _),
    "q31_points_resolved" -> (q31 _),
    "q35_flat_archive_window" -> (q35 _),
    "q27_naive_time_range" -> (q27 _),
    "q28_raster_line_aa" -> (q28 _),
    "q29_raster_line_aa_log" -> (q29 _),
    "q30_hover_log" -> (q30 _),
    "q01_scan_project" -> (q01 _),
    "q02_resample_5m" -> (resampleQ("5m") _),
    "q03_resample_30s" -> (resampleQ("30s") _),
    "q04_extrema" -> (q04 _),
    "q05_extrema_log" -> (q05 _),
    "q06_axis_limits" -> (q06 _),
    "q07_raster_grid" -> (q07 _),
    "q08_hover_columns" -> (q08 _),
    "q09_point_in_time" -> (q09 _),
    "q10_history_limit" -> (q10 _),
    "q11_search_glob" -> (q11 _),
    "q12_search_substring" -> (q12 _),
    "q13_distinct_sorted" -> (q13 _),
    "q14_catalog_group" -> (q14 _),
    "q15_union_partitions" -> (q15 _),
    "q16_topk_value" -> (q16 _),
    "q17_grafana_datapoints" -> (q17 _),
    "q18_csv_projection" -> (q18 _),
    "q19_broadcast_join" -> (q19 _),
    "q20_pricing_summary" -> (q20 _),
    "q21_raster_line" -> (q21 _),
    "q22_revenue_by_nation" -> (q22 _),
    "q23_parts_by_brand" -> (q23 _),
    "q24_asof_join" -> (q24 _),
    "q25_range_join" -> (q25 _),
    "q26_sessionize" -> (q26 _))

  val oracleSql: Map[String, String] = Map(
    "q44_period_cache_range" -> q44Sql,
    "q42_path_codec" -> q42Sql,
    "q43_image_hover" -> q43Sql,
    "q36_image_pipeline" -> q36Sql,
    "q37_parse_naive_utc" -> q37Sql,
    "q38_period_days" -> q38Sql,
    "q39_split_us_combine" -> q39Sql,
    "q40_axis_padding" -> q40Sql,
    "q41_cache_refresh_cycle" -> q41Sql,
    "q34_stream_range_join" -> q34Sql,
    "q33_stream_sessionize" -> q33Sql,
    "q32_stream_resample" -> q32Sql,
    "q31_points_resolved" -> q31Sql,
    "q35_flat_archive_window" -> q35Sql,
    "q27_naive_time_range" -> q27Sql,
    "q28_raster_line_aa" -> q28Sql,
    "q29_raster_line_aa_log" -> q29Sql,
    "q30_hover_log" -> q30Sql,
    "q01_scan_project" -> q01Sql,
    "q02_resample_5m" -> resampleSql("5m"),
    "q03_resample_30s" -> resampleSql("30s"),
    "q04_extrema" -> q04Sql,
    "q05_extrema_log" -> q05Sql,
    "q06_axis_limits" -> q06Sql,
    "q07_raster_grid" -> q07Sql,
    "q08_hover_columns" -> q08Sql,
    "q09_point_in_time" -> q09Sql,
    "q10_history_limit" -> q10Sql,
    "q11_search_glob" -> q11Sql,
    "q12_search_substring" -> q12Sql,
    "q13_distinct_sorted" -> q13Sql,
    "q14_catalog_group" -> q14Sql,
    "q15_union_partitions" -> q15Sql,
    "q16_topk_value" -> q16Sql,
    "q17_grafana_datapoints" -> q17Sql,
    "q18_csv_projection" -> q18Sql,
    "q19_broadcast_join" -> q19Sql,
    "q20_pricing_summary" -> q20Sql,
    "q21_raster_line" -> q21Sql,
    "q22_revenue_by_nation" -> q22Sql,
    "q23_parts_by_brand" -> q23Sql,
    "q24_asof_join" -> q24Sql,
    "q25_range_join" -> q25Sql,
    "q26_sessionize" -> q26Sql)
}
