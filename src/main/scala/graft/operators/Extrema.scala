package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A2/A3/A7 — per-attribute extrema over the visible range, and
  * per-axis shared limits (reference `plot.py:74-130`).
  *
  * Two-phase structure mirrors the reference (`server.py:114-119`):
  * extrema must complete before rasterization because the y ranges feed
  * the pixel transform. Both phases are pure hash aggregates — the
  * second one runs over the tiny per-attribute result, so at scale the
  * cost is one pass over the points plus an O(#attributes) reduction.
  */
object Extrema {

  /** Per-series min/max/count of value_r. `logScale=true` applies the
    * positive-value filter first (F3, reference `plot.py:93-97`). NaNs
    * are excluded from extrema like numpy's nanmin/nanmax.
    *
    * NaN note: Spark (and DuckDB) order NaN above all reals, so
    * `value_r > 0` KEEPS NaN rows — they are then nulled out of the
    * extrema but still counted. pandas' `where(v > 0)` masks NaN too;
    * the reference's `points` count is `len(relevant)` before any
    * filtering (`plot.py:106-108`), so neither engine-side choice
    * matches it exactly — ours counts the log-filtered rows, documented
    * divergence. */
  def perAttribute(points: DataFrame, keys: Seq[String],
      logScale: Boolean = false): DataFrame =
    perAttribute(points, keys, lit(logScale))

  /** [[perAttribute]] with the log filter per ROW: `logRows` says which
    * rows belong to a log-scale series, and only those must be
    * positive — one pass over series of mixed scales. */
  def perAttribute(points: DataFrame, keys: Seq[String],
      logRows: Column): DataFrame = {
    val base = points.where(!logRows || col("value_r") > 0)
    val clean = when(isnan(col("value_r")), lit(null)).otherwise(col("value_r"))
    base.groupBy(keys.map(col): _*)
      .agg(
        min(clean).as("vmin"),
        max(clean).as("vmax"),
        count(lit(1)).as("points")) // A7: total visible point count
  }

  /** [[perAttribute]] over rows already on the driver, with its Spark
    * semantics: a row `(key, value_r, log)` is kept unless `log` and
    * its value is null or `<= 0` (Spark orders NaN above all reals, so
    * `NaN > 0` keeps the row); NaN and null are left out of min/max but
    * counted. Each key maps to (vmin, vmax, points), min and max as
    * `value_r`'s own type renders them, as a collected aggregate row
    * read through `toString` does. */
  private[graft] def perAttributeLocal[K](
      rows: Iterator[(K, Any, Boolean)]): Map[K, (Option[Double], Option[Double], Long)] = {
    def num(v: Any): Double = v.asInstanceOf[Number].doubleValue
    val acc = scala.collection.mutable.LinkedHashMap.empty[K, (Any, Any, Long)]
    rows.foreach { case (key, v, log) =>
      if (!log || (v != null && (num(v).isNaN || num(v) > 0))) {
        val (mn, mx, n) = acc.getOrElse(key, (null, null, 0L))
        val clean = v != null && !num(v).isNaN
        acc(key) = (
          if (clean && (mn == null || num(v) < num(mn))) v else mn,
          if (clean && (mx == null || num(v) > num(mx))) v else mx,
          n + 1)
      }
    }
    acc.iterator.map { case (key, (mn, mx, n)) =>
      key -> (Option(mn).map(_.toString.toDouble),
        Option(mx).map(_.toString.toDouble), n)
    }.toMap
  }

  /** Per-axis limits: min-of-mins / max-of-maxes across the attributes
    * sharing a y-axis (A3, reference `plot.py:112-130`). Input is the
    * output of [[perAttribute]] joined with an axis assignment. */
  def axisLimits(extrema: DataFrame, axisCol: String): DataFrame =
    extrema.groupBy(col(axisCol))
      .agg(
        min(col("vmin")).as("axis_min"),
        max(col("vmax")).as("axis_max"),
        sum(col("points")).as("axis_points"),
        count(lit(1)).as("n_series"))

  /** Axis range padding + degenerate-range invention, reference
    * `plot.py:160-188`: a constant-value axis gets an invented range —
    * (v/2, 1.5v) for v>0, (−0.5, 0.5) for v=0, (1.5v, v/2) for v<0 —
    * regardless of scale (the reference's constant branch runs before
    * the log/linear split); otherwise pad 5% each side, in log10 space
    * for log axes. Driver-side scalar math (runs on collected limits). */
  def padRange(vmin: Double, vmax: Double, logScale: Boolean): (Double, Double) =
    if (vmin == vmax) {
      val v = vmin
      if (v > 0) (v / 2, 1.5 * v)
      else if (v == 0) (-0.5, 0.5)
      else (1.5 * v, v / 2)
    } else if (logScale) {
      val (lo, hi) = (math.log10(vmin), math.log10(vmax))
      val pad = 0.05 * (hi - lo)
      (math.pow(10, lo - pad), math.pow(10, hi + pad))
    } else {
      val pad = 0.05 * (vmax - vmin)
      (vmin - pad, vmax + pad)
    }

  /** [[padRange]]'s linear/constant branches as COLUMNS (C7 under the
    * oracle gate): the same op order as the scalar form — `0.05·(max −
    * min)` then one subtract/add, `v/2` / `1.5·v` / `±0.5` for the
    * constant-value invention — so every branch is single-IEEE-op
    * deterministic and hash-exact against an oracle spelling the
    * identical arithmetic. The LOG branch (`10^(log10 ± pad)`) is in
    * [[padLoLogCol]]/[[padHiLogCol]]; callers must round those —
    * `log10`/`pow` are libm-dependent at the ulp level. */
  def padLoCol(vmin: Column, vmax: Column): Column =
    when(vmin === vmax,
      when(vmin > 0, vmin / lit(2.0))
        .when(vmin === 0, lit(-0.5))
        .otherwise(lit(1.5) * vmin))
      .otherwise(vmin - lit(0.05) * (vmax - vmin))

  def padHiCol(vmin: Column, vmax: Column): Column =
    when(vmin === vmax,
      when(vmin > 0, lit(1.5) * vmin)
        .when(vmin === 0, lit(0.5))
        .otherwise(vmin / lit(2.0)))
      .otherwise(vmax + lit(0.05) * (vmax - vmin))

  /** Log-scale padding columns — defined only for `0 < vmin < vmax`
    * (the reference's constant branch runs BEFORE the scale split, so
    * `vmin == vmax` never reaches here; callers null-guard). */
  def padLoLogCol(vmin: Column, vmax: Column): Column =
    pow(lit(10.0), log10(vmin) - lit(0.05) * (log10(vmax) - log10(vmin)))

  def padHiLogCol(vmin: Column, vmax: Column): Column =
    pow(lit(10.0), log10(vmax) + lit(0.05) * (log10(vmax) - log10(vmin)))
}
