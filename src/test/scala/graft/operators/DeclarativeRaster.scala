package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The declarative twin of the fused point raster
  * ([[graft.plans.RasterFusion]]): pixel projection, point binning and
  * hover columns as plain column expressions and hash aggregates.
  * Nothing in the engine calls it; `RasterSpec` pins its goldens and
  * `RasterFusionSpec` checks the fused execs against it value for
  * value. */
object DeclarativeRaster {

  /** Pixel-x of a µs timestamp over [t0, t1] — integer math so the
    * DuckDB oracle reproduces it bit-exactly. Spark's `/` on longs is
    * double division, so integer division is done as
    * `(n - (n mod span)) / span`: the numerator is an exact multiple of
    * span and both fit a double's 53-bit mantissa for ranges up to
    * ~(2^53/width) µs (≈ 100 days at width=1024 — beyond that the worst
    * case is a ±1-pixel difference, invisible in a raster). */
  def pxCol(tUs: Column, t0Us: Long, t1Us: Long, width: Int): Column = {
    val num = (tUs - lit(t0Us)) * lit(width.toLong)
    val span = lit(t1Us - t0Us)
    least(((num - pmod(num, span)) / span).cast("long"), lit(width - 1L))
      .cast("long")
  }

  /** Pixel-y of a value over [vmin, vmax], linear or log10 scale
    * (reference y-scale config `imageplot.js:194-216`). */
  def pyCol(v: Column, vmin: Double, vmax: Double, height: Int,
      logScale: Boolean = false): Column = {
    val (value, lo, hi) =
      if (logScale) (log10(v), math.log10(vmin), math.log10(vmax))
      else (v, vmin, vmax)
    least(floor((value - lit(lo)) / lit(hi - lo) * lit(height)), lit(height - 1L))
      .cast("long")
  }

  /** A5 — Canvas.points equivalent: per-cell count/mean/min/max of
    * value_r (reference `plot.py:28-33`). Input needs `t` (µs) and
    * `value_r`; output one row per non-empty cell per key. */
  def binPoints(points: DataFrame, keys: Seq[String],
      t0Us: Long, t1Us: Long, vmin: Double, vmax: Double,
      width: Int, height: Int, logScale: Boolean = false): DataFrame = {
    // same plan-time contract as the fused RasterFusion.binPoints (the
    // "same values" twin): a zero-length range nulls pxCol's division
    // and least() silently clamps every point into the last column
    require(t1Us > t0Us && width > 0 && height > 0,
      s"degenerate raster window: t=[$t0Us,$t1Us] ${width}x$height")
    val base = points
      .where(col("t").between(t0Us, t1Us) && !isnan(col("value_r"))
        && col("value_r").between(
          if (logScale) math.max(vmin, java.lang.Double.MIN_VALUE) else vmin,
          vmax))
    base
      .withColumn("px", pxCol(col("t"), t0Us, t1Us, width))
      .withColumn("py", pyCol(col("value_r"), vmin, vmax, height, logScale))
      .groupBy(keys.map(col) :+ col("px") :+ col("py"): _*)
      .agg(
        count(lit(1)).as("cnt"),
        // e6-quantized exact integer sum, one de-quantizing multiply,
        // one IEEE division — the same order-free mean contract as the
        // fused twin's CellAgg (a bare avg's double accumulation is
        // merge-order-dependent; the sf1 audit caught the 1-ulp drift)
        (sum(expr("cast(round(value_r * 1e6, 0) as bigint)"))
          .cast("double") / (count(lit(1)).cast("double") * lit(1e6)))
          .as("vmean"),
        min(col("value_r")).as("vmin"),
        max(col("value_r")).as("vmax"))
  }

  /** A6 — hover reductions: collapse the grid along y per pixel column
    * (reference `plot.py:44-60`: nonempty columns, per-column min/max,
    * summed count). Runs over [[binPoints]] output — O(pixels) input. */
  def hoverColumns(grid: DataFrame, keys: Seq[String]): DataFrame =
    grid.groupBy(keys.map(col) :+ col("px"): _*)
      .agg(
        min(col("vmin")).as("col_min"),
        max(col("vmax")).as("col_max"),
        sum(col("cnt")).as("col_count"))
}
