package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.{RasterParams, YScale}

/** A4/A5/A6 — 2-D binned rasterization of (time, value) points into a
  * width×height pixel grid (reference `plot.py:15-60`, datashader
  * Canvas.line / Canvas.points / per-column hover reductions).
  *
  * Scale design: the raster is an AGGREGATION, not a render loop — the
  * grid has ≤ width×height cells per attribute no matter how many
  * points feed it, so the collect at the end is O(pixels), never
  * O(points) (SURVEY.md §7.5.6). Point binning and hover columns are
  * the fused execs of [[graft.plans.RasterFusion]] (partial grid per
  * partition, one shuffle); line rasterization, here, needs
  * consecutive points, i.e. one range shuffle + in-partition sort,
  * then a flatMap that emits covered pixels per segment (≤
  * width+height per segment) followed by a hash aggregate.
  *
  * Driver twin: a window that fits one driver page
  * ([[graft.api.ArchiveApi.DriverPageRows]] rows) is already collected
  * for `/image`, so its lines run on the driver ([[linesLocal]]) with
  * the same projection and per-pair kernel, and no job — there the
  * work is O(points) of driver CPU, bounded by the page.
  *
  * Divergence: datashader draws anti-aliased lines with numba kernels
  * (`plot.py:22-27`); we use a deterministic integer Bresenham so
  * golden tests are stable (SURVEY.md §7.5.2).
  */
object Raster {

  /** A line point before pixel projection: series key, time, value,
    * tie-breaker and y-scale index (null: no scale, dropped). */
  private[graft] final case class LinePoint(k: String, t: Long,
      v: java.lang.Double, tie: Long, s: java.lang.Integer)

  /** A line point after pixel projection; `k` is the NUL-joined series
    * key, `py` is None for NaN values (line-break semantics). */
  private[operators] final case class LP(k: String, px: Long,
      py: Option[Long], t: Long, tie: Long)

  private val KeySep = "\u0000"

  /** Off-canvas endpoint clamp band (plus/minus band, see
    * [[segCells]]). ONE definition shared with the raster oracles'
    * segClampSql (api/EventQueries) -- the two must stay equal or the
    * engine and its q21/q28/q29 oracles diverge on far-outlier
    * segments. */
  private[graft] def clampBand(height: Int): Long = 4L * height + 4

  /** Weighted cells of the segment prev→cur, or none when the pair
    * spans keys or touches a NaN (None) endpoint. Both kernels emit
    * (key, px, py, w): Bresenham at w=1 (so the summed column IS the
    * hit count) and the AA kernel at w∈[1,256] coverage units.
    * Object-scoped so task closures capture nothing but this
    * serializable object.
    *
    * Out-of-canvas guards (manual axis ranges narrower than the data —
    * a y-scale's `py` has no bottom clamp, so an outlier's py can be
    * billions):
    *  - a segment ENTIRELY below or above the canvas is skipped — its
    *    cells' y all lie between the endpoint ys (Bresenham walks
    *    monotonically; AA straddles at most one extra row, covered by
    *    the 1-row margin), so every cell would be clipped anyway:
    *    output-exact, and it removes the |Δpy|-cells blow-up for the
    *    common both-sides-out case;
    *  - a CROSSING segment's far endpoint is clamped into a ±4·height
    *    band: cells per segment stay O(height+width) (no executor
    *    blow-up, no Int wrap in the kernels) at the cost of a slightly
    *    distorted slope for endpoints beyond the band — a documented
    *    approximation that only engages when the caller's manual range
    *    excludes data by >4 canvas heights. */
  private def segCells(aa: Boolean, height: Int)(
      a: LP, b: LP): Seq[(String, Long, Long, Long)] =
    if (a.k == b.k && a.py.isDefined && b.py.isDefined) {
      val (ya, yb) = (a.py.get, b.py.get)
      val fullyOut =
        (ya < -1 && yb < -1) || (ya > height.toLong && yb > height.toLong)
      if (fullyOut) Nil
      else {
        val band = clampBand(height)
        def cl(y: Long): Int = math.max(-band, math.min(band + height, y)).toInt
        if (aa)
          lineAA(a.px.toInt, cl(ya), b.px.toInt, cl(yb))
            .toSeq.map { case (x, y, w) => (b.k, x.toLong, y.toLong, w) }
        else
          bresenham(a.px.toInt, cl(ya), b.px.toInt, cl(yb))
            .toSeq.map { case (x, y) => (b.k, x.toLong, y.toLong, 1L) }
      }
    } else Nil

  /** A4 — Canvas.line equivalent: per-cell count of pixels covered by
    * the polyline connecting consecutive points of each series
    * (consecutive = ordered by (t, tieCol) within the key). NaN values
    * break the line (datashader semantics: segments touching a NaN
    * endpoint are skipped); cells outside the canvas are clipped after
    * rasterization.
    *
    * Scale design: the earlier implementation windowed over
    * `partitionBy(keys).orderBy(t)`, which serializes a hot series'
    * entire history through ONE sort task (a years-long 1 Hz attribute
    * is ~10⁸ points). This version range-repartitions on
    * (key, t, tie) — Spark splits each series across as many
    * partitions as its size demands — sorts within partitions, emits
    * Bresenham cells per consecutive pair inside each partition, and
    * stitches the O(#partitions) cross-partition segment pairs on the
    * driver. The edge collect and the cell pass read one RDD, so the
    * second job reuses the range shuffle's map output (Spark's own
    * shuffle reuse — no cache to release); no per-key sort bottleneck.
    * Output key columns are strings (keys are NUL-joined for the typed
    * pass).
    *
    * Limitation (documented divergence from datashader): segments are
    * rasterized from their true endpoints and clipped per-cell, not
    * geometrically clipped at the canvas edge; callers should pass a
    * [vmin, vmax] covering the data (imageQuery does — axis limits come
    * from the extrema phase). Endpoints beyond ±4 canvas heights are
    * clamped into that band before rasterizing (see [[segCells]]).
    *
    * Precondition: key column values must be NON-NULL — the NUL-joined
    * series key cannot represent null parts (`concat_ws` skips them, so
    * (null, "x") and ("x", null) would collide and reconstruct into the
    * wrong columns). Archive keys (att_name, event_type) satisfy this
    * by construction, the same invariant [[Catalog.latestBefore]]
    * documents for its clustering key. */
  def binLines(points: DataFrame, keys: Seq[String], tieCol: String,
      t0Us: Long, t1Us: Long, vmin: Double, vmax: Double,
      width: Int, height: Int, logScale: Boolean = false): DataFrame =
    binLines(points, keys, tieCol, t0Us, t1Us,
      Seq(YScale(vmin, vmax, logScale)), lit(0), width, height)

  /** [[binLines]] with one y-scale per row: `scaleOf` is an int column
    * indexing `scales` (the [[graft.plans.RasterFusion]] contract), so
    * the series of every y-axis of a request rasterize in ONE pass. A
    * row whose index is null is dropped. */
  def binLines(points: DataFrame, keys: Seq[String], tieCol: String,
      t0Us: Long, t1Us: Long, scales: Seq[YScale], scaleOf: Column,
      width: Int, height: Int): DataFrame =
    linesRaster(points, keys, tieCol, scaleOf,
      RasterParams(keys.length, t0Us, t1Us, width, height,
        scales.toIndexedSeq), aa = false, outCol = "cnt")

  /** Shared distribution scaffold for [[binLines]] / [[binLinesAA]]:
    * only the per-segment kernel (Bresenham at w=1 vs AA coverage
    * units) and the summed column's name differ — the partitioning,
    * boundary stitching, clipping and aggregation are one code path.
    * Summing w=1 is exactly the hit count, so binLines' output is
    * bit-identical to its original count(*) form.
    *
    * The window filter, pixel projection and canvas clip run in the
    * typed stages through [[RasterParams]] — the same scalar `px`/`py`
    * the fused exec uses, bit-identical to the `pxCol`/`pyCol` of the
    * declarative twin the test suite keeps (`DeclarativeRaster`) — so
    * no request literal (window, canvas, y-range) reaches generated code
    * and a new window compiles nothing here. */
  private def linesRaster(points: DataFrame, keys: Seq[String],
      tieCol: String, scaleOf: Column, p: RasterParams, aa: Boolean,
      outCol: String): DataFrame = {
    // same plan-time contract as the fused RasterFusion.binPoints —
    // a zero-length range would otherwise make every px a division by
    // zero
    require(p.t1 > p.t0 && p.width > 0 && p.height > 0,
      s"degenerate raster window: t=[${p.t0},${p.t1}] ${p.width}x${p.height}")
    val spark = points.sparkSession
    import spark.implicits._
    val prepared = points
      .where(col("t").isNotNull)
      .select(
        concat_ws(KeySep, keys.map(col(_).cast("string")): _*).as("k"),
        col("t").cast("long").as("t"),
        col("value_r").cast("double").as("v"),
        col(tieCol).cast("long").as("tie"),
        scaleOf.cast("int").as("s"))
      .as[LinePoint]
      .flatMap(project(p))
    // the edge collect and the cell pass below read ONE RDD, so they
    // share its range shuffle: the second job finds the map output of
    // the same ShuffleDependency and skips the map stage — no cache
    val sorted = prepared
      .repartitionByRange(col("k"), col("t"), col("tie"))
      .sortWithinPartitions(col("k"), col("t"), col("tie"))
      .rdd
    // within-partition consecutive pairs
    val inner = spark.createDataset(sorted.mapPartitions(pairCells(p, aa)))
    // cross-partition pairs: (last of partition i, first of the next
    // non-empty partition) — O(#partitions) rows, stitched driver-side
    val edges = sorted.mapPartitionsWithIndex { (i, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val first = it.next(); var last = first
        while (it.hasNext) last = it.next()
        Iterator.single((i, first, last))
      }
    }.collect().sortBy(_._1)
    val boundary = edges.toSeq.sliding(2).flatMap {
      case Seq((_, _, last), (_, first, _)) => clippedCells(p, aa)(last, first)
      case _ => Nil
    }.toSeq
    val cells = inner.toDF("k", "px", "py", "w")
      .unionByName(spark.createDataFrame(boundary)
        .toDF("k", "px", "py", "w"))
    val keyCols = keys.zipWithIndex.map { case (name, i) =>
      split(col("k"), KeySep).getItem(i).as(name)
    }
    cells
      .groupBy(col("k"), col("px"), col("py"))
      .agg(sum(col("w")).as(outCol))
      .select(keyCols ++ Seq(col("px"), col("py"), col(outCol)): _*)
  }

  /** [[linesRaster]] over points already on the driver, summed per
    * (series key, px, py): the window filter, projection and per-pair
    * kernel are the executors' own ([[project]], [[pairCells]]), run
    * over the points sorted by (key, t, tie) as one run — the order the
    * range partitions concatenate to, so no boundary is left to stitch.
    * Each point's `k` is its key parts joined by [[seriesKey]]; the
    * result's key is split back into them, as the distributed output's
    * key columns are. */
  private[graft] def linesLocal(points: Iterator[LinePoint], p: RasterParams,
      aa: Boolean): Map[(Seq[String], Long, Long), Long] = {
    require(p.t1 > p.t0 && p.width > 0 && p.height > 0,
      s"degenerate raster window: t=[${p.t0},${p.t1}] ${p.width}x${p.height}")
    val sorted = points.flatMap(project(p)).toArray
      .sortBy(lp => (lp.k, lp.t, lp.tie))
    val sums = scala.collection.mutable.HashMap.empty[(String, Long, Long), Long]
    pairCells(p, aa)(sorted.iterator).foreach { case (k, x, y, w) =>
      sums((k, x, y)) = sums.getOrElse((k, x, y), 0L) + w
    }
    sums.iterator.map { case ((k, x, y), w) =>
      (k.split(KeySep, -1).toSeq, x, y) -> w }.toMap
  }

  /** The series key [[linesRaster]] builds from its key columns. */
  private[graft] def seriesKey(parts: Seq[String]): String =
    parts.mkString(KeySep)

  /** A line point's pixel projection, or none when it has no y-scale or
    * lies outside the window. A NaN value breaks the line; so does a
    * non-positive value on a log axis (datashader: log10 of it is NaN
    * → the segment is dropped). A null value projects to the top row,
    * as the oracles' null-skipping `least` has it. */
  private def project(p: RasterParams)(r: LinePoint): Option[LP] =
    if (r.s == null || !p.inWindow(r.t)) None
    else {
      val scale = p.scales(r.s)
      val py =
        if (r.v == null) Some(p.height - 1L)
        else if (scale.breaks(r.v)) None
        else Some(scale.py(r.v, p.height))
      Some(LP(r.k, p.px(r.t), py, r.t, r.tie))
    }

  /** [[segCells]] clipped to the canvas — per cell, here rather than in
    * SQL, so the canvas size stays out of generated code. */
  private def clippedCells(p: RasterParams, aa: Boolean)(
      a: LP, b: LP): Seq[(String, Long, Long, Long)] =
    segCells(aa, p.height)(a, b).filter { case (_, x, y, _) =>
      x >= 0 && x < p.width && y >= 0 && y < p.height }

  /** The clipped cells of every consecutive pair of a sorted run. */
  private def pairCells(p: RasterParams, aa: Boolean)(
      it: Iterator[LP]): Iterator[(String, Long, Long, Long)] = {
    var prev: LP = null
    it.flatMap { cur =>
      val out = if (prev != null) clippedCells(p, aa)(prev, cur) else Nil
      prev = cur
      out
    }
  }

  /** A4 (opt-in variant) — ANTI-ALIASED line rasterization: per-cell
    * summed coverage weight in 1/256 units (`w256`) instead of a hit
    * count, mirroring datashader's coverage-weighted AA kernels
    * (reference `plot.py:22-27` — the one place the default
    * [[binLines]] deliberately diverges for golden-test stability).
    * Determinism survives because the coverage split is computed in
    * INTEGER-RATIONAL arithmetic ([[lineAA]]): the crossing ordinate at
    * each major-axis step is the exact rational (num/den) of the
    * segment endpoints, and the 256-unit split rounds half-up in
    * integer math — no float accumulates anywhere, so goldens are as
    * stable as Bresenham's.
    *
    * Distribution shape is identical to [[binLines]] (range-spread
    * partitions, per-partition emit, O(#partitions) driver stitch);
    * only the per-segment kernel and the final SUM (vs count) differ.
    * Output: key columns, px, py, `w256` (≥ 1; a fully-covered cell
    * contributes 256 per crossing segment). */
  def binLinesAA(points: DataFrame, keys: Seq[String], tieCol: String,
      t0Us: Long, t1Us: Long, vmin: Double, vmax: Double,
      width: Int, height: Int, logScale: Boolean = false): DataFrame =
    binLinesAA(points, keys, tieCol, t0Us, t1Us,
      Seq(YScale(vmin, vmax, logScale)), lit(0), width, height)

  /** [[binLinesAA]] with one y-scale per row, as for [[binLines]]. */
  def binLinesAA(points: DataFrame, keys: Seq[String], tieCol: String,
      t0Us: Long, t1Us: Long, scales: Seq[YScale], scaleOf: Column,
      width: Int, height: Int): DataFrame =
    linesRaster(points, keys, tieCol, scaleOf,
      RasterParams(keys.length, t0Us, t1Us, width, height,
        scales.toIndexedSeq), aa = true, outCol = "w256")

  /** Anti-aliased line kernel in integer-rational arithmetic: for each
    * major-axis step from (x0,y0) → (x1,y1) (start excluded, like
    * [[bresenham]]), the exact crossing ordinate is the rational
    * `num/den` of the endpoints; its fractional part splits 256
    * coverage units between the two straddled cells (rounded half-up
    * in integer math — the two weights always sum to 256). An exact
    * integer crossing puts all 256 units in one cell, so axis-aligned
    * and 45° lines reproduce Bresenham's cells with w=256.
    * Wu-style endpoint fractional coverage is NOT applied (endpoints
    * land on cell centers here by construction — px/py are already
    * quantized), which keeps the kernel a pure function of the cell
    * coordinates. */
  def lineAA(x0: Int, y0: Int, x1: Int, y1: Int): Array[(Int, Int, Long)] = {
    val out = Array.newBuilder[(Int, Int, Long)]
    val dx = x1 - x0; val dy = y1 - y0
    if (dx == 0 && dy == 0) return out.result()
    val steep = math.abs(dy) > math.abs(dx)
    // (a, b): major/minor axis; emit maps back to (x, y)
    val (a0, b0, a1, b1) = if (steep) (y0, x0, y1, x1) else (x0, y0, x1, y1)
    val da = a1 - a0; val db = b1 - b0
    val sa = if (da >= 0) 1 else -1
    val steps = math.abs(da)
    var i = 1
    while (i <= steps) {
      val m = a0 + i * sa
      // exact crossing: b = b0 + (m - a0) * db / da, normalized to a
      // positive denominator
      var num = b0.toLong * da + (m - a0).toLong * db
      var den = da.toLong
      if (den < 0) { num = -num; den = -den }
      val ib = Math.floorDiv(num, den)
      val rem = num - ib * den // 0 ≤ rem < den
      if (rem == 0L) {
        out += emitAA(steep, m, ib.toInt, 256L)
      } else {
        // upper-cell share of the 256 units, rounded half-up
        val wHi = (256L * rem * 2 + den) / (2 * den)
        val wLo = 256L - wHi
        if (wLo > 0) out += emitAA(steep, m, ib.toInt, wLo)
        if (wHi > 0) out += emitAA(steep, m, ib.toInt + 1, wHi)
      }
      i += 1
    }
    out.result()
  }

  @inline private def emitAA(steep: Boolean, major: Int, minor: Int,
      w: Long): (Int, Int, Long) =
    if (steep) (minor, major, w) else (major, minor, w)

  /** Integer Bresenham line: all cells covered from (x0,y0) to (x1,y1),
    * excluding the start cell (so consecutive segments don't double-count
    * their shared endpoint). */
  def bresenham(x0: Int, y0: Int, x1: Int, y1: Int): Array[(Int, Int)] = {
    val out = Array.newBuilder[(Int, Int)]
    var (x, y) = (x0, y0)
    val dx = math.abs(x1 - x0); val sx = if (x0 < x1) 1 else -1
    val dy = -math.abs(y1 - y0); val sy = if (y0 < y1) 1 else -1
    var err = dx + dy
    var first = true
    var continue = true
    while (continue) {
      if (!first) out += ((x, y))
      first = false
      if (x == x1 && y == y1) continue = false
      else {
        val e2 = 2 * err
        if (e2 >= dy) { err += dy; x += sx }
        if (e2 <= dx) { err += dx; y += sy }
      }
    }
    out.result()
  }
}
