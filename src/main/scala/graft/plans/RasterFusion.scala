package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** SURVEY §4's raster-fusion strategy: the `/image` hot path's
  * filter → pixel-project → partial-aggregate chain collapsed into ONE
  * custom physical operator pair, registered through
  * `spark.experimental.extraStrategies` (the same public hook
  * [[DerivedDivBounds]] uses for its optimizer rule).
  *
  * Why a whole-operator plan node: NOT to avoid materializing rows —
  * whole-stage codegen already fuses the filter, pixel projection and
  * partial aggregate of the declarative twin
  * (`DeclarativeRaster.binPoints`, test scope) into one loop with no
  * intermediate row. The win is per request: every `/image` window
  * bakes its own t0/t1/vmin/vmax literals into the declarative stages,
  * so each request pays a fresh codegen (and compile) of those stages,
  * plus the generic hash aggregate's per-row overhead. The fused exec is precompiled Scala
  * whose parameters are plain fields, and it accumulates
  * (cnt, sum, min, max) straight into a per-partition hash grid whose
  * key domain is the bounded PIXEL grid — partial state is bounded by
  * #keys × width × height cells per task, never by point count. The
  * in-JVM A/B against the declarative twin is recorded in
  * DESIGN_CENSUS.md.
  *
  * Plan shape: [[RasterBinPlan]] (logical) →
  * [[RasterBinPartialExec]] (narrow: one pass per child partition) →
  * hash exchange on (keys, px, py) inserted automatically by
  * `EnsureRequirements` against [[RasterBinMergeExec]]'s required
  * distribution → merge combines cells and emits
  * `keys…, px, py, cnt, vmean, vmin, vmax`. Every px/py/filter rule
  * replicates the declarative `DeclarativeRaster.binPoints` EXACTLY —
  * RasterFusionSpec pins value parity on fixtures and asserts the
  * fused operators appear in the executed plan.
  *
  * Per-key scales: the y-transform is a small [[YScale]] table in
  * [[RasterParams]], and every input row carries an int index into
  * it, so one pass bins all the y-axes of an `/image` request, each
  * with its own range (q36/q43, `ArchiveApi.imageQuery`). The
  * scalar-range APIs are the one-entry table. All three execs report
  * `number of output rows`, and the merges `partial cells merged`, so
  * `graft.Profile` names them in a stage's nodes. */
object RasterFusion {

  /** Idempotent strategy registration (mirrors
    * [[DerivedDivBounds.register]]). `extraStrategies` is a plain
    * read-modify-write seq, and the HTTP shim calls this from a request
    * thread pool — serialize the check-and-append or two first requests
    * can double-register (or drop) a strategy. */
  def register(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(RasterStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ RasterStrategy
  }

  /** Fused form of the declarative `DeclarativeRaster.binPoints`: same
    * arguments, same output schema `(keys…, px, py, cnt, vmean, vmin,
    * vmax)`, same values — different physical plan. The one-entry case
    * of the per-key-scale form below. */
  def binPoints(points: DataFrame, keys: Seq[String],
      t0Us: Long, t1Us: Long, vmin: Double, vmax: Double,
      width: Int, height: Int, logScale: Boolean = false): DataFrame =
    binPoints(points, keys, t0Us, t1Us, Seq(YScale(vmin, vmax, logScale)),
      lit(0), width, height)

  /** [[binPoints]] with one y-scale per row: `scaleOf` is an int column
    * indexing `scales`, so each key (say, each y-axis of an `/image`
    * request) bins with its own `(vmin, vmax, log)` in ONE pass. A row
    * whose index is null has no scale and is not binned. */
  def binPoints(points: DataFrame, keys: Seq[String], t0Us: Long,
      t1Us: Long, scales: Seq[YScale], scaleOf: Column, width: Int,
      height: Int): DataFrame =
    fused(points, keys, scaleOf,
      RasterParams(keys.length, t0Us, t1Us, width, height,
        scales.toIndexedSeq))(RasterBinPlan(_, _))

  /** Fused form of the declarative `DeclarativeRaster.binPoints` ∘
    * `DeclarativeRaster.hoverColumns` — the `/image` hover path
    * end-to-end as ONE custom plan: filter + pixel-project + partial
    * grid accumulation ([[RasterBinPartialExec]], unchanged), then a
    * single exchange clustered on (keys, px) into
    * [[RasterHoverMergeExec]], which folds the partial CELLS straight
    * into per-pixel-column reductions. The declarative form pays two
    * exchanges (grid on (keys, px, py), then a second generic aggregate
    * on (keys, px)); this pays one, and its partial state is the same
    * O(keys × pixels) bound. Output `keys…, px, col_min, col_max,
    * col_count` — value-identical to the declarative composition
    * (min/max/sum are associative over partials, so the py level never
    * needs finalizing first; RasterFusionSpec pins parity). */
  def hoverColumns(points: DataFrame, keys: Seq[String],
      t0Us: Long, t1Us: Long, vmin: Double, vmax: Double,
      width: Int, height: Int, logScale: Boolean = false): DataFrame =
    hoverColumns(points, keys, t0Us, t1Us,
      Seq(YScale(vmin, vmax, logScale)), lit(0), width, height)

  /** [[hoverColumns]] with one y-scale per row, as for [[binPoints]]. */
  def hoverColumns(points: DataFrame, keys: Seq[String], t0Us: Long,
      t1Us: Long, scales: Seq[YScale], scaleOf: Column, width: Int,
      height: Int): DataFrame =
    fused(points, keys, scaleOf,
      RasterParams(keys.length, t0Us, t1Us, width, height,
        scales.toIndexedSeq))(RasterHoverPlan(_, _))

  /** [[hoverColumns]] over rows already on the driver: each row
    * `(key, t, value_r, scale)` that [[RasterParams.keep]] keeps folds
    * into its (key, px) column's [[CellAgg]], as the fused partial and
    * merge execs fold it (the py level they key by first never changes
    * a column's min, max or count). A null value or scale is skipped,
    * as the partial exec skips it. */
  private[graft] def hoverLocal[K](rows: Iterator[(K, Long, java.lang.Double,
      java.lang.Integer)], p: RasterParams): Map[(K, Long), CellAgg] = {
    require(p.t1 > p.t0 && p.width > 0 && p.height > 0)
    val cols = scala.collection.mutable.HashMap.empty[(K, Long), CellAgg]
    rows.foreach { case (key, t, v, s) =>
      if (v != null && s != null && p.keep(t, v, s)) {
        val px = p.px(t)
        cols.get((key, px)) match {
          case Some(agg) => agg.add(v)
          case None => cols((key, px)) = new CellAgg(1L, CellAgg.e6(v), v, v)
        }
      }
    }
    cols.toMap
  }

  private def fused(points: DataFrame, keys: Seq[String], scaleOf: Column,
      params: RasterParams)(
      node: (RasterParams, LogicalPlan) => LogicalPlan): DataFrame = {
    require(params.t1 > params.t0 && params.width > 0 && params.height > 0)
    // the exec reads (keys…, t, value_r, scale) POSITIONALLY off the
    // select below; a key literally named "t" or "value_r" would make
    // that select duplicate/shift columns and silently bin the wrong slots
    require(!keys.exists(Set("t", "value_r")),
      s"raster key columns may not be named 't' or 'value_r': $keys")
    val spark = points.sparkSession
    register(spark)
    // explicit casts: the exec reads t/value_r POSITIONALLY as
    // long/double — an int t or float value_r that the declarative
    // operator would coerce via expression analysis must be coerced
    // here too, or the raw slot reads return garbage
    val child = points.select(keys.map(col) :+
      col("t").cast("long").as("t") :+
      col("value_r").cast("double").as("value_r") :+
      scaleOf.cast("int").as("scale"): _*)
    GraftPlanBridge.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      node(params, child.queryExecution.analyzed))
  }
}

/** One y-axis scale: `[vmin, vmax]`, linear or log10. `py` and `keep`
  * replicate `DeclarativeRaster.pyCol` and its `binPoints` value
  * filter bit for bit: the axis bounds' log10 is the driver-side `Math.log10` the
  * column form baked into its literals, the value's is
  * `StrictMath.log10`, which Spark's `log10` expression calls. */
final case class YScale(vmin: Double, vmax: Double,
    logScale: Boolean = false) {
  private val lo = if (logScale) math.log10(vmin) else vmin
  private val span = (if (logScale) math.log10(vmax) else vmax) - lo
  private val keepLo =
    if (logScale) math.max(vmin, java.lang.Double.MIN_VALUE) else vmin

  def py(v: Double, height: Int): Long = {
    val value = if (logScale) StrictMath.log10(v) else v
    math.min(math.floor((value - lo) / span * height),
      (height - 1L).toDouble).toLong
  }

  /** The value filter of a binned point. */
  def keep(v: Double): Boolean = !v.isNaN && v >= keepLo && v <= vmax

  /** A line breaks at this value: NaN, or non-positive on a log axis
    * (datashader drops a segment whose log10 endpoint is NaN). */
  def breaks(v: Double): Boolean = v.isNaN || (logScale && v <= 0)
}

/** The grid parameters, serializable into task closures: the time
  * window and canvas, and a small table of y-scales that rows index.
  * `px` replicates `DeclarativeRaster.pxCol` bit for bit (same op
  * order, same coercions); a single-scale raster is the one-entry
  * table. */
final case class RasterParams(numKeys: Int, t0: Long, t1: Long,
    width: Int, height: Int, scales: IndexedSeq[YScale]) {

  def px(t: Long): Long = {
    val num = (t - t0) * width.toLong
    val span = t1 - t0
    val m = ((num % span) + span) % span
    math.min(((num - m).toDouble / span.toDouble).toLong, width - 1L)
  }

  def py(v: Double, scale: Int): Long = scales(scale).py(v, height)

  def inWindow(t: Long): Boolean = t >= t0 && t <= t1

  def keep(t: Long, v: Double, scale: Int): Boolean =
    inWindow(t) && scales(scale).keep(v)
}

/** Logical raster-bin node. The child MUST produce `keys…, t, value_r,
  * scale` positionally ([[RasterFusion.binPoints]] guarantees it). The six
  * grid attributes are constructor state so `copy`/`transform` keep
  * their exprIds stable — downstream resolution binds to them. */
final case class RasterBinPlan(params: RasterParams, child: LogicalPlan,
    gridAttrs: Seq[Attribute] = RasterBinPlan.freshGridAttrs())
  extends UnaryNode {

  override def output: Seq[Attribute] =
    child.output.take(params.numKeys) ++ gridAttrs
  // gridAttrs are produced here, not consumed from the child — without
  // this the planner would flag them as missing inputs
  override def producedAttributes: AttributeSet = AttributeSet(gridAttrs)
  // the exec reads the child POSITIONALLY (keys…, t, value_r, scale),
  // so every child column is semantically referenced even though no
  // expression names t/value_r/scale — without this, ColumnPruning inserts a Project
  // under the node and the positional reads land on pruned slots
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(
      newChild: LogicalPlan): RasterBinPlan = copy(child = newChild)
}

object RasterBinPlan {
  private[plans] def freshGridAttrs(): Seq[Attribute] = Seq(
    AttributeReference("px", LongType, nullable = false)(),
    AttributeReference("py", LongType, nullable = false)(),
    AttributeReference("cnt", LongType, nullable = false)(),
    AttributeReference("vmean", DoubleType, nullable = false)(),
    AttributeReference("vmin", DoubleType, nullable = false)(),
    AttributeReference("vmax", DoubleType, nullable = false)())
}

/** Logical fused-hover node — same child contract as [[RasterBinPlan]]
  * (positional `keys…, t, value_r, scale`), column-reduction output. */
final case class RasterHoverPlan(params: RasterParams, child: LogicalPlan,
    hoverAttrs: Seq[Attribute] = RasterHoverPlan.freshHoverAttrs())
  extends UnaryNode {

  override def output: Seq[Attribute] =
    child.output.take(params.numKeys) ++ hoverAttrs
  override def producedAttributes: AttributeSet = AttributeSet(hoverAttrs)
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(
      newChild: LogicalPlan): RasterHoverPlan = copy(child = newChild)
}

object RasterHoverPlan {
  private[plans] def freshHoverAttrs(): Seq[Attribute] = Seq(
    AttributeReference("px", LongType, nullable = false)(),
    AttributeReference("col_min", DoubleType, nullable = false)(),
    AttributeReference("col_max", DoubleType, nullable = false)(),
    AttributeReference("col_count", LongType, nullable = false)())
}

/** Plans [[RasterBinPlan]] / [[RasterHoverPlan]] into exec pairs —
  * both share [[RasterBinPartialExec]]; only the merge differs. */
object RasterStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: RasterBinPlan =>
      val partial = RasterBinPartialExec(r.params, planLater(r.child))
      RasterBinMergeExec(r.output, r.params.numKeys, partial) :: Nil
    case h: RasterHoverPlan =>
      val partial = RasterBinPartialExec(h.params, planLater(h.child))
      RasterHoverMergeExec(h.output, h.params.numKeys, partial) :: Nil
    case _ => Nil
  }
}

/** One pixel cell's running (cnt, sum, min, max). `sum` accumulates
  * e6-QUANTIZED integer units (`round(v·10⁶)` half-away-from-zero,
  * the dot_e8 rounding contract): a raw double accumulator is
  * order-dependent across partition merges, and the round-12 sf1
  * oracle audit caught exactly that — q07/q36 `vmean` drifting 1 ulp
  * from DuckDB once cells held enough points (the old "cell
  * populations are tiny so the double sum stays exact" assumption).
  * Integer sums are merge-order-free, so vmean is bit-identical at
  * any scale; overflow needs Σ|v| > 9.2×10¹² in ONE pixel cell. */
private[graft] final class CellAgg(var cnt: Long, var sum: Long,
    var mn: Double, var mx: Double) {
  def add(v: Double): Unit = {
    cnt += 1; sum += CellAgg.e6(v)
    if (v < mn) mn = v
    if (v > mx) mx = v
  }
  def merge(o: CellAgg): Unit = {
    cnt += o.cnt; sum += o.sum
    if (o.mn < mn) mn = o.mn
    if (o.mx > mx) mx = o.mx
  }
}

private[graft] object CellAgg {
  /** `round(v·10⁶)` half-away-from-zero — see [[graft.functions.DotE8
    * .roundE4]] for the shared tie contract with SQL `round()`.
    *
    * PRECONDITION: `v` is finite. Every caller sits behind
    * [[RasterParams.keep]] (NaN and the finite axis bounds exclude
    * ±Inf), and the check below makes that contract LOUD: Math.round
    * would otherwise map NaN→0 and ±Inf→±MaxValue, handing a future
    * unfiltered caller a plausible-looking finite vmean where the old
    * double sum at least surfaced NaN/Inf. */
  def e6(v: Double): Long = {
    if (v.isNaN || v.isInfinite)
      throw new IllegalArgumentException(
        s"CellAgg.e6: non-finite value $v — callers must pre-filter " +
          "via RasterParams.keep")
    val x = v * 1e6
    if (x >= 0) Math.round(x) else -Math.round(-x)
  }
}

/** Shared partial-cell fold for the two merge execs: groups incoming
  * partial rows (`keys…, px, py, cnt, sum, mn, mx`) by their first
  * `groupWidth` columns — k+2 for the grid merge, k+1 for the hover
  * merge (py ignored) — and merges the trailing [[CellAgg]] slots,
  * whose positions are fixed by [[RasterBinPartialExec]]'s layout.
  * One fold implementation means the UnsafeRow key-copy discipline
  * can never diverge between the merges. */
private[plans] object CellFold {
  /** The merges' SQLMetrics: final rows out, partial cells folded in. */
  def metrics(sc: org.apache.spark.SparkContext): Map[String, SQLMetric] =
    Map(
      "numOutputRows" -> SQLMetrics.createMetric(sc, "number of output rows"),
      "cellsMerged" -> SQLMetrics.createMetric(sc, "partial cells merged"))

  def fold(rows: Iterator[InternalRow], childTypes: Array[DataType],
      numKeys: Int, groupWidth: Int,
      cellsMerged: SQLMetric): java.util.HashMap[InternalRow, CellAgg] = {
    // map key: UnsafeRow over the group prefix — value-based equality
    // and hashing; copied once on first sight (the projection reuses
    // its buffer). The scratch row WRAPS the array (no per-row alloc).
    val keyProj = UnsafeProjection.create(childTypes.take(groupWidth))
    val grid = new java.util.HashMap[InternalRow, CellAgg]()
    val keyVals = new Array[Any](groupWidth)
    val keyRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        keyVals)
    rows.foreach { row =>
      cellsMerged += 1
      var i = 0
      while (i < groupWidth) { keyVals(i) = row.get(i, childTypes(i)); i += 1 }
      val uKey = keyProj(keyRow)
      val incoming = new CellAgg(row.getLong(numKeys + 2),
        row.getLong(numKeys + 3), row.getDouble(numKeys + 4),
        row.getDouble(numKeys + 5))
      val agg = grid.get(uKey)
      if (agg == null) grid.put(uKey.copy(), incoming)
      else agg.merge(incoming)
    }
    grid
  }
}

/** One pass over each child partition: filter + pixel projection +
  * grid accumulation, emitting one partial row per non-empty cell —
  * `keys…, px, py, cnt, sum, mn, mx`. Each row is projected with the
  * y-scale its `scale` slot indexes; a null index skips the row. */
final case class RasterBinPartialExec(params: RasterParams,
    child: SparkPlan,
    aggAttrs: Seq[Attribute] = RasterBinPartialExec.freshAggAttrs())
  extends UnaryExecNode {

  // aggAttrs are constructor state, NOT derived per call: the merge
  // parent's distribution and the inserted exchange reference them by
  // exprId, and plan copies (codegen wrapping, AQE stage re-planning)
  // must preserve them
  override def output: Seq[Attribute] =
    child.output.take(params.numKeys) ++ aggAttrs

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val p = params
    val k = p.numKeys
    val numOut = longMetric("numOutputRows")
    val keyTypes: Array[DataType] =
      child.output.take(k).map(_.dataType).toArray
    val outTypes: Array[DataType] = output.map(_.dataType).toArray
    child.execute().mapPartitions({ rows =>
      // map key: UnsafeRow over (keys…, px, py) — value-based equality
      // and hashing; copied once on first sight (the projection reuses
      // its buffer)
      val keyProj = UnsafeProjection.create(
        keyTypes ++ Array[DataType](LongType, LongType))
      val grid = new java.util.HashMap[InternalRow, CellAgg]()
      // one reusable scratch row for the whole partition: the generic
      // row WRAPS the array (no copy), and keyProj serializes it into
      // the projection's own buffer — per-row allocation would defeat
      // the zero-materialization point of the fused operator
      val keyVals = new Array[Any](k + 2)
      val keyRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          keyVals)
      rows.foreach { row =>
        if (!row.isNullAt(k) && !row.isNullAt(k + 1) &&
            !row.isNullAt(k + 2)) {
          val t = row.getLong(k)
          val v = row.getDouble(k + 1)
          val s = row.getInt(k + 2)
          if (p.keep(t, v, s)) {
            var i = 0
            while (i < k) { keyVals(i) = row.get(i, keyTypes(i)); i += 1 }
            keyVals(k) = p.px(t)
            keyVals(k + 1) = p.py(v, s)
            val uKey = keyProj(keyRow)
            val agg = grid.get(uKey)
            if (agg == null)
              grid.put(uKey.copy(), new CellAgg(1L, CellAgg.e6(v), v, v))
            else agg.add(v)
          }
        }
      }
      val outProj = UnsafeProjection.create(outTypes)
      val it = grid.entrySet().iterator()
      new Iterator[InternalRow] {
        override def hasNext: Boolean = it.hasNext
        override def next(): InternalRow = {
          val e = it.next()
          val key = e.getKey; val a = e.getValue
          val vals = new Array[Any](k + 6)
          var i = 0
          while (i < k) { vals(i) = key.get(i, keyTypes(i)); i += 1 }
          vals(k) = key.getLong(k)
          vals(k + 1) = key.getLong(k + 1)
          vals(k + 2) = a.cnt; vals(k + 3) = a.sum
          vals(k + 4) = a.mn; vals(k + 5) = a.mx
          numOut += 1
          outProj(InternalRow.fromSeq(vals.toIndexedSeq))
        }
      }
    }, preservesPartitioning = false)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): RasterBinPartialExec = copy(child = newChild)
}

object RasterBinPartialExec {
  private[plans] def freshAggAttrs(): Seq[Attribute] = Seq(
    AttributeReference("px", LongType, nullable = false)(),
    AttributeReference("py", LongType, nullable = false)(),
    AttributeReference("cnt", LongType, nullable = false)(),
    AttributeReference("sum", LongType, nullable = false)(), // e6 units
    AttributeReference("mn", DoubleType, nullable = false)(),
    AttributeReference("mx", DoubleType, nullable = false)())
}

/** Final merge: requires clustering on (keys, px, py) — the planner
  * inserts the hash exchange — then combines partial cells and emits
  * `keys…, px, py, cnt, vmean, vmin, vmax`. */
final case class RasterBinMergeExec(output: Seq[Attribute], numKeys: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(child.output.take(numKeys + 2)))

  override lazy val metrics: Map[String, SQLMetric] =
    CellFold.metrics(sparkContext)

  override protected def doExecute(): RDD[InternalRow] = {
    val k = numKeys
    val childTypes: Array[DataType] = child.output.map(_.dataType).toArray
    val outTypes: Array[DataType] = output.map(_.dataType).toArray
    val (numOut, merged) =
      (longMetric("numOutputRows"), longMetric("cellsMerged"))
    child.execute().mapPartitions({ rows =>
      val grid = CellFold.fold(rows, childTypes, k, groupWidth = k + 2,
        merged)
      val outProj = UnsafeProjection.create(outTypes)
      val it = grid.entrySet().iterator()
      new Iterator[InternalRow] {
        override def hasNext: Boolean = it.hasNext
        override def next(): InternalRow = {
          val e = it.next()
          val key = e.getKey; val a = e.getValue
          val vals = new Array[Any](k + 6)
          var i = 0
          while (i < k) { vals(i) = key.get(i, childTypes(i)); i += 1 }
          vals(k) = key.getLong(k)
          vals(k + 1) = key.getLong(k + 1)
          vals(k + 2) = a.cnt
          // exact e6 integer sum, ONE de-quantizing multiply (cnt·10⁶
          // is exact in double up to cnt ≈ 9×10⁹), ONE IEEE division —
          // bit-identical to the oracle's formulation at any scale
          vals(k + 3) = a.sum.toDouble / (a.cnt.toDouble * 1e6)
          vals(k + 4) = a.mn; vals(k + 5) = a.mx
          numOut += 1
          outProj(InternalRow.fromSeq(vals.toIndexedSeq))
        }
      }
    }, preservesPartitioning = false)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): RasterBinMergeExec = copy(child = newChild)
}

/** Hover merge: requires clustering on (keys, px) only — coarser than
  * the grid merge — and folds partial CELL rows (`keys…, px, py, cnt,
  * sum, mn, mx`) directly into per-pixel-column reductions, emitting
  * `keys…, px, col_min, col_max, col_count`. The py slot is simply
  * ignored: min-of-mins / max-of-maxes / sum-of-counts over partials
  * equal the reductions over finalized cells (associativity), so the
  * grid never materializes. State is bounded by keys × width per task. */
final case class RasterHoverMergeExec(output: Seq[Attribute], numKeys: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(child.output.take(numKeys + 1)))

  override lazy val metrics: Map[String, SQLMetric] =
    CellFold.metrics(sparkContext)

  override protected def doExecute(): RDD[InternalRow] = {
    val k = numKeys
    val childTypes: Array[DataType] = child.output.map(_.dataType).toArray
    val outTypes: Array[DataType] = output.map(_.dataType).toArray
    val (numOut, merged) =
      (longMetric("numOutputRows"), longMetric("cellsMerged"))
    child.execute().mapPartitions({ rows =>
      // groupWidth k+1: group on (keys…, px) — the py slot is ignored,
      // the per-cell sums fold straight into column reductions
      val cols = CellFold.fold(rows, childTypes, k, groupWidth = k + 1,
        merged)
      val outProj = UnsafeProjection.create(outTypes)
      val it = cols.entrySet().iterator()
      new Iterator[InternalRow] {
        override def hasNext: Boolean = it.hasNext
        override def next(): InternalRow = {
          val e = it.next()
          val key = e.getKey; val a = e.getValue
          val vals = new Array[Any](k + 4)
          var i = 0
          while (i < k) { vals(i) = key.get(i, childTypes(i)); i += 1 }
          vals(k) = key.getLong(k)
          vals(k + 1) = a.mn; vals(k + 2) = a.mx; vals(k + 3) = a.cnt
          numOut += 1
          outProj(InternalRow.fromSeq(vals.toIndexedSeq))
        }
      }
    }, preservesPartitioning = false)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): RasterHoverMergeExec = copy(child = newChild)
}
