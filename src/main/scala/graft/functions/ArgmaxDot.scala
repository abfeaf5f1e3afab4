package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Broadcast-matrix centroid assignment — the one path of
  * [[graft.operators.Similarity]]'s Lloyd/IVF assignment.
  *
  * Re-emitting the collected centroids as literal SQL (`array_max` over
  * L `struct(dot_e4c(embedding, array(<dims literals>)))` entries) is a
  * driver/codegen wall at the cluster counts semantic dedup actually
  * deploys (SemDeDup-style runs cite ~50k clusters: L=50k × dims=64
  * would be a multi-MB SQL string, an expression tree past Janino's
  * 64KB method limit, and quadratic analyzer cost). Here the L×dims
  * int64 centroid matrix instead travels ONCE per executor as a
  * regular Spark broadcast; the expression holds only the broadcast
  * handle, so the plan stays O(1) in L and whole-stage codegen survives
  * any cluster count — the generated code is one static call per row.
  *
  * Semantics are pinned by the p13/p38/p39 oracle hashes: per centroid
  * the exact int64 dot Σ round(eᵢ·10⁴)·cᵢ with [[DotE8.roundE4]]'s
  * half-away-from-zero rounding and `min(|e|,|c|)` length contract,
  * argmax by (dot desc, label asc). The embedding is quantized ONCE
  * per row into a scratch array instead of once per centroid.
  */
case class ArgmaxDotE4(child: Expression,
    bc: Broadcast[(Array[Int], Array[Array[Long]])])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"argmax_dot_e4 requires array<float>, got ${dt.sql}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmax_dot_e4"

  override def nullSafeEval(a: Any): Any =
    ArgmaxDot.argmax(a.asInstanceOf[ArrayData], bc)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val bcRef = ctx.addReferenceObj("centroidsBc", bc,
        classOf[Broadcast[_]].getName)
      val cls = ArgmaxDot.getClass.getName.stripSuffix("$")
      s"${ev.value} = $cls$$.MODULE$$.argmax($a, $bcRef);"
    })

  override protected def withNewChildInternal(newChild: Expression)
      : ArgmaxDotE4 = copy(child = newChild)
}

/** The probe-cell sibling of [[ArgmaxDotE4]]: the `k` best centroid
  * labels by (dot desc, label asc) — what IVF `nprobe` fans a QUERY
  * vector out to, in that order (all L labels when k ≥ L; p41/p58
  * oracle hashes replay the probe order). Query-side only, so
  * the per-row top-k insertion cost is |Q|-bound, never corpus-bound. */
case class TopCellsDotE4(child: Expression,
    bc: Broadcast[(Array[Int], Array[Array[Long]])], k: Int)
    extends UnaryExpression {
  require(k >= 1, s"k must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"top_cells_dot_e4 requires array<float>, got ${dt.sql}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "top_cells_dot_e4"

  override def nullSafeEval(a: Any): Any =
    ArgmaxDot.topCells(a.asInstanceOf[ArrayData], bc, k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val bcRef = ctx.addReferenceObj("centroidsBc", bc,
        classOf[Broadcast[_]].getName)
      val cls = ArgmaxDot.getClass.getName.stripSuffix("$")
      s"${ev.value} = $cls$$.MODULE$$.topCells($a, $bcRef, $k);"
    })

  override protected def withNewChildInternal(newChild: Expression)
      : TopCellsDotE4 = copy(child = newChild)
}

/** Product-quantization encoder — ALL subspaces in one expression.
  *
  * The literal form (per subspace an `array_max` over `codes`
  * `struct(2·dot_e4c(slice(…)) − ‖c‖², −code)` entries) is m×codes
  * dot nodes — ~1k expression nodes at the default 8×16 geometry,
  * which costs seconds of analyzer+Janino time PER QUERY BUILD
  * (measured: the p56 literal projection dominated its sf0.1 bench
  * time on a 5000-row corpus). Here the codebooks travel as one
  * broadcast and the plan holds a single node: O(1) plan size in
  * m×codes, codegen is one static call per row, and the vector is
  * quantized once per row instead of once per cell.
  *
  * Semantics pinned to the literal form (p56 oracle hash): per
  * subspace argmax of `2·dot − ‖c‖²` (= argmin distance up to the
  * code-independent ‖x‖²), ties to the SMALLEST code, dots over
  * `min(subDims, |slice|, |c|)` components with [[DotE8.roundE4]]
  * rounding. */
case class PqCodesE4(child: Expression,
    bc: Broadcast[Array[(Array[Int], Array[Array[Long]], Array[Long])]],
    subDims: Int) extends UnaryExpression {
  require(subDims >= 1, s"subDims must be >= 1, got $subDims")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"pq_codes_e4 requires array<float>, got ${dt.sql}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes_e4"

  override def nullSafeEval(a: Any): Any =
    ArgmaxDot.pqCodes(a.asInstanceOf[ArrayData], bc, subDims)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val bcRef = ctx.addReferenceObj("codebooksBc", bc,
        classOf[Broadcast[_]].getName)
      val cls = ArgmaxDot.getClass.getName.stripSuffix("$")
      s"${ev.value} = $cls$$.MODULE$$.pqCodes($a, $bcRef, $subDims);"
    })

  override protected def withNewChildInternal(newChild: Expression)
      : PqCodesE4 = copy(child = newChild)
}

object ArgmaxDot {

  private def quantize(a: ArrayData): Array[Long] = {
    val n = a.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) { q(i) = DotE8.roundE4(a.getFloat(i)); i += 1 }
    q
  }

  private def dot(q: Array[Long], c: Array[Long]): Long = {
    val m = math.min(q.length, c.length)
    var acc = 0L
    var i = 0
    while (i < m) { acc += q(i) * c(i); i += 1 }
    acc
  }

  /** Label of the max-dot centroid; ties to the SMALLEST label. */
  def argmax(a: ArrayData,
      bc: Broadcast[(Array[Int], Array[Array[Long]])]): Int = {
    val (labels, matrix) = bc.value
    // CentroidSet requires non-empty at construction; this backstop
    // keeps any future direct use from silently assigning every row
    // the phantom label Int.MaxValue
    if (matrix.isEmpty)
      throw new IllegalStateException("argmax_dot_e4: empty centroid matrix")
    val q = quantize(a)
    var bestD = Long.MinValue
    var bestLab = Int.MaxValue
    var first = true
    var l = 0
    while (l < matrix.length) {
      val d = dot(q, matrix(l))
      if (first || d > bestD || (d == bestD && labels(l) < bestLab)) {
        first = false; bestD = d; bestLab = labels(l)
      }
      l += 1
    }
    bestLab
  }

  /** One PQ code per subspace: argmax of `2·dot − ‖c‖²` over the
    * subspace's cells, ties to the smallest code (the literal form's
    * `array_max` over (d, −code) structs). Shared by the interpreted
    * and codegen paths. */
  def pqCodes(a: ArrayData,
      bc: Broadcast[Array[(Array[Int], Array[Array[Long]], Array[Long])]],
      subDims: Int): ArrayData = {
    val books = bc.value
    val q = quantize(a)
    val out = new Array[Any](books.length)
    var s = 0
    while (s < books.length) {
      val (codes, matrix, c2) = books(s)
      if (matrix.isEmpty) // same backstop as argmax: never a phantom code
        throw new IllegalStateException(
          s"pq_codes_e4: empty codebook for subspace $s")
      val off = s * subDims
      var bestD = Long.MinValue
      var bestC = Int.MaxValue
      var first = true
      var l = 0
      while (l < matrix.length) {
        val c = matrix(l)
        val lim = math.min(math.min(subDims, c.length),
          math.max(0, q.length - off))
        var acc = 0L
        var j = 0
        while (j < lim) { acc += q(off + j) * c(j); j += 1 }
        val d = 2L * acc - c2(l)
        if (first || d > bestD || (d == bestD && codes(l) < bestC)) {
          first = false; bestD = d; bestC = codes(l)
        }
        l += 1
      }
      out(s) = bestC
      s += 1
    }
    new GenericArrayData(out)
  }

  /** The `min(k, L)` best labels by (dot desc, label asc), in that
    * order — insertion into a k-bounded scratch pair of arrays
    * (k = nprobe is a small constant; L passes of O(k) shifts). */
  def topCells(a: ArrayData,
      bc: Broadcast[(Array[Int], Array[Array[Long]])], k: Int): ArrayData = {
    val (labels, matrix) = bc.value
    val q = quantize(a)
    val keep = math.min(k, matrix.length)
    val bestD = new Array[Long](keep)
    val bestLab = new Array[Int](keep)
    var filled = 0
    var l = 0
    while (l < matrix.length) {
      val d = dot(q, matrix(l))
      val lab = labels(l)
      // find insertion point among the filled prefix
      var pos = filled
      while (pos > 0 && (d > bestD(pos - 1) ||
          (d == bestD(pos - 1) && lab < bestLab(pos - 1)))) pos -= 1
      if (pos < keep) {
        val last = math.min(filled, keep - 1)
        var j = last
        while (j > pos) { bestD(j) = bestD(j - 1); bestLab(j) = bestLab(j - 1); j -= 1 }
        bestD(pos) = d
        bestLab(pos) = lab
        if (filled < keep) filled += 1
      }
      l += 1
    }
    val out = new Array[Any](filled)
    var i = 0
    while (i < filled) { out(i) = bestLab(i); i += 1 }
    new GenericArrayData(out)
  }
}
