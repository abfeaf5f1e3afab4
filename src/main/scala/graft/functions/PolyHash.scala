package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `poly_hash31(s)` — deterministic polynomial rolling hash of a
  * string's bytes into [0, 2³¹−1): acc ← (acc·131 + byte) mod (2³¹−1).
  *
  * This is the content-derived shingle id of the MinHash pipeline
  * ([[graft.operators.Dedup.minhashNearDups]]): unlike a
  * sorted dense vocabulary it needs NO global structure — no distinct,
  * no sort, no id join — so the id assignment is a pure per-row
  * projection that scales embarrassingly; and unlike `xxhash64` it is
  * reproducible in the DuckDB oracle
  * (`list_reduce(list_transform(string_split(s,''), c -> ascii(c)), …)`),
  * because both engines agree on every step of the integer recurrence.
  *
  * Bounds: acc < 2³¹, so acc·131 + 255 < 2³⁹ — no int64 overflow.
  * Caveat (documented contract): the oracle's `ascii()` walks Unicode
  * codepoints while this walks UTF-8 bytes — identical on ASCII
  * corpora, divergent beyond; the synthetic corpus is pure ASCII.
  * Collisions (~n²/2³² for n distinct shingles) are identical in both
  * engines; with SET semantics on the id table on both sides (the
  * engine's `array_distinct`, the oracle's `SELECT DISTINCT`) results
  * stay bit-exact even when one occurs — a collision only adds
  * measure-zero fuzz to the Jaccard estimate itself, exactly like any
  * hashing shingler.
  */
case class PolyHash31(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"poly_hash31 requires a string argument, got ${dt.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash31"

  override def nullSafeEval(s: Any): Any =
    PolyHash31.hash(s.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.PolyHash31$$.MODULE$$.hash($s)")

  override protected def withNewChildInternal(
      newChild: Expression): PolyHash31 = copy(child = newChild)
}

object PolyHash31 {
  final val P: Long = 2147483647L // 2^31 − 1
  final val B: Long = 131L

  /** Shared by the interpreted and codegen paths. */
  def hash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * B + (bytes(i) & 0xff)) % P
      i += 1
    }
    acc
  }

  private[functions] val builder = (args: Seq[Expression]) => {
    require(args.length == 1, "poly_hash31 takes exactly 1 argument")
    PolyHash31(args.head)
  }

  /** Idempotent per-session registration (also registers the companion
    * [[MinHashSigs]] — the two are used together). */
  def register(spark: SparkSession): Unit = {
    DotE8.registerOnce(spark, "poly_hash31", builder)
    DotE8.registerOnce(spark, "minhash_sigs", MinHashSigs.builder)
  }
}

/** `minhash_sigs(tids, numPerms)` — the full MinHash signature of a
  * shingle-id SET in one in-row loop: element i (0-based) is
  * min over t∈tids of (t·(1+2i) + 7+3i) mod (2³¹−1) — exactly
  * [[graft.operators.Dedup.minhashSignatures]]'s per-permutation mins,
  * which that operator computes as numPerms aggregate states over an
  * EXPLODED (doc_id, tid) table. Keeping the set in-row turns the
  * whole signature stage into a shuffle-free projection: nothing is
  * exploded, nothing aggregates, and at 100 TB the only shuffle left
  * in candidate generation is the band-bucket groupBy.
  *
  * numPerms must be a foldable integer (it sizes the output array at
  * plan time). Bounds: tid < 2³¹ and a ≤ 2·numPerms+1, so a·t + b stays
  * far below 2⁶³ for any sane numPerms. */
case class MinHashSigs(child: Expression, numPerms: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if numPerms > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs requires (array<bigint>, positive literal int), " +
        s"got ${dt.sql} with numPerms=$numPerms")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(
      MinHashSigs.compute(a.asInstanceOf[ArrayData], numPerms))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.MinHashSigs$$.MODULE$$.compute($a, $numPerms))")

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSigs = copy(child = newChild)
}

object MinHashSigs {
  /** Shared by the interpreted and codegen paths. Empty input yields
    * all-Long.MaxValue sentinels — callers filter empty sets out first
    * (the oracle's exploded formulation simply has no rows for them). */
  def compute(tids: ArrayData, numPerms: Int): Array[Long] = {
    val n = tids.numElements()
    val out = Array.fill(numPerms)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val t = tids.getLong(j)
      var i = 0
      while (i < numPerms) {
        val h = (t * (1 + 2 * i) + (7 + 3 * i)) % PolyHash31.P
        if (h < out(i)) out(i) = h
        i += 1
      }
      j += 1
    }
    out
  }

  private[functions] val builder = (args: Seq[Expression]) => {
    require(args.length == 2, "minhash_sigs takes exactly 2 arguments")
    val np = args(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"minhash_sigs numPerms must be a literal int, got $other")
    }
    MinHashSigs(args.head, np)
  }
}
