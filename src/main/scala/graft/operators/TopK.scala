package graft.operators

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-k aggregate over (time, tieBreak) pairs — the partial
  * top-k building block that replaces skew-prone `row_number()` windows
  * (a window partitioned by a low-cardinality key sorts the WHOLE table
  * in a handful of tasks; this aggregator's state never exceeds k pairs
  * and merges map-side like any hash aggregate).
  *
  * Ordering is lexicographic on (t, tie) — ascending for first-k,
  * flipped by negation for last-k (callers negate, keeping one code
  * path). The buffer stays sorted; reduce is an insertion into ≤ k
  * elements, merge is a bounded merge — O(k) state, O(log k)-ish work,
  * no spill, no sort of the group.
  */
object TopK {

  /** Sorted pair list capped at k. Pairs compare lexicographically. */
  final case class Buf(items: Seq[(Long, Long)])

  private def lt(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  final class SmallestK(k: Int)
      extends Aggregator[(Long, Long), Buf, Seq[(Long, Long)]] {
    require(k > 0)
    def zero: Buf = Buf(Vector.empty)
    def reduce(b: Buf, p: (Long, Long)): Buf =
      if (b.items.size >= k && !lt(p, b.items.last)) b
      else {
        val (lo, hi) = b.items.span(lt(_, p))
        Buf((lo ++ (p +: hi)).take(k))
      }
    def merge(a: Buf, b: Buf): Buf = {
      val m = (a.items ++ b.items).sortWith(lt)
      Buf(m.take(k))
    }
    def finish(b: Buf): Seq[(Long, Long)] = b.items
    def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    def outputEncoder: Encoder[Seq[(Long, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
  }

  /** Column form: smallest k (t, tie) pairs of a group, sorted
    * ascending, as array<struct<_1,_2>>. */
  def smallestK(k: Int, timeCol: Column, tieCol: Column): Column =
    udaf(new SmallestK(k), Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .apply(timeCol, tieCol)

  /** Sorted (long, string) pair list capped at k — the same bounded
    * top-k state for a string payload (e.g. top terms by negated
    * count). Pairs compare lexicographically: sort key first, then the
    * string ascending. */
  final case class BufS(items: Seq[(Long, String)])

  private def ltS(a: (Long, String), b: (Long, String)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  final class SmallestKStr(k: Int)
      extends Aggregator[(Long, String), BufS, Seq[(Long, String)]] {
    require(k > 0)
    def zero: BufS = BufS(Vector.empty)
    def reduce(b: BufS, p: (Long, String)): BufS =
      // a null payload is skipped like the built-in aggregates skip
      // nulls — comparing it would NPE inside the task (the string is
      // the one nullable slot; the long variants carry primitives)
      if (p._2 == null) b
      else if (b.items.size >= k && !ltS(p, b.items.last)) b
      else {
        val (lo, hi) = b.items.span(ltS(_, p))
        BufS((lo ++ (p +: hi)).take(k))
      }
    def merge(a: BufS, b: BufS): BufS =
      BufS((a.items ++ b.items).sortWith(ltS).take(k))
    def finish(b: BufS): Seq[(Long, String)] = b.items
    def bufferEncoder: Encoder[BufS] = Encoders.product[BufS]
    def outputEncoder: Encoder[Seq[(Long, String)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, String)]]()
  }

  /** Column form: smallest k (sortKey, str) pairs of a group, sorted
    * ascending, as array<struct<_1,_2>>. */
  def smallestKStr(k: Int, sortCol: Column, strCol: Column): Column =
    udaf(new SmallestKStr(k), Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .apply(sortCol, strCol)

  /** Sorted DISTINCT longs capped at k — the KMV (k minimum values)
    * distinct-count sketch state: keep the k smallest distinct hash
    * values seen; |{distinct}| is then estimable from the kth value
    * alone. Distinctness is what separates this from [[SmallestK]]:
    * a value already in the buffer must not be re-inserted, or a
    * single hot token would flood the sketch and bias the estimate.
    * State is O(k) per group, reduce is a dedup insertion, merge a
    * dedup bounded merge — map-side combinable like any hash
    * aggregate, and mergeable across partitions/days by construction
    * (union-then-sketch ≡ merge-of-sketches). */
  final case class BufL(items: Seq[Long])

  final class SmallestKDistinct(k: Int)
      extends Aggregator[Long, BufL, Seq[Long]] {
    require(k > 0)
    def zero: BufL = BufL(Vector.empty)
    def reduce(b: BufL, v: Long): BufL =
      if (b.items.size >= k && v >= b.items.last) b // present or too big
      else {
        val (lo, hi) = b.items.span(_ < v)
        if (hi.nonEmpty && hi.head == v) b
        else BufL((lo ++ (v +: hi)).take(k))
      }
    def merge(a: BufL, b: BufL): BufL =
      BufL((a.items ++ b.items).distinct.sorted.take(k))
    def finish(b: BufL): Seq[Long] = b.items
    def bufferEncoder: Encoder[BufL] = Encoders.product[BufL]
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Column form: the k smallest distinct values of a long column,
    * sorted ascending, as array<long>. */
  def smallestKDistinct(k: Int, vCol: Column): Column =
    udaf(new SmallestKDistinct(k), Encoders.scalaLong).apply(vCol)

  /** HLL register vector: element-wise MAX of (bucket, rank) updates
    * over a fixed m-register buffer — the merge algebra that makes
    * HyperLogLog sketches combinable across partitions, micro-batches,
    * days, or corpora with no double-count (max is idempotent and
    * commutative). O(m) state per group, map-side combinable, and a
    * legal streaming state buffer for the same reason
    * ([[graft.operators.TextStats.hllDistinctTokens]] runs on a stream
    * as-is, StreamOpsSpec). */
  final case class BufR(regs: Seq[Int])

  final class RegisterMax(m: Int)
      extends Aggregator[(Int, Int), BufR, Seq[Int]] {
    require(m > 0)
    def zero: BufR = BufR(Vector.fill(m)(0))
    def reduce(b: BufR, v: (Int, Int)): BufR =
      if (v._2 <= b.regs(v._1)) b else BufR(b.regs.updated(v._1, v._2))
    def merge(a: BufR, b: BufR): BufR =
      BufR(a.regs.lazyZip(b.regs).map(math.max))
    def finish(b: BufR): Seq[Int] = b.regs
    def bufferEncoder: Encoder[BufR] = Encoders.product[BufR]
    def outputEncoder: Encoder[Seq[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Int]]()
  }

  /** Column form: the m-element register vector (array<int>, bucket
    * order) of max(rank) per bucket. */
  def registerMax(m: Int, jCol: Column, rCol: Column): Column =
    udaf(new RegisterMax(m),
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt))
      .apply(jCol, rCol)
}
