package graft.canon

import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import scala.reflect.runtime.universe.TypeTag

/** Bounded-state distinct-min accumulators: the smallest `cap` distinct
  * values of a group, with O(cap) aggregation state per group.
  *
  * `slice(sort_array(collect_set(x)), 1, cap)` computes the same set,
  * but collect_set holds EVERY distinct value until the final slice —
  * on a hot entity (10^7 source chunks) that is an unbounded map-side
  * buffer and the documented spill risk (SURVEY.md §4.3/§7.4#4). These
  * aggregators enforce the cap during accumulation, so the hottest key
  * costs the same state as a cold one. Order-independent (set + total
  * order), hence deterministic under any partitioning.
  */
object BoundedAgg {

  /** Sorted-ascending distinct insert, capped: keeps the smallest
    * `cap`. Early-outs when the buffer is full and x can't enter.
    * Ordering is CODE POINT order (Chars.utf8Lt) — the order Spark's
    * own sort_array/min use — not Java compareTo, which disagrees for
    * supplementary-plane characters. */
  private def insert(buf: List[String], x: String, cap: Int): List[String] = {
    // cap <= 0 guard: buf.last below would throw on the empty buffer
    // (flag validation rejects non-positive caps, but an executor-side
    // crash is the wrong failure mode for a constructor argument)
    if (x == null || cap <= 0) buf
    else if (buf.lengthCompare(cap) >= 0 &&
      !graft.text.Chars.utf8Lt(x, buf.last)) buf
    else if (buf.contains(x)) buf
    else {
      val (lt, ge) = buf.span(graft.text.Chars.utf8Lt(_, x))
      val merged = lt ::: (x :: ge)
      if (merged.lengthCompare(cap) > 0) merged.take(cap) else merged
    }
  }

  final class DistinctMinOfStrings(cap: Int)
      extends Aggregator[String, List[String], Seq[String]] {
    def zero: List[String] = Nil
    def reduce(b: List[String], a: String): List[String] = insert(b, a, cap)
    def merge(a: List[String], b: List[String]): List[String] =
      b.foldLeft(a)((acc, x) => insert(acc, x, cap))
    def finish(r: List[String]): Seq[String] = r
    def bufferEncoder = ExpressionEncoder[List[String]]()
    def outputEncoder = ExpressionEncoder[Seq[String]]()
  }

  final class DistinctMinOfArrays(cap: Int)
      extends Aggregator[Seq[String], List[String], Seq[String]] {
    def zero: List[String] = Nil
    def reduce(b: List[String], a: Seq[String]): List[String] =
      if (a == null) b else a.foldLeft(b)((acc, x) => insert(acc, x, cap))
    def merge(a: List[String], b: List[String]): List[String] =
      b.foldLeft(a)((acc, x) => insert(acc, x, cap))
    def finish(r: List[String]): Seq[String] = r
    def bufferEncoder = ExpressionEncoder[List[String]]()
    def outputEncoder = ExpressionEncoder[Seq[String]]()
  }

  /** All-or-nothing member collector for the LSH hot-band guard: the
    * complete member list of a group when its cardinality is <= cap,
    * NULL once it overflows (state stops growing at cap+1 — a 10^7-key
    * degenerate band costs O(cap) state, not O(band)). NULL inputs are
    * skipped.
    *
    * PRECONDITION: the aggregated values are distinct within each group
    * (true for (band, name_key) and (band, doc_id) rows — one row per
    * member per band by construction). Overflow = pure cardinality, so
    * the verdict is deterministic under any partitioning; member order
    * is arbitrary (callers pair through `graft.lsh.Blocking.pairs`, so
    * row order never surfaces). */
  final class AllOrNothing[T: TypeTag](cap: Int)
      extends Aggregator[T, (List[T], Long), Seq[T]] {
    def zero: (List[T], Long) = (Nil, 0L)
    def reduce(b: (List[T], Long), a: T): (List[T], Long) =
      if (a == null) b
      else if (b._2 >= cap + 1L) (b._1, b._2 + 1) // overflowed: count only
      else (a :: b._1, b._2 + 1)
    def merge(a: (List[T], Long), b: (List[T], Long)): (List[T], Long) = {
      val n = a._2 + b._2
      if (n > cap) (Nil, n) // overflow verdict is cardinality-only
      else (b._1 ::: a._1, n)
    }
    def finish(r: (List[T], Long)): Seq[T] =
      if (r._2 > cap) null else r._1
    def bufferEncoder = ExpressionEncoder[(List[T], Long)]()
    def outputEncoder = ExpressionEncoder[Seq[T]]()
  }

  /** Column form: every member if the group has <= cap values, else
    * NULL (see [[AllOrNothing]]). */
  def allOrNothing[T: TypeTag](c: Column, cap: Int): Column =
    udaf(new AllOrNothing[T](cap), ExpressionEncoder[T]()).apply(c)

  /** Column form: smallest `cap` distinct strings of the group. */
  def distinctMin(c: Column, cap: Int): Column =
    udaf(new DistinctMinOfStrings(cap), Encoders.STRING).apply(c)

  /** Column form over array input: smallest `cap` distinct elements of
    * the union of the group's arrays (the merge phase of a salted
    * two-phase aggregate). */
  def distinctMinFlat(c: Column, cap: Int): Column =
    udaf(new DistinctMinOfArrays(cap),
      ExpressionEncoder[Seq[String]]()).apply(c)
}
