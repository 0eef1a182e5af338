package graft.engine.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `sorted_intersect_count(a, b)` — |set(a) ∩ set(b)| for two ASCENDING
  * SORTED `array<bigint>` columns, as one allocation-free merge loop.
  *
  * Replaces `size(array_intersect(a, b))` on x119's out-neighbor arrays.
  * `array_intersect` IS codegen-capable, but its generated code builds an
  * OpenHashSet over one side and materializes the distinct common elements
  * as a new array per row — only for `size` to read the length and throw
  * the array away. On the triangle count that allocation+hashing runs once
  * per oriented EDGE over O(√m)-bounded neighborhoods, i.e. it IS the
  * O(m^1.5) hot loop. Both inputs there come out of
  * `sort_array(collect_list(...))`, so the intersection count is a single
  * sorted-merge pass: no hash set, no output array, no per-element
  * allocation.
  *
  * Semantics replicated exactly under the SORTED-ASCENDING precondition
  * (sort_array's default, nulls FIRST):
  *   - duplicates count once (array_intersect returns DISTINCT matches) —
  *     the merge skips over a value already counted;
  *   - a null element is a match iff BOTH arrays contain null (counted
  *     once), mirroring array_intersect's null handling; sort_array places
  *     nulls first, so leading-null runs are consumed before the merge.
  * On UNSORTED input the count is undefined (may undercount) — callers own
  * the precondition; every product call site feeds sort_array output.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.engine.expr.SortedIntersectCount.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Shared by interpreted eval and generated code. */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    // sort_array(asc) places nulls first: consume the leading null run on
    // both sides; null ∈ intersection iff both sides have one (counted once)
    var i = 0
    while (i < n && a.isNullAt(i)) i += 1
    var j = 0
    while (j < m && b.isNullAt(j)) j += 1
    var cnt: Long = if (i > 0 && j > 0) 1L else 0L
    var hasPrev = false
    var prev = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        // distinct-count semantics: a value already counted is skipped
        if (!hasPrev || prev != x) { cnt += 1L; hasPrev = true; prev = x }
        i += 1; j += 1
      }
    }
    cnt
  }
}
