package graft.engine.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `topk_pairs(score, tag, k)` — bounded-state exact top-k as a native
  * [[TypedImperativeAggregate]]: per group, the k strongest (score, tag)
  * pairs under the total order (score DESC, tag ASC), returned as a
  * score-descending `array<struct<score double, tag bigint>>`.
  *
  * This is the scale path for "top-k rows per group". The window idiom
  * Spark 4's own `WindowGroupLimit` rewrite already bounds the window
  * idiom's (`row_number() OVER (...)` + `rn <= k`) shuffle to k rows per
  * partition per group — but it still FULLY SORTS every input partition on
  * (group, order) before the partial limit, and sorts again after the
  * exchange (verified against the executed plan, round 5). This aggregate
  * replaces both sorts with an O(k) min-heap per (partition, group):
  * O(n log k) map-side work with no sort buffer, the same partial/final
  * shape as `max_by` generalized to k > 1, and — unlike the window — it
  * composes into a single aggregation pass when other aggregates ride the
  * same groupBy.
  *
  * Exactness: top-k under a total order is a mergeable summary (the k best
  * of a union is contained in the union of the per-part k bests), so
  * partial aggregation loses nothing. Ties are impossible to mis-order: the
  * tag (a key column) breaks score ties deterministically.
  */
case class TopKPairs(
    left: Expression,
    right: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]]
  with ImplicitCastInputTypes with BinaryLike[Expression] {

  require(k >= 1, "topk_pairs k must be >= 1")

  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("tag", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_pairs"

  /** Heap order: the queue's MAX is the WEAKEST held pair (lowest score;
    * score ties: highest tag), so `dequeue()` evicts the right victim.
    * Scores compare via `java.lang.Double.compare` — a TOTAL order that
    * ranks NaN as the largest double, matching Spark's window-sort
    * semantics; `a > b` alone is non-total under NaN and would let a NaN
    * enqueued under capacity sit unevictable forever. */
  private def evictionOrder: Ordering[(Double, Long)] =
    Ordering.fromLessThan { (a, b) =>
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c > 0 else a._2 < b._2
    }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(evictionOrder)

  /** Spark's sort treats -0.0 == 0.0 (ties then break on tag); Double.compare
    * does not, so normalize before any comparison is stored. */
  private def norm(s: Double): Double = if (s == 0.0d) 0.0d else s

  private def add(buf: mutable.PriorityQueue[(Double, Long)], s0: Double, t: Long): Unit = {
    val s = norm(s0)
    if (buf.size < k) buf.enqueue((s, t))
    else {
      val (ws, wt) = buf.head // current weakest
      val c = java.lang.Double.compare(s, ws)
      if (c > 0 || (c == 0 && t < wt)) { buf.dequeue(); buf.enqueue((s, t)) }
    }
  }

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = left.eval(input)
    val t = right.eval(input)
    if (s != null && t != null)
      add(buf, s.asInstanceOf[Double], t.asInstanceOf[Long])
    buf
  }

  override def merge(
      buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach { case (s, t) => add(buf, s, t) }
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    // strongest-first output: evictionOrder already ranks stronger pairs
    // as "less", so an ascending sort IS (score desc, tag asc)
    val arr = buf.toArray.sorted(evictionOrder)
    new GenericArrayData(arr.map { case (s, t) =>
      new GenericInternalRow(Array[Any](s, t)): Any
    })
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, t) => out.writeDouble(s); out.writeLong(t) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.enqueue((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKPairs =
    copy(left = newLeft, right = newRight)
}

object TopKPairs {
  /** `topk_pairs(score, tag, k)` builder for FunctionRegistry injection —
    * k must be a foldable integer literal. */
  def fromArgs(args: Seq[Expression]): TopKPairs = {
    require(args(2).foldable && args(2).dataType == IntegerType,
      "topk_pairs k must be an integer literal")
    TopKPairs(args(0), args(1), args(2).eval().asInstanceOf[Int])
  }
}
