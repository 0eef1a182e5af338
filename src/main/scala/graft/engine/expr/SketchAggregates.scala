package graft.engine.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `freq_sketch(key, capacity)` — a Misra–Gries frequent-items summary as a
  * native [[TypedImperativeAggregate]]: at most `capacity` (key, weight)
  * pairs per buffer, mergeable across partitions, with the classic
  * deterministic guarantee that any key whose true count exceeds
  * N/(capacity+1) is present in the final summary (Misra & Gries 1982;
  * merge rule from Agarwal et al., "Mergeable Summaries", PODS 2012:
  * combine weights, then subtract the (capacity+1)-th largest weight from
  * all and drop the non-positive).
  *
  * This is the 100 TB frequent-tokens path: the full token count aggregate
  * shuffles a vocab-sized key space — fine for a 31-token corpus, unbounded
  * for real text — while the sketch caps per-partition AND per-merge state
  * at `capacity` entries regardless of vocabulary. The returned value is a
  * map<key, weight> of SURVIVORS (weights are lower bounds, each within
  * N/(capacity+1) of the true count); an exact recount over the survivor
  * set (a broadcast-able candidate list) turns the sketch into exact
  * heavy-hitter output — the two-pass shape of
  * [[graft.queries.Wrangle.x62]].
  */
case class FreqSketch(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
  with ImplicitCastInputTypes with UnaryLike[Expression] {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "freq_sketch"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[UTF8String].toString, 1L)
    buf
  }

  override def merge(
      buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (k, c) => add(buf, k, c) }
    buf
  }

  /** Add weight, compressing back to ≤ capacity entries when the buffer
    * doubles past it (amortizes the O(size) compress; the bound proof only
    * needs each subtracted unit to hit > capacity keys, which holding
    * 2×capacity preserves). */
  private def add(buf: mutable.HashMap[String, Long], k: String, c: Long): Unit = {
    buf.updateWith(k) { case prev => Some(prev.getOrElse(0L) + c) }
    if (buf.size > 2 * capacity) compress(buf)
  }

  /** Misra–Gries compress: subtract the (capacity+1)-th largest weight from
    * every entry and drop the non-positive — at most `capacity` survivors. */
  private def compress(buf: mutable.HashMap[String, Long]): Unit = {
    if (buf.size <= capacity) return
    val weights = buf.values.toArray.sortInPlace()(Ordering[Long].reverse)
    val delta = weights(capacity) // (capacity+1)-th largest
    buf.filterInPlace((_, w) => w > delta)
    buf.mapValuesInPlace((_, w) => w - delta)
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    compress(buf)
    // deterministic map layout (sorted keys) — the sketch's consumers only
    // read keys/lookups, but a stable layout keeps plans replayable
    val entries = buf.toArray.sortBy(_._1)
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(e => UTF8String.fromString(e._1): Any)),
      new GenericArrayData(entries.map(e => e._2: Any)))
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, w) => out.writeUTF(k); out.writeLong(w) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) { buf.put(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqSketch =
    copy(child = newChild)
}
