package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-independent result checksum, the JVM twin of `bench_lib.checksum`.
  *
  * Each row is written canonically (columns sorted by name, every number as
  * its exact decimal expansion without trailing zeros, timestamps as epoch
  * microseconds, dates as epoch days), hashed to 64 bits with MD5, and the
  * row hashes are summed modulo 2^64: row order does not matter, duplicate
  * rows do. The hash of the schema (column names sorted, each with its type
  * written the way DuckDB names it) is added too, so a result that keeps its
  * values but changes a column's type (DOUBLE to DECIMAL, INTEGER to BIGINT)
  * fails the check, as it fails the oracle compare. */
object Canon {
  def number(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) { if (d > 0) "Inf" else "-Inf" }
    else number(new java.math.BigDecimal(d))

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: Byte => b.toString
    case s: Short => s.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: java.math.BigDecimal => number(d)
    case d: scala.math.BigDecimal => number(d.bigDecimal)
    case s: String => "s" + s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case i: java.time.Instant =>
      "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case l: java.time.LocalDateTime =>
      "t" + (l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000)
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => "b" + b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted
        .mkString("M{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case other =>
      throw new IllegalArgumentException(
        s"no canonical form for ${other.getClass.getName}")
  }

  def rowHash(text: String): Long = {
    val md = MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (md(i) & 0xffL); i += 1 }
    h
  }

  /** A Spark type under the name DuckDB gives the type it reads back. */
  def typeName(t: DataType): String = t match {
    case BooleanType => "BOOLEAN"
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case StringType => "VARCHAR"
    case BinaryType => "BLOB"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP WITH TIME ZONE"
    case TimestampNTZType => "TIMESTAMP"
    case a: ArrayType => typeName(a.elementType) + "[]"
    case m: MapType => s"MAP(${typeName(m.keyType)}, ${typeName(m.valueType)})"
    case s: StructType =>
      s.fields.map(f => s"${f.name} ${typeName(f.dataType)}").mkString("STRUCT(", ", ", ")")
    case other => other.sql
  }

  /** (row count, 16-digit hex checksum) of a collected result. */
  def checksum(schema: StructType, rows: Array[Row]): (Long, String) = {
    val columns = schema.fieldNames.toSeq
    val order = columns.indices.sortBy(columns(_))
    var total = rowHash(order.map(i => columns(i) + ":" + typeName(schema(i).dataType))
      .mkString("schema\u001f", "\u001f", ""))
    rows.foreach { r =>
      total += rowHash(order.map(i => columns(i) + "=" + value(r.get(i)))
        .mkString("\u001f"))
    }
    (rows.length.toLong, f"$total%016x")
  }
}
