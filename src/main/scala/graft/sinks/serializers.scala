package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Row-to-bytes serializers — the Spark re-expression of
  * serializer/RowValueSerializer.java (+ Json/Proto variants). The
  * reference defers to user implementations; graft provides generic
  * Row-driven ones so any DataFrame can be sunk without codegen'd
  * per-type plumbing.
  */
trait RowValueSerializer[A] extends Serializable {
  def serialize(value: A): Array[Byte]
}

/** serializer/NoOpRowSerializer.java analog. */
class NoOpRowSerializer extends RowValueSerializer[Array[Byte]] {
  override def serialize(value: Array[Byte]): Array[Byte] = value
}

/** JSON per-row encoding (JsonRowValueSerializer analog): field order
  * follows the schema; nulls omitted like Spark's `to_json`. Names and
  * strings go through the shared [[JsonLine]] kernel, and each value's
  * format is [[JsonLine.valueTo]]'s. The public serializer for `Row`s;
  * the at-least-once faces encode a frame's `InternalRow`s to the same
  * bytes through [[JsonLine.RowLines]]. Thread-safe: each call builds its
  * own line, and the cached (schema, prefixes) pair is immutable, so a
  * racing rebuild only costs the rebuild. */
class JsonRowSerializer extends RowValueSerializer[Row] {
  @transient @volatile private var names: (StructType, Array[String]) = _

  private def prefixes(schema: StructType): Array[String] = {
    val c = names
    if (c != null && ((c._1 eq schema) || c._1 == schema)) c._2
    else {
      val built = JsonLine.fieldPrefixes(schema)
      names = (schema, built)
      built
    }
  }

  override def serialize(row: Row): Array[Byte] = {
    val prefix = prefixes(row.schema)
    val sb = new java.lang.StringBuilder(256).append('{')
    var first = true
    var i = 0
    while (i < prefix.length) {
      if (!row.isNullAt(i)) {
        if (!first) sb.append(',')
        first = false
        sb.append(prefix(i))
        JsonLine.valueTo(sb, row.get(i))
      }
      i += 1
    }
    sb.append('}').toString.getBytes(StandardCharsets.UTF_8)
  }
}

/** Compact tag-length-value binary encoding (ProtoValueSerializer
  * analog): deterministic, self-delimiting, schema-ordered — the wire
  * shape a proto encoder would produce, without a descriptor
  * dependency. Tag byte = field index; wire types: 0=null, 1=varint-
  * less fixed64, 2=length-delimited utf8, 3=fixed64 double, 4=bool. */
class BinaryRowSerializer extends RowValueSerializer[Row] {
  override def serialize(row: Row): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < row.schema.length) {
      out.write(i)
      if (row.isNullAt(i)) out.write(0)
      else row.get(i) match {
        case l: Long => out.write(1); out.write(fixed64(l))
        case n: Int => out.write(1); out.write(fixed64(n.toLong))
        case s: String =>
          val b = s.getBytes(StandardCharsets.UTF_8)
          out.write(2); out.write(fixed64(b.length.toLong)); out.write(b)
        case d: Double => out.write(3); out.write(fixed64(java.lang.Double.doubleToLongBits(d)))
        case b: Boolean => out.write(4); out.write(if (b) 1 else 0)
        case other =>
          val b = other.toString.getBytes(StandardCharsets.UTF_8)
          out.write(2); out.write(fixed64(b.length.toLong)); out.write(b)
      }
      i += 1
    }
    out.toByteArray
  }

  private def fixed64(l: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(l).array()
}
