package graft.sinks

import java.nio.CharBuffer
import java.nio.charset.StandardCharsets

import scala.annotation.switch

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, AgnosticEncoders, ExpressionEncoder}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The JSON-line encoding kernel every sink write face shares: the
  * at-least-once faces ([[RowLines]], `InternalRow` → bytes), the
  * `graft-bq` task writer (`InternalRow` → bytes) and the public
  * `JsonRowSerializer` (`Row` → chars). Callers keep their own value
  * dispatch; field-name prefixes, string escaping and the format of a
  * `Row` field's external value ([[valueTo]]) live here only.
  *
  * Escaping follows Spark's `to_json`: `"` and `\` get a backslash,
  * `\n`/`\r`/`\t` their short forms, every other char below 0x20 the
  * lowercase `\u00xx` form; everything else (including surrogate pairs)
  * is copied as is. The byte form applies the same rule to UTF-8 bytes:
  * every byte of a multi-byte character is ≥ 0x80, so only ASCII bytes
  * are ever escaped, and a well-formed `UTF8String` encodes to exactly
  * the UTF-8 bytes of its decoded, char-escaped `String`.
  */
object JsonLine {
  private val Hex = "0123456789abcdef".toCharArray

  /** `"name":` for every field of `schema`, names escaped once here so
    * the per-row loop only appends. */
  def fieldPrefixes(schema: StructType): Array[String] =
    schema.fields.map { f =>
      val sb = new java.lang.StringBuilder(f.name.length + 3).append('"')
      escapeTo(sb, f.name)
      sb.append("\":").toString
    }

  /** [[fieldPrefixes]] as UTF-8 bytes. A name that cannot be encoded (a
    * lone surrogate) fails here, as an encoding writer would on it. */
  def fieldPrefixBytes(schema: StructType): Array[Array[Byte]] =
    fieldPrefixes(schema).map(utf8)

  private def utf8(s: String): Array[Byte] = {
    val b = StandardCharsets.UTF_8.newEncoder().encode(CharBuffer.wrap(s))
    java.util.Arrays.copyOfRange(b.array(), b.position(), b.limit())
  }

  /** Appends `s` escaped, without quotes: clean runs are bulk-copied,
    * only the chars that need escaping are handled one at a time. */
  def escapeTo(sb: java.lang.StringBuilder, s: String): Unit = {
    val n = s.length
    var start = 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c < ' ' || c == '"' || c == '\\') {
        if (i > start) sb.append(s, start, i)
        c match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case _ => sb.append("\\u00").append(Hex(c >> 4)).append(Hex(c & 0xf))
        }
        start = i + 1
      }
      i += 1
    }
    if (n > start) sb.append(s, start, n)
  }

  /** Appends `s` as a quoted, escaped JSON string. */
  def quoteTo(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    escapeTo(sb, s)
    sb.append('"')
  }

  /** Appends `v`, the external value of a non-null `Row` field, as JSON:
    * the one rule for a value's format, which `JsonRowSerializer` applies
    * to every field and [[RowLines]] to the fields it has no byte arm for.
    * Numbers are bare (a decimal as `BigDecimal.toString`, so `1E-18`),
    * a non-finite double or float is `null` (bare NaN/Infinity tokens are
    * not JSON), a binary is its quoted base64, and anything else is its
    * quoted `toString`. */
  def valueTo(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case s: String => quoteTo(sb, s)
    case l: java.lang.Long => sb.append(l.longValue)
    case n: java.lang.Integer => sb.append(n.intValue)
    case b: java.lang.Boolean => sb.append(b.booleanValue)
    case d: java.lang.Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.doubleValue)
    case f: java.lang.Float =>
      if (f.isNaN || f.isInfinite) sb.append("null") else sb.append(f.floatValue)
    case n: java.lang.Number => sb.append(n.toString)
    // an array's toString is its identity hash, not its bytes
    case b: Array[Byte] => sb.append('"').append(java.util.Base64.getEncoder.encodeToString(b)).append('"')
    case other => quoteTo(sb, other.toString)
  }

  /** Appends `s` as a quoted, escaped JSON string, byte-identical to the
    * UTF-8 encoding of `quoteTo(sb, s.toString)`. Well-formed UTF-8 —
    * as the reader's [[graft.sources.GraftBqJson.malformedUtf8]] decides
    * it, the JDK decoder's rule — is escaped on its bytes; anything else
    * takes the `toString` path, so malformed sequences become U+FFFD as
    * they do there, and never reach a committed line. */
  def quoteTo(out: Bytes, s: UTF8String): Unit = {
    val n = s.numBytes
    val raw = out.scratch(n)
    s.writeToMemory(raw, Platform.BYTE_ARRAY_OFFSET)
    if (graft.sources.GraftBqJson.malformedUtf8(raw, 0, n) >= 0) {
      val sb = new java.lang.StringBuilder(n + 2)
      quoteTo(sb, s.toString)
      out.append(sb.toString.getBytes(StandardCharsets.UTF_8))
    } else {
      out.ensure(6 * n + 2)
      out.put('"')
      escapeTo(out, raw, n)
      out.put('"')
    }
  }

  private final val Ones = 0x0101010101010101L
  private final val HighBits = 0x8080808080808080L
  private final val Quotes = 0x2222222222222222L
  private final val Backslashes = 0x5c5c5c5c5c5c5c5cL

  /** Whether the eight bytes of `w` hold one below 0x20, a `"` or a `\`.
    * `(v - n·0x01..) & ~v & 0x80..` is non-zero iff some byte of `v` is
    * below n ≤ 0x80 (a byte ≥ 0x80 never counts, and never needs
    * escaping); n = 1 after an XOR finds a byte equal to the pattern's. */
  private def needsEscape(w: Long): Boolean = {
    val q = w ^ Quotes
    val b = w ^ Backslashes
    ((((w - 0x20 * Ones) & ~w) | ((q - Ones) & ~q) | ((b - Ones) & ~b)) & HighBits) != 0
  }

  /** `raw(0 until n)` escaped into `out`, which has room for 6n bytes. */
  private def escapeTo(out: Bytes, raw: Array[Byte], n: Int): Unit = {
    var start = 0
    var i = 0
    while (i < n) {
      // eight clean bytes at a time
      while (i + 8 <= n && !needsEscape(Platform.getLong(raw, Platform.BYTE_ARRAY_OFFSET + i))) i += 8
      if (i < n) {
        val c = raw(i)
        if ((c >= 0 && c < ' ') || c == '"' || c == '\\') {
          if (i > start) out.put(raw, start, i - start)
          c match {
            case '"' => out.put('\\'); out.put('"')
            case '\\' => out.put('\\'); out.put('\\')
            case '\n' => out.put('\\'); out.put('n')
            case '\r' => out.put('\\'); out.put('r')
            case '\t' => out.put('\\'); out.put('t')
            case _ =>
              out.put('\\'); out.put('u'); out.put('0'); out.put('0')
              out.put(Hex(c >> 4)); out.put(Hex(c & 0xf))
          }
          start = i + 1
        }
        i += 1
      }
    }
    if (n > start) out.put(raw, start, n - start)
  }

  /** A growable byte buffer lines are encoded into, reused across rows:
    * the text so far is `bytes(0 until length)`. The `put`s write
    * without a bounds check after an `ensure`; the `append`s check. */
  final class Bytes(initial: Int) {
    var bytes = new Array[Byte](initial)
    var length = 0
    private var raw = new Array[Byte](256)

    def ensure(extra: Int): Unit =
      if (extra > bytes.length - length)
        bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, length + extra))

    /** A scratch array of at least `n` bytes, apart from the text. */
    private[JsonLine] def scratch(n: Int): Array[Byte] = {
      if (raw.length < n) raw = new Array[Byte](math.max(n, raw.length * 2))
      raw
    }

    private[JsonLine] def put(c: Char): Unit = { bytes(length) = c.toByte; length += 1 }
    private[JsonLine] def put(b: Array[Byte], off: Int, len: Int): Unit = {
      System.arraycopy(b, off, bytes, length, len)
      length += len
    }

    def append(c: Char): Unit = { ensure(1); put(c) }
    def append(b: Array[Byte]): Unit = { ensure(b.length); put(b, 0, b.length) }

    /** An ASCII string, such as `Double.toString`'s. */
    def appendAscii(s: String): Unit = {
      val n = s.length
      ensure(n)
      var i = 0
      while (i < n) { bytes(length + i) = s.charAt(i).toByte; i += 1 }
      length += n
    }

    /** `v` in decimal, as `Long.toString` writes it. */
    def appendLong(v: Long): Unit = {
      if (v == Long.MinValue) { appendAscii("-9223372036854775808"); return }
      ensure(20)
      var x = v
      if (x < 0) { put('-'); x = -x }
      var digits = 1
      var p = 10L
      while (digits < 19 && x >= p) { digits += 1; p *= 10 }
      var i = length + digits
      length = i
      do { i -= 1; bytes(i) = ('0' + x % 10).toByte; x /= 10 } while (x != 0)
    }
  }

  /** The line format of the at-least-once faces for one frame: each row
    * is encoded straight from its `InternalRow` into one reused byte
    * buffer, and its bytes equal `JsonRowSerializer.serialize` of the
    * row's external `Row`. Built on the driver; each task encodes through
    * its own [[RowLines#encoder]].
    *
    * Each column's arm is chosen here once, from the frame's `Row`
    * encoder — the one `Dataset.foreachPartition` would deserialize with,
    * so `spark.sql.datetime.java8API.enabled` picks `Instant` over
    * `Timestamp` exactly where it did. Integral columns are written as
    * ASCII decimals, booleans as `true`/`false`, doubles and floats by
    * their `toString` (non-finite as `null`), strings escaped on their
    * UTF-8 bytes by [[quoteTo]], and timestamps as the quoted `toString`
    * of their external value. Any other column (decimal, date, binary,
    * array, map, struct, interval, …) is converted one field at a time
    * to its external value by a deserializer built from the same field
    * encoder, then formatted by [[valueTo]]. */
  final class RowLines(rowEncoder: AgnosticEncoder[Row]) extends Serializable {
    import RowLines._

    private val fields = rowEncoder match {
      case AgnosticEncoders.RowEncoder(fs) => fs.toArray
      case other => throw new IllegalArgumentException(s"not a Row encoder: $other")
    }
    // JsonRowSerializer encodes its whole line with String.getBytes, which
    // replaces what UTF-8 cannot encode: so must the names here
    private val prefix = fieldPrefixes(rowEncoder.schema).map(_.getBytes(StandardCharsets.UTF_8))
    private val types = fields.map(_.structField.dataType)
    private val arms: Array[Int] = fields.map(f => armOf(f.enc))
    private val converters: Array[ExpressionEncoder[Row]] = fields.zip(arms).map {
      case (f, Converted) => ExpressionEncoder(AgnosticEncoders.RowEncoder(Seq(f))).resolveAndBind()
      case _ => null
    }

    /** A task's encoder: not thread-safe, its buffer is reused per row. */
    def encoder(): Encoder = new Encoder

    final class Encoder private[RowLines] {
      private val line = new Bytes(256)
      private val deserializers = converters.map(c => if (c == null) null else c.createDeserializer())
      private val one = new GenericInternalRow(1)

      /** The external value of field `i` of `row`, as `Row.get(i)` of
        * the deserialized row holds it: null when the field is null. */
      def external(row: InternalRow, i: Int): Any =
        if (row.isNullAt(i)) null
        else (arms(i): @switch) match {
          case LongArm => java.lang.Long.valueOf(row.getLong(i))
          case IntArm => java.lang.Integer.valueOf(row.getInt(i))
          case ShortArm => java.lang.Short.valueOf(row.getShort(i))
          case ByteArm => java.lang.Byte.valueOf(row.getByte(i))
          case BooleanArm => java.lang.Boolean.valueOf(row.getBoolean(i))
          case DoubleArm => java.lang.Double.valueOf(row.getDouble(i))
          case FloatArm => java.lang.Float.valueOf(row.getFloat(i))
          case StringArm => row.getUTF8String(i).toString
          case TimestampArm => DateTimeUtils.toJavaTimestamp(row.getLong(i))
          case InstantArm => DateTimeUtils.microsToInstant(row.getLong(i))
          case _ =>
            one.update(0, row.get(i, types(i)))
            deserializers(i)(one).get(0)
        }

      /** `row`'s JSON line, without a newline, in a fresh array. */
      def encode(row: InternalRow): Array[Byte] = {
        line.length = 0
        line.append('{')
        var first = true
        var i = 0
        while (i < prefix.length) {
          if (!row.isNullAt(i)) {
            if (!first) line.append(',')
            first = false
            line.append(prefix(i))
            (arms(i): @switch) match {
              case LongArm => line.appendLong(row.getLong(i))
              case IntArm => line.appendLong(row.getInt(i))
              case ShortArm => line.appendLong(row.getShort(i))
              case ByteArm => line.appendLong(row.getByte(i))
              case BooleanArm => line.appendAscii(if (row.getBoolean(i)) "true" else "false")
              case DoubleArm =>
                val d = row.getDouble(i)
                line.appendAscii(if (java.lang.Double.isFinite(d)) java.lang.Double.toString(d) else "null")
              case FloatArm =>
                val f = row.getFloat(i)
                line.appendAscii(if (java.lang.Float.isFinite(f)) java.lang.Float.toString(f) else "null")
              case StringArm => quoteTo(line, row.getUTF8String(i))
              // Timestamp.toString and Instant.toString are ASCII and need no escape
              case TimestampArm | InstantArm =>
                line.append('"'); line.appendAscii(external(row, i).toString); line.append('"')
              case _ =>
                val sb = new java.lang.StringBuilder(64)
                valueTo(sb, external(row, i))
                line.append(sb.toString.getBytes(StandardCharsets.UTF_8))
            }
          }
          i += 1
        }
        line.append('}')
        java.util.Arrays.copyOf(line.bytes, line.length)
      }
    }
  }

  object RowLines {
    private final val LongArm = 0
    private final val IntArm = 1
    private final val ShortArm = 2
    private final val ByteArm = 3
    private final val BooleanArm = 4
    private final val DoubleArm = 5
    private final val FloatArm = 6
    private final val StringArm = 7
    private final val TimestampArm = 8
    private final val InstantArm = 9
    private final val Converted = 10

    /** The format of `df`'s rows, with the encoder `df` deserializes with. */
    def of(df: DataFrame): RowLines =
      new RowLines(AgnosticEncoders.agnosticEncoderFor(df.encoder))

    private def armOf(enc: AgnosticEncoder[_]): Int = enc match {
      case BoxedLongEncoder | PrimitiveLongEncoder => LongArm
      case BoxedIntEncoder | PrimitiveIntEncoder => IntArm
      case BoxedShortEncoder | PrimitiveShortEncoder => ShortArm
      case BoxedByteEncoder | PrimitiveByteEncoder => ByteArm
      case BoxedBooleanEncoder | PrimitiveBooleanEncoder => BooleanArm
      case BoxedDoubleEncoder | PrimitiveDoubleEncoder => DoubleArm
      case BoxedFloatEncoder | PrimitiveFloatEncoder => FloatArm
      case StringEncoder => StringArm
      case _: TimestampEncoder => TimestampArm
      case _: InstantEncoder => InstantArm
      case _ => Converted
    }
  }
}
