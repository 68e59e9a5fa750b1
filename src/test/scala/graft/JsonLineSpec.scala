package graft

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

import graft.sinks.{JsonLine, JsonRowSerializer}

/** The shared JSON-line kernel and its two callers: fixed-string pins of
  * the byte form, then a seeded property over random rows (Jackson parses
  * every serializer line back to the row; graft-bq reads its own lines
  * back to the same rows). */
class JsonLineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val mapper = new ObjectMapper()

  private def esc(s: String): String = {
    val sb = new java.lang.StringBuilder
    JsonLine.escapeTo(sb, s)
    sb.toString
  }

  /** Char-at-a-time statement of the escape rules, the oracle for the
    * bulk-copying kernel. */
  private def naiveEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }

  test("escape pins: control chars, \\b/\\f, quotes, backslashes, surrogate pairs") {
    assert(esc("\u0001") == "\\u0001")
    assert(esc("\u001f") == "\\u001f")
    assert(esc("a\bb\fc") == "a\\u0008b\\u000cc")
    assert(esc("\n\r\t") == "\\n\\r\\t")
    assert(esc("say \"hi\" \\o/") == "say \\\"hi\\\" \\\\o/")
    assert(esc("emoji 😀 中 é") == "emoji 😀 中 é")
    assert(esc("") == "" && esc("plain") == "plain")
    assert(esc("\"") == "\\\"" && esc("x\\") == "x\\\\")
    assert(JsonLine.fieldPrefixes(StructType(Seq(StructField("a\"b", LongType), StructField("c\\d", LongType))))
      .toSeq == Seq("\"a\\\"b\":", "\"c\\\\d\":"))
  }

  test("escape matches the char-at-a-time rules on random strings (seeded)") {
    val rnd = new scala.util.Random(0x150e)
    (1 to 5000).foreach { _ =>
      val s = randomString(rnd)
      assert(esc(s) == naiveEscape(s), s"input ${s.map(_.toInt).mkString(",")}")
    }
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("na\"me", StringType),
    StructField("sc\\ore", DoubleType), StructField("ok", BooleanType),
    StructField("n", IntegerType), StructField("ts", TimestampType)))

  private def row(vs: Any*): Row = new GenericRowWithSchema(vs.toArray, schema)
  private def line(r: Row): String = new String(new JsonRowSerializer().serialize(r), StandardCharsets.UTF_8)

  test("serializer pins: escaped names and values, omitted nulls, NaN as null") {
    assert(line(row(1L, "a\"b\\c\u0001", 2.5, true, 7, null)) ==
      "{\"id\":1,\"na\\\"me\":\"a\\\"b\\\\c\\u0001\",\"sc\\\\ore\":2.5,\"ok\":true,\"n\":7}")
    assert(line(row(null, null, null, null, null, null)) == "{}")
    assert(line(row(2L, "😀", Double.NaN, false, -1, null)) ==
      """{"id":2,"na\"me":"😀","sc\\ore":null,"ok":false,"n":-1}""")
    assert(line(row(3L, null, Double.NegativeInfinity, null, null, new Timestamp(0L))) ==
      "{\"id\":3,\"sc\\\\ore\":null,\"ts\":\"" + new Timestamp(0L) + "\"}")
    assert(line(row(4L, "\b\f", 1e-7, null, null, null)) ==
      "{\"id\":4,\"na\\\"me\":\"\\u0008\\u000c\",\"sc\\\\ore\":1.0E-7}")
  }

  test("serializer lines parse back to the row's values (10k seeded rows)") {
    val rnd = new scala.util.Random(0x7e57)
    val ser = new JsonRowSerializer
    (0 until 10000).foreach { i =>
      val r = randomRow(rnd, i.toLong)
      val text = new String(ser.serialize(r), StandardCharsets.UTF_8)
      val node = mapper.readTree(text)
      schema.fields.indices.foreach { j =>
        val v = node.get(schema(j).name)
        if (r.isNullAt(j)) assert(v == null, text)
        else r.get(j) match {
          case l: Long => assert(v.isIntegralNumber && v.asLong == l, text)
          case n: Int => assert(v.isIntegralNumber && v.asInt == n, text)
          case d: Double if d.isNaN || d.isInfinite => assert(v.isNull, text)
          case d: Double => assert(v.isNumber && v.asDouble == d, text)
          case b: Boolean => assert(v.isBoolean && v.asBoolean == b, text)
          case s: String => assert(v.isTextual && v.asText == s, text)
          case t: Timestamp => assert(v.isTextual && v.asText == t.toString, text)
        }
      }
    }
  }

  test("graft-bq lines read back to the written rows (10k seeded rows)") {
    val rnd = new scala.util.Random(0xb0b)
    val rows = (0 until 10000).map(i => randomRow(rnd, i.toLong))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val dir = java.nio.file.Files.createTempDirectory("graft-bq-prop").toString
    df.write.format("graft-bq").mode("append").option("path", dir).save()
    val back = spark.read.format("graft-bq").option("path", dir).load()
    assert(back.schema == schema)
    // compare with Spark's own view of the input (timestamps at micros)
    val want = df.collect().sortBy(_.getLong(0)).toSeq
    val got = back.collect().sortBy(_.getLong(0)).toSeq
    assert(got.size == want.size)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"read $g, wrote $w") }
  }

  /** Code points from every escape class: ASCII, controls, quote and
    * backslash, Latin-1, BMP and supplementary (surrogate pairs). */
  private def randomString(rnd: scala.util.Random): String = {
    val sb = new java.lang.StringBuilder
    (0 until rnd.nextInt(24)).foreach { _ =>
      val cp = rnd.nextInt(8) match {
        case 0 => rnd.nextInt(0x20)
        case 1 => if (rnd.nextBoolean()) '"'.toInt else '\\'.toInt
        case 2 => 0x80 + rnd.nextInt(0x780)
        case 3 => 0x4e00 + rnd.nextInt(0x1000)
        case 4 => 0x1f600 + rnd.nextInt(0x50)
        case _ => 0x20 + rnd.nextInt(0x5f)
      }
      sb.appendCodePoint(cp)
    }
    sb.toString
  }

  private def randomRow(rnd: scala.util.Random, id: Long): Row = {
    def maybe[T](v: => T): Any = if (rnd.nextInt(8) == 0) null else v
    val d = rnd.nextInt(10) match {
      case 0 => Double.NaN
      case 1 => if (rnd.nextBoolean()) Double.PositiveInfinity else Double.NegativeInfinity
      case 2 => -0.0
      case 3 => rnd.nextDouble() * math.pow(10, rnd.nextInt(40) - 20)
      case _ => math.round(rnd.nextGaussian() * 1e6) / 100.0
    }
    row(id, maybe(randomString(rnd)), maybe(d), maybe(rnd.nextBoolean()),
      maybe(rnd.nextInt()), maybe(new Timestamp(1700000000000L + rnd.nextInt(1 << 30) * 1000L)))
  }
}
