package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.GraftBqPartitionReader

/** Reference decoder for graft-bq lines: each line decoded to a `String`
  * by `Files.lines`, parsed whole by `readTree`, filtered on the tree
  * and coerced with `asLong`/`asInt`/`asDouble`/`asBoolean`/`asText`.
  * The streaming byte reader must agree with it on every valid-UTF-8
  * file: same rows, same drop count, same throw or no-throw. A pushed
  * comparison never throws: a float past double range (`1e400`) reads
  * as ±Infinity and compares by its sign in a DOUBLE column; elsewhere
  * it has no decimal value and is left to the residual filter. */
final class TreeLineReader(schema: StructType, file: String, permissive: Boolean,
                           pushed: Array[Filter]) extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  private val lines = Files.lines(Paths.get(file))
  private val it = lines.iterator()
  private var current: InternalRow = _
  var dropped = 0L

  private def cmp(node: JsonNode, attr: String, lit: Any): Option[Int] = {
    val v = node.get(attr)
    if (v == null || v.isNull) None
    else lit match {
      case n: java.lang.Number =>
        if (!v.isNumber) None
        else if (v.isFloatingPointNumber && !java.lang.Double.isFinite(v.doubleValue()))
          // a float past double range: by its sign in a DOUBLE column, undecided elsewhere
          if (schema.fields.exists(f => f.name == attr && f.dataType == DoubleType)) Some(math.signum(v.doubleValue()).toInt)
          else None
        else Some(v.decimalValue().compareTo(new java.math.BigDecimal(n.toString)))
      case s: String =>
        if (!v.isTextual) None
        else Some(UTF8String.fromString(v.asText()).compareTo(UTF8String.fromString(s)))
      case b: java.lang.Boolean =>
        if (!v.isBoolean) None
        else Some(java.lang.Boolean.compare(v.asBoolean(), b))
      case _ => None
    }
  }

  private def passes(node: JsonNode): Boolean =
    pushed.forall {
      case EqualTo(a, v) => cmp(node, a, v).forall(_ == 0)
      case GreaterThan(a, v) => cmp(node, a, v).forall(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(node, a, v).forall(_ >= 0)
      case LessThan(a, v) => cmp(node, a, v).forall(_ < 0)
      case LessThanOrEqual(a, v) => cmp(node, a, v).forall(_ <= 0)
      case IsNull(a) => val x = node.get(a); x == null || x.isNull
      case IsNotNull(a) => val x = node.get(a); x != null && !x.isNull
      case _ => true
    }

  @scala.annotation.tailrec
  override def next(): Boolean = {
    if (!it.hasNext) return false
    val line = it.next()
    val parsed = try Some(mapper.readTree(line)) catch {
      case e: Exception => if (permissive) None else throw e
    }
    parsed match {
      case None => dropped += 1; next()
      case Some(node) if !node.isObject =>
        if (permissive) { dropped += 1; next() }
        else throw new java.io.IOException(s"non-object JSON line in $file")
      case Some(node) if !passes(node) => next()
      case Some(node) =>
        val values = schema.fields.map { f =>
          val v = node.get(f.name)
          if (v == null || v.isNull) null
          else f.dataType match {
            case LongType | TimestampType => v.asLong(): java.lang.Long
            case IntegerType => v.asInt(): java.lang.Integer
            case DoubleType => v.asDouble(): java.lang.Double
            case BooleanType => v.asBoolean(): java.lang.Boolean
            case StringType => UTF8String.fromString(v.asText())
            case other => throw new UnsupportedOperationException(s"$other")
          }
        }
        current = InternalRow.fromSeq(values.toIndexedSeq)
        true
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}

object GraftBqReaderSpec {
  final case class Outcome(rows: Seq[Seq[String]], dropped: Long, threw: Boolean)

  /** Every row a reader yields (copied: readers may reuse the row), its
    * drop count and whether it threw. Values print with their type so
    * NaN, -0.0 and 1 vs 1L compare exactly. */
  def drain(r: PartitionReader[InternalRow], schema: StructType, dropped: => Long): Outcome = {
    val rows = mutable.ArrayBuffer.empty[Seq[String]]
    val threw = try {
      while (r.next()) rows += r.get().copy().toSeq(schema).map(v => if (v == null) "null" else s"${v.getClass.getSimpleName}:$v")
      false
    } catch { case _: Exception => true } finally r.close()
    Outcome(rows.toSeq, dropped, threw)
  }

  def byteReader(schema: StructType, f: Path, permissive: Boolean, filters: Array[Filter] = Array.empty): Outcome = {
    val r = new GraftBqPartitionReader(schema, f.toString, permissive, filters)
    drain(r, schema, r.currentMetricsValues().head.value())
  }

  def treeReader(schema: StructType, f: Path, permissive: Boolean, filters: Array[Filter] = Array.empty): Outcome = {
    val r = new TreeLineReader(schema, f.toString, permissive, filters)
    drain(r, schema, r.dropped)
  }
}

class GraftBqReaderDifferentialSpec extends AnyFunSuite {
  import GraftBqReaderSpec._

  private val full = StructType(Seq(
    StructField("id", LongType), StructField("n", IntegerType), StructField("x", DoubleType),
    StructField("ok", BooleanType), StructField("s", StringType), StructField("ts", TimestampType)))
  private val pruned = StructType(Seq(full("id"), full("s")))
  private val empty = StructType(Nil)

  private val values = Seq(
    // integers: int, long, big, negative zero
    "0", "7", "-3", "8", "2147483647", "2147483648", "-2147483649", "9223372036854775807",
    "-9223372036854775808", "9223372036854775808", "123456789012345678901234567890", "-0",
    // floats, including ones a double cannot hold
    "1.5", "-0.0", "0.0", "0.1", "3.0", "1e3", "1E-7", "2.5e+2", "7.0000000000000001", "1e400", "-1e400",
    // strings: numeric, non-finite, boolean-looking, escaped, multi-byte
    "\"a\"", "\"c\"", "\"8\"", "\" 9\"", "\"-12\"", "\"1.5\"", "\"9223372036854775808\"", "\"NaN\"",
    "\"Infinity\"", "\"true\"", "\"\"", "\"q\\\"uote\\\\ \\n\\t\\u0001\\/\"", "\"\\ud83d\\ude00\"",
    "\"\\ud800\"", "\"😀 中 é\"", "\"\uFEFF\"", "\"€€€\"",
    // booleans, null, nested values
    "true", "false", "null", "{}", "[]", "[1,\"x\",null]", "{\"a\":1,\"b\":[1,2,{\"c\":\"d\"}]}",
    "[[[[{\"z\":[true]}]]]]")
  private val corruptValues = Seq("tru", "01", "\"unterminated", "NaN", "1.2.3", "\"bad\\x\"",
    "\"tab\there\"", "{\"a\":}", "[1,", "+1", ".5")
  private val names = Seq("id", "n", "x", "ok", "s", "ts", "extra", "blob", "nested")
  private val terminators = Seq("\n", "\r\n", "\r")

  private def ws(rnd: scala.util.Random): String =
    if (rnd.nextInt(6) == 0) Seq(" ", "  ", "\t", " \t ")(rnd.nextInt(4)) else ""

  private def objectLine(rnd: scala.util.Random, corrupt: Boolean): String = {
    val fields = mutable.ArrayBuffer.empty[String]
    rnd.shuffle(names).take(rnd.nextInt(names.size + 1)).foreach { k =>
      val v = if (corrupt && rnd.nextInt(4) == 0) corruptValues(rnd.nextInt(corruptValues.size))
        else values(rnd.nextInt(values.size))
      fields += s"${ws(rnd)}\"$k\"${ws(rnd)}:${ws(rnd)}$v${ws(rnd)}"
      if (rnd.nextInt(10) == 0) fields += s"\"$k\":${values(rnd.nextInt(values.size))}" // duplicate key
    }
    if (rnd.nextInt(80) == 0) // longer than the read buffer, 3-byte chars split across refills
      fields += s"\"${if (rnd.nextBoolean()) "blob" else "s"}\":\"${"€" * (25000 + rnd.nextInt(50000))}a\""
    val obj = s"${ws(rnd)}{${fields.mkString(",")}}"
    rnd.nextInt(20) match {
      case 0 => obj + Seq(" xyz", "}", " {\"id\":1}", ",", "é garbage", "]")(rnd.nextInt(6)) // ignored trailing tokens
      case 1 if corrupt => // cut short, never inside a surrogate pair
        val cut = obj.take(rnd.nextInt(obj.length max 1))
        if (cut.nonEmpty && Character.isHighSurrogate(cut.last)) cut.init else cut
      case _ => obj
    }
  }

  /** `lines` seeded lines; `oddLines` adds empty and non-object lines,
    * `corruptShare` percent of lines are corrupt. */
  private def corpus(seed: Long, lines: Int, corruptShare: Int, oddLines: Boolean = true): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val sb = new java.lang.StringBuilder
    (0 until lines).foreach { i =>
      val corrupt = corruptShare > 0 && rnd.nextInt(100) < corruptShare
      val line = (if (oddLines) rnd.nextInt(100) else 100) match {
        case k if k < 4 => "" // empty line
        case k if k < 8 => Seq("[1,2,3]", "7", "\"s\"", "null", "true", "  ", "7 {\"id\":1}")(rnd.nextInt(7))
        case k if k < 10 && corrupt => Seq("NOT-JSON", "{\"id\":", "{\"id\":1,}", "{'id':1}", "{id:1}",
          "\uFEFF{\"id\":1}", "\u0000{\"id\":1}", "\u0000\u0000", "[1,")(rnd.nextInt(9))
        case _ => objectLine(rnd, corrupt)
      }
      sb.append(line)
      if (i < lines - 1 || rnd.nextBoolean()) sb.append(terminators(rnd.nextInt(terminators.size)))
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private val filterSets: Seq[Array[Filter]] = {
    val lits: Seq[Any] = Seq(7L, 8L, -3L, 3, 1.5, 0.1, 0.0, -0.0, 1000.0, 1e-7, 2147483648L, new java.math.BigDecimal("2.50"),
      1.5f, (5: Short), "a", "8", "", "😀", true, false)
    val attrs = Seq("id", "n", "x", "ok", "s", "ts", "extra", "nothere")
    val forms: Seq[(String, Any) => Filter] = Seq(EqualTo(_, _), GreaterThan(_, _), GreaterThanOrEqual(_, _),
      LessThan(_, _), LessThanOrEqual(_, _))
    val rnd = new scala.util.Random(0xf11e)
    // every form at the boundaries: ±0.0 and a float on a double, longs on a long
    val boundaries = for (f <- forms; (a, lit) <- Seq("x" -> 0.0, "x" -> -0.0, "x" -> 1.5, "id" -> 8L, "n" -> 7))
      yield Array[Filter](f(a, lit))
    Seq(Array.empty[Filter]) ++ attrs.flatMap(a => Seq(Array[Filter](IsNull(a)), Array[Filter](IsNotNull(a)))) ++
      boundaries ++ (0 until 40).map { _ =>
        Array.fill(1 + rnd.nextInt(2))(forms(rnd.nextInt(forms.size))(attrs(rnd.nextInt(attrs.size)),
          lits(rnd.nextInt(lits.size))))
      }
  }

  /** Both readers over `bytes` for every schema, filter set and mode;
    * returns the reference outcomes keyed by (schema, filters, permissive). */
  private def check(bytes: Array[Byte], label: String): Map[(StructType, Seq[Filter], Boolean), Outcome] = {
    val f = Files.createTempFile("graft-bq-diff", ".jsonl")
    try {
      Files.write(f, bytes)
      (for (schema <- Seq(full, pruned, empty); filters <- filterSets; permissive <- Seq(true, false)) yield {
        val want = treeReader(schema, f, permissive, filters)
        val got = byteReader(schema, f, permissive, filters)
        assert(got == want, s"$label schema=${schema.fieldNames.mkString(",")} " +
          s"filters=${filters.mkString(",")} permissive=$permissive")
        (schema, filters.toSeq, permissive) -> want
      }).toMap
    } finally Files.delete(f)
  }

  test("byte reader matches the tree decoder on clean corpora (seeded)") {
    (1 to 3).foreach { seed =>
      val all = check(corpus(seed, 400, corruptShare = 0, oddLines = false), s"objects seed $seed")
      // objects only: failfast reads every line, and filters do drop rows
      val failfast = all((full, Nil, false))
      assert(!failfast.threw && failfast.dropped == 0 && failfast.rows.size == 400)
      assert(all.values.count(o => !o.threw && o.rows.size < 400) > 20)
    }
    (4 to 6).foreach { seed =>
      val all = check(corpus(seed, 400, corruptShare = 0), s"clean seed $seed")
      assert(all((pruned, Nil, true)).dropped > 0 && all((pruned, Nil, false)).threw)
    }
  }

  test("byte reader matches the tree decoder on corrupt corpora (seeded)") {
    (11 to 14).foreach(seed => check(corpus(seed, 400, corruptShare = 15), s"corrupt seed $seed"))
    // one corrupt line late in the file: failfast yields the rows before it
    (21 to 22).foreach { seed =>
      val clean = corpus(seed, 300, corruptShare = 0, oddLines = false)
      val sep = if (clean.last == '\n' || clean.last == '\r') "" else "\n"
      val all = check(clean ++ s"$sep{\"id\":1,\"s\":\"x\"\n{\"id\":2}\n".getBytes(StandardCharsets.UTF_8),
        s"late corrupt seed $seed")
      val failfast = all((full, Nil, false))
      assert(failfast.threw && failfast.rows.size == 300)
      assert(all((full, Nil, true)) == Outcome(failfast.rows :+ Seq("Long:2", "null", "null", "null", "null", "null"),
        1, threw = false))
    }
  }

  test("a leading BOM or NUL byte makes a line corrupt for both readers") {
    Seq("\uFEFF{\"id\":1}\n{\"id\":2}\n", "\u0000{\"id\":1}\n{\"id\":2}").foreach { c =>
      val all = check(c.getBytes(StandardCharsets.UTF_8), s"case ${c.map(_.toInt)}")
      assert(all((full, Nil, true)) == Outcome(Seq(Seq("Long:2", "null", "null", "null", "null", "null")), 1, threw = false))
      assert(all((full, Nil, false)).threw)
    }
  }

  test("a float past double range never fails a pushed filter, in a DOUBLE column or elsewhere") {
    val text = "{\"id\":1,\"x\":1e400}\n{\"id\":2,\"x\":-1e400}\n{\"id\":3,\"x\":1.5}\n{\"id\":1e400,\"x\":0.5}\n"
    val all = check(text.getBytes(StandardCharsets.UTF_8), "1e400")
    assert(all.values.forall(!_.threw))
    val f = Files.createTempFile("graft-bq-inf", ".jsonl")
    try {
      Files.write(f, text.getBytes(StandardCharsets.UTF_8))
      def ids(filter: Filter, schema: StructType = full): Seq[String] =
        byteReader(schema, f, permissive = false, Array(filter)).rows.map(_.head)
      // +Infinity is above and -Infinity below every finite literal
      assert(ids(GreaterThan("x", 1.0)) == Seq("Long:1", "Long:3"))
      assert(ids(LessThan("x", 1.0)) == Seq("Long:2", "Long:9223372036854775807"))
      assert(ids(GreaterThan("x", 1L)) == Seq("Long:1", "Long:3"))
      // no decimal value outside a DOUBLE column: left to the residual filter
      assert(ids(GreaterThan("id", 5L)) == Seq("Long:9223372036854775807"))
      assert(ids(GreaterThan("x", 1.0), pruned) == Seq("Long:1", "Long:2", "Long:3"))
      val spark = TestSpark.spark
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-bq-inf")
      Seq((0L, 0.0)).toDF("id", "x").write.format("graft-bq").mode("append").option("path", dir.toString).save()
      val data = Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".jsonl")).next()
      Files.write(data, text.getBytes(StandardCharsets.UTF_8))
      val df = spark.read.format("graft-bq").option("path", dir.toString).load()
      assert(df.filter($"x" > 1.0).as[(Long, Double)].collect().sorted.toSeq ==
        Seq((1L, Double.PositiveInfinity), (3L, 1.5)))
    } finally Files.delete(f)
  }

  test("line boundaries: LF, CRLF, lone CR, empty lines, last line without a newline") {
    val cases = Seq("", "\n", "\r", "\r\n", "\n\n", "\r\r\n\n", "{\"id\":1}", "{\"id\":1}\r",
      "{\"id\":1}\r\n{\"id\":2}\r{\"id\":3}\n{\"id\":4}", "\r\n{\"id\":1}\n\r{\"id\":2}\r\r")
    cases.foreach(c => check(c.getBytes(StandardCharsets.UTF_8), s"case ${c.map(_.toInt)}"))
  }
}

class GraftBqUtf8Spec extends AnyFunSuite {
  import GraftBqReaderSpec._

  private val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType),
    StructField("t", StringType)))

  private def strictlyValid(b: Array[Byte]): Boolean =
    try { StandardCharsets.UTF_8.newDecoder().decode(java.nio.ByteBuffer.wrap(b)); true }
    catch { case _: java.nio.charset.CharacterCodingException => false }

  private def file(bytes: Array[Byte]*): Path = {
    val f = Files.createTempFile("graft-bq-utf8", ".jsonl")
    Files.write(f, bytes.reduce(_ ++ _))
    f
  }
  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)

  test("an invalid UTF-8 line is one corrupt line, in any column and any projection") {
    val bad = Seq(Array(0xff, 0xfe), Array(0xc0, 0x80), Array(0xed, 0xa0, 0x80), Array(0xf4, 0x90, 0x80, 0x80),
      Array(0xe2, 0x82), Array(0x80), Array(0xf8, 0x88, 0x80, 0x80, 0x80)).map(_.map(_.toByte))
    val good = Seq(Array(0xe2, 0x82, 0xac), Array(0xf0, 0x9f, 0x98, 0x80), Array(0xc3, 0xa9)).map(_.map(_.toByte))
    for (seq <- bad ++ good; where <- Seq("s", "t", "trailing")) {
      val line2 = where match {
        case "trailing" => ascii("{\"id\":2,\"s\":\"b\"} ") ++ seq
        case col => ascii(s"{\"id\":2,\"$col\":\"b") ++ seq ++ ascii("\"}")
      }
      val f = file(ascii("{\"id\":1,\"s\":\"a\"}\n"), line2, ascii("\n{\"id\":3,\"s\":\"c\"}\n"))
      val valid = strictlyValid(line2)
      assert(valid == good.contains(seq), seq.toSeq)
      for (projection <- Seq(schema, StructType(Seq(schema("id"))), StructType(Nil))) {
        val label = s"${seq.map(b => f"${b & 0xff}%02x").mkString} in $where, ${projection.fieldNames.toSeq}"
        val perm = byteReader(projection, f, permissive = true)
        assert(!perm.threw && perm.rows.size == (if (valid) 3 else 2), label)
        assert(perm.dropped == (if (valid) 0 else 1), label)
        val fast = byteReader(projection, f, permissive = false)
        assert(fast.threw == !valid, label)
        assert(fast.rows.size == (if (valid) 3 else 1), label)
        // a filter that would drop the bad line does not hide it
        val filtered = byteReader(projection, f, permissive = false, Array(EqualTo("id", 3L)))
        assert(filtered.threw == !valid, label)
      }
      Files.delete(f)
    }
  }

  test("permissive scan keeps the valid lines of a file with an invalid UTF-8 line") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bq-utf8").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name").coalesce(1)
      .write.format("graft-bq").mode("append").option("path", dir).save()
    val data = Files.list(Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".jsonl")).next()
    val lines = Files.readAllLines(data).asScala
    Files.write(data, ascii(lines(0) + "\n") ++ ascii("{\"id\":9,\"name\":\"") ++
      Array(0xff, 0xfe).map(_.toByte) ++ ascii("\"}\n" + lines.drop(1).mkString("", "\n", "\n")))
    graft.sources.GraftBqMetrics.droppedLines.reset()
    val ok = spark.read.format("graft-bq").option("path", dir).option("mode", "permissive").load()
    assert(ok.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(graft.sources.GraftBqMetrics.droppedLines.sum() == 1)
    assert(ok.select("id").count() == 3)
    intercept[Exception](spark.read.format("graft-bq").option("path", dir).load().collect())
  }
}
