package graft

import java.nio.CharBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.JsonLine
import graft.sources.GraftBqDataWriter

/** Reference encoder for graft-bq lines: each row built as a `String`
  * (`getUTF8String(i).toString` decoded, char-escaped by
  * `JsonLine.quoteTo`, numbers by `StringBuilder.append`), then encoded
  * to UTF-8 by a reporting encoder, as a `BufferedWriter` over
  * `Files.newBufferedWriter` did. The byte writer must produce the same
  * bytes for every row. */
final class StringLineWriter(schema: StructType) {
  private val prefix = JsonLine.fieldPrefixes(schema)
  private val types = schema.fields.map(_.dataType)

  def line(record: InternalRow): Array[Byte] = {
    val sb = new java.lang.StringBuilder(256)
    sb.append('{')
    var first = true
    var i = 0
    while (i < prefix.length) {
      if (!record.isNullAt(i)) {
        if (!first) sb.append(',')
        first = false
        sb.append(prefix(i))
        types(i) match {
          case LongType | TimestampType => sb.append(record.getLong(i))
          case IntegerType => sb.append(record.getInt(i))
          case DoubleType =>
            val d = record.getDouble(i)
            if (java.lang.Double.isFinite(d)) sb.append(d) else sb.append('"').append(d).append('"')
          case BooleanType => sb.append(record.getBoolean(i))
          case StringType => JsonLine.quoteTo(sb, record.getUTF8String(i).toString)
          case other => throw new UnsupportedOperationException(s"graft-bq: $other")
        }
      }
      i += 1
    }
    val b = StandardCharsets.UTF_8.newEncoder().encode(CharBuffer.wrap(sb.append("}\n")))
    java.util.Arrays.copyOfRange(b.array(), b.position(), b.limit())
  }
}

object GraftBqWriterSpec {
  /** The file one `GraftBqDataWriter` task writes for `rows`. */
  def written(schema: StructType, rows: Seq[InternalRow]): Array[Byte] = {
    val dir = Files.createTempDirectory("graft-bq-writer")
    try {
      val w = new GraftBqDataWriter(schema, dir.toString, "q", -1L, 0, 0L)
      rows.foreach(w.write)
      val files = w.commit() match { case m: graft.sources.FilesCommitMessage => m.tempFiles }
      files.map(f => Files.readAllBytes(java.nio.file.Paths.get(f))).foldLeft(Array.empty[Byte])(_ ++ _)
    } finally {
      Files.list(dir).iterator().asScala.foreach(Files.delete)
      Files.delete(dir)
    }
  }

  def utf8(s: String): UTF8String = UTF8String.fromString(s)
  def bytes(b: Int*): Array[Byte] = b.map(_.toByte).toArray

  /** The same bytes behind a `long[]` base, as rows in sorter pages hold them. */
  def offHeapShaped(b: Array[Byte]): UTF8String = {
    val words = new Array[Long]((b.length + 7) / 8 + 1)
    Platform.copyMemory(b, Platform.BYTE_ARRAY_OFFSET, words, Platform.LONG_ARRAY_OFFSET + 3, b.length)
    UTF8String.fromAddress(words, Platform.LONG_ARRAY_OFFSET + 3, b.length)
  }
}

class GraftBqWriterDifferentialSpec extends AnyFunSuite {
  import GraftBqWriterSpec._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("s\"q\\b\u0001", StringType), StructField("x", DoubleType),
    StructField("n", IntegerType), StructField("ok", BooleanType), StructField("ts", TimestampType),
    StructField("é😀", StringType)))

  /** Byte-equal per row and for the whole file. */
  private def check(rows: Seq[InternalRow], label: String): Unit = {
    val oracle = new StringLineWriter(schema)
    val want = rows.map(oracle.line)
    val got = written(schema, rows)
    val gotLines = {
      val out = Seq.newBuilder[Array[Byte]]
      var start = 0
      got.indices.foreach(i => if (got(i) == '\n') { out += got.slice(start, i + 1); start = i + 1 })
      assert(start == got.length, s"$label: file ends mid-line")
      out.result()
    }
    assert(gotLines.size == want.size, label)
    gotLines.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(java.util.Arrays.equals(g, w),
        s"$label row $i: got ${new String(g, StandardCharsets.UTF_8)} want ${new String(w, StandardCharsets.UTF_8)}")
    }
  }

  private val invalid: Seq[Array[Byte]] = Seq(
    bytes(0xc0, 0x80), bytes(0xc1, 0xbf), bytes(0xe0, 0x80, 0x80), bytes(0xe0, 0x9f, 0xbf),
    bytes(0xf0, 0x80, 0x80, 0x80), bytes(0xf0, 0x8f, 0xbf, 0xbf), // overlongs
    bytes(0xed, 0xa0, 0x80), bytes(0xed, 0xbf, 0xbf), bytes(0xed, 0xa0, 0xbd, 0xed, 0xb8, 0x80), // encoded surrogates
    bytes(0xe2, 0x82), bytes(0xf0, 0x9f, 0x98), bytes(0xc3), bytes(0xe2), // truncated
    bytes(0xff), bytes(0xfe), bytes(0x80), bytes(0xbf), bytes(0xf5, 0x80, 0x80, 0x80),
    bytes(0xf4, 0x90, 0x80, 0x80), bytes(0xf8, 0x88, 0x80, 0x80, 0x80))

  private val specialDoubles = Seq(Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8dead0000beefL),
    Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, Double.MinPositiveValue,
    java.lang.Double.MIN_NORMAL, java.lang.Double.MIN_NORMAL / 3, -4.9e-322, Double.MaxValue, -Double.MaxValue,
    1e-7, 1e7, 1.0e21, 123456789.0, 0.1, 1.0 / 3)

  private val specialLongs = Seq(Long.MinValue, Long.MaxValue, Int.MinValue.toLong, Int.MaxValue.toLong,
    -1L, 0L, 1L, 9L, 10L, -10L, 99L, 100L, 999999999999999999L, 1000000000000000000L, -1000000000000000000L)

  private def row(id: Long, s: Any, x: Any, n: Any, ok: Any, ts: Any, t: Any): InternalRow =
    new GenericInternalRow(Array[Any](id, s, x, n, ok, ts, t))

  test("every BMP char and surrogate pairs encode as the String writer does") {
    val bmp = (0 until 0x10000).filterNot(c => c >= 0xd800 && c <= 0xdfff)
    val rows = bmp.grouped(61).zipWithIndex.map { case (cps, i) =>
      val sb = new java.lang.StringBuilder
      cps.foreach(sb.appendCodePoint)
      val s = sb.toString
      row(i.toLong, utf8(s), null, null, null, null, if (i % 2 == 0) offHeapShaped(s.getBytes(StandardCharsets.UTF_8)) else null)
    }.toSeq
    val rnd = new scala.util.Random(0x5a9)
    val pairs = (0 until 500).map { i =>
      val sb = new java.lang.StringBuilder
      (0 until 1 + rnd.nextInt(12)).foreach { _ =>
        sb.appendCodePoint(0x10000 + rnd.nextInt(0x100000))
        if (rnd.nextBoolean()) sb.append(Seq("\"", "\\", "\n", "a", "\u0000", "é")(rnd.nextInt(6)))
      }
      row(10000L + i, utf8(sb.toString), null, null, null, null, null)
    }
    check(rows ++ pairs, "bmp")
  }

  test("invalid UTF-8 becomes U+FFFD exactly as toString makes it, wherever it sits") {
    val rows = for ((bad, i) <- invalid.zipWithIndex; (pre, post) <- Seq(("", ""), ("ab\"", "\\cd"),
        ("12345678", "x"), ("€\n", "😀"), ("a" * 17, "\u0001" * 9))) yield {
      val b = pre.getBytes(StandardCharsets.UTF_8) ++ bad ++ post.getBytes(StandardCharsets.UTF_8)
      row(i.toLong, UTF8String.fromBytes(b), null, null, null, null, offHeapShaped(b))
    }
    // and what toString makes of them is the replacement char, not the raw bytes
    assert(written(schema, Seq(row(1L, UTF8String.fromBytes(bytes(0x61, 0xff, 0x62)), null, null, null, null, null)))
      .sameElements("{\"id\":1,\"s\\\"q\\\\b\\u0001\":\"a\uFFFDb\"}\n".getBytes(StandardCharsets.UTF_8)))
    check(rows, "invalid")
  }

  test("control chars, quotes and backslashes at every position of an 8-byte word") {
    val specials = (0 until 0x20).map(_.toChar.toString) ++ Seq("\"", "\\", "\u007f", "é", "中", "😀")
    val rows = for ((sp, i) <- specials.zipWithIndex; lead <- 0 to 17) yield {
      val s = ("x" * lead) + sp + ("y" * ((i + lead) % 11))
      row(i * 100L + lead, utf8(s), null, null, null, null, offHeapShaped(s.getBytes(StandardCharsets.UTF_8)))
    }
    check(rows, "controls")
  }

  test("doubles, longs, ints, booleans, timestamps and nulls (seeded)") {
    val rnd = new scala.util.Random(0xd0b1e)
    def maybe(v: => Any): Any = if (rnd.nextInt(6) == 0) null else v
    val rows = (0 until 5000).map { i =>
      val x = rnd.nextInt(4) match {
        case 0 => specialDoubles(rnd.nextInt(specialDoubles.size))
        case 1 => java.lang.Double.longBitsToDouble(rnd.nextLong())
        case 2 => rnd.nextGaussian() * math.pow(10, rnd.nextInt(40) - 20)
        case _ => math.round(rnd.nextGaussian() * 1e6) / 100.0
      }
      val id = if (rnd.nextBoolean()) specialLongs(rnd.nextInt(specialLongs.size)) else rnd.nextLong() >> rnd.nextInt(64)
      val n = rnd.nextInt(3) match { case 0 => Int.MinValue; case 1 => Int.MaxValue; case _ => rnd.nextInt() >> rnd.nextInt(32) }
      val ts = if (rnd.nextBoolean()) -rnd.nextLong().abs >> rnd.nextInt(40) else specialLongs(rnd.nextInt(specialLongs.size))
      row(id, maybe(utf8(rnd.alphanumeric.take(rnd.nextInt(30)).mkString)), maybe(x), maybe(n),
        maybe(rnd.nextBoolean()), maybe(ts), maybe(utf8("")))
    }
    check(rows :+ row(0L, null, null, null, null, null, null), "numbers")
  }

  test("random strings of valid and invalid bytes over many buffer flushes (seeded)") {
    val rnd = new scala.util.Random(0x5eed)
    val pieces: Seq[Array[Byte]] = invalid ++ Seq("a", "bcdefgh", "\"", "\\", "\n", "\t", "\u0000", "\u001f", "é",
      "€", "😀", " ", "\uFEFF", "x" * 40).map(_.getBytes(StandardCharsets.UTF_8))
    val rows = (0 until 20000).map { i =>
      val b = (0 until rnd.nextInt(40)).flatMap { _ =>
        val p = pieces(rnd.nextInt(pieces.size))
        if (rnd.nextInt(5) == 0) p else pieces(invalid.size + rnd.nextInt(pieces.size - invalid.size))
      }.toArray
      val s = if (rnd.nextBoolean()) UTF8String.fromBytes(b) else offHeapShaped(b)
      row(i.toLong, s, null, null, null, null, if (rnd.nextInt(3) == 0) UTF8String.fromBytes(b.reverse) else null)
    }
    check(rows, "random")
  }

  test("a string longer than the write buffer") {
    val big = "😀\"é\\" * 40000 + "a"
    check(Seq(row(1L, utf8(big), 1.5, 1, true, 0L, offHeapShaped(big.getBytes(StandardCharsets.UTF_8))),
      row(2L, utf8("b"), null, null, null, null, null)), "big")
  }
}

class GraftBqWriteMetricsSpec extends AnyFunSuite {

  /** The executed plan of the next write `run` makes, from a query
    * execution listener (called off the listener bus, so waited for). */
  private def writePlan(run: => Unit): SparkPlan = {
    val spark = TestSpark.spark
    val seen = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.exists(_.metrics.contains(GraftBqDataWriter.BytesWritten))) seen.put(qe.executedPlan)
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      val p = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(p != null, "no graft-bq write plan observed")
      p
    } finally spark.listenerManager.unregister(listener)
  }

  private def metric(plan: SparkPlan, name: String): Long =
    plan.collect { case p if p.metrics.contains(name) => p.metrics(name).value }.sum

  private def jsonl(dir: String): Seq[Path] =
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".jsonl")).toSeq

  test("rows, bytes and files written reach the write node's SQL metrics") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bq-metrics").toString
    val df = (0 until 1000).map(i => (i.toLong, s"name-$i-é\"")).toDF("id", "name").repartition(3)
    val plan = writePlan(df.write.format("graft-bq").mode("append").option("path", dir).save())
    assert(metric(plan, GraftBqDataWriter.RowsWritten) == 1000)
    assert(metric(plan, GraftBqDataWriter.FilesWritten) == jsonl(dir).size && jsonl(dir).size == 3)
    assert(metric(plan, GraftBqDataWriter.BytesWritten) == jsonl(dir).map(Files.size).sum)

    // an overwrite with empty tasks: they write no file and report none
    val plan2 = writePlan(Seq((1L, "a")).toDF("id", "name").repartition(4)
      .write.format("graft-bq").mode("overwrite").option("path", dir).save())
    assert(metric(plan2, GraftBqDataWriter.RowsWritten) == 1)
    assert(metric(plan2, GraftBqDataWriter.FilesWritten) == 1 && jsonl(dir).size == 1)
    assert(metric(plan2, GraftBqDataWriter.BytesWritten) == Files.size(jsonl(dir).head))
  }
}
