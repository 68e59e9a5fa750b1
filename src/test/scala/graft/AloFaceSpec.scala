package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks._

/** What the at-least-once faces hand their transports, JVM-wide: tasks
  * run in this JVM in local mode. */
object AloFaceSpec {
  val delivered = new ConcurrentLinkedQueue[Array[Byte]]()
  val appends = new ConcurrentLinkedQueue[(String, Seq[Array[Byte]])]()

  val unlimited = WriterSettings(maxBatchCount = 50, maxBatchBytes = 1L << 30, maxAppendBytes = 1L << 30)

  /** Every payload the default face delivers for `df`. */
  def defaultFace(df: DataFrame, settings: WriterSettings = unlimited): Seq[Array[Byte]] = {
    delivered.clear()
    GraftSink.writeAtLeastOnce(df, TableRef("p", "d", "t"), settings, rows => rows.foreach(delivered.add))
    delivered.asScala.toSeq
  }

  /** Every append the keyed face makes for `df` keyed by `key`, with its
    * stream, and the face's totals. */
  def keyedFace(df: DataFrame, key: String, settings: WriterSettings = unlimited)
      : (Seq[(String, Seq[Array[Byte]])], GraftSink.Totals) = {
    appends.clear()
    val totals = GraftSink.writeKeyedAtLeastOnce(df, key, TableRef("p", "d", "t"), settings,
      stream => new BatchAppender[Array[Byte]] {
        override def append(rows: Seq[Array[Byte]]): Unit = appends.add(stream -> rows.toVector)
        override def close(): Unit = ()
      })
    (appends.asScala.toSeq, totals)
  }

  /** Bytes as a string of the same length, for exact comparison. */
  def latin1(b: Array[Byte]): String = new String(b, ISO_8859_1)
}

/** Both faces encode every row to exactly the bytes `JsonRowSerializer`
  * gives the row's external `Row` (the oracle), over seeded frames that
  * cover every arm of the `InternalRow` encoder and the converted fields. */
class AloEncoderDifferentialSpec extends AnyFunSuite {
  import AloFaceSpec._
  private lazy val spark = TestSpark.spark

  /** Sorted payloads of both faces equal the sorted oracle lines of
    * `df.collect()`. */
  private def assertOracle(df: DataFrame, key: String): Unit = {
    val ser = new JsonRowSerializer
    val want = df.collect().map(r => latin1(ser.serialize(r))).sorted.toSeq
    val got = defaultFace(df).map(latin1).sorted
    val keyed = keyedFace(df, key)._1.flatMap(_._2).map(latin1).sorted
    assert(want.nonEmpty)
    for ((name, lines) <- Seq("default" -> got, "keyed" -> keyed)) {
      assert(lines.size == want.size, s"$name face: ${lines.size} payloads for ${want.size} rows")
      val diff = lines.zip(want).find { case (a, b) => a != b }
      assert(diff.isEmpty, s"$name face: ${diff.map { case (a, b) =>
        s"\n got  ${new String(a.getBytes(ISO_8859_1), UTF_8)}\n want ${new String(b.getBytes(ISO_8859_1), UTF_8)}" }}")
    }
  }

  /** Runs `body` with session conf `k` = `v`, then restores it. */
  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Runs `body` under JVM default zone `zone`, then restores it. */
  private def withJvmZone[T](zone: String)(body: => T): T = {
    val old = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone(zone))
    try body finally java.util.TimeZone.setDefault(old)
  }

  test("strings: every BMP char, surrogate pairs, malformed UTF-8, controls, quotes, backslashes") {
    import spark.implicits._
    val bmp = (0 until 256).map(b => new String(Array.tabulate(256)(c => (b * 256 + c).toChar)))
    val pairs = Seq("😀", "a𝄞b", "😀" * 40, "😀\"😀")
    // each char that needs escaping at every offset of an 8-byte word
    val escapes = for (c <- (0 until 0x20).map(_.toChar) ++ Seq('"', '\\'); off <- 0 until 9)
      yield "x" * off + c + "é" * (off % 3) + c + "y" * off
    val strings = (bmp ++ pairs ++ escapes ++ Seq("", " ", "plain"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val malformed = Seq("C328", "A0A1", "E228A1", "F09028BC", "EDA080", "F888808080", "C0AF", "FF",
      "616280", "E282", "22C3", "5CFF5C", "0AC30A", "F4908080", "E0808022")
      .zipWithIndex.map { case (h, i) => (10000L + i, h) }.toDF("id", "h")
      .select($"id", unhex($"h").cast("string").as("s"))
    assertOracle(strings.toDF("id", "s").union(malformed), "s")
  }

  test("numbers: integral min/max, special doubles and floats, exponent decimals, booleans") {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType), StructField("sh", ShortType),
      StructField("b", ByteType), StructField("d", DoubleType), StructField("f", FloatType),
      StructField("dec", DecimalType(38, 18)), StructField("dec0", DecimalType(10, 0)),
      StructField("flag", BooleanType)))
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      Double.MinPositiveValue, 2.2250738585072014E-308, 1e-310, -1e-320, Double.MaxValue, Double.MinValue,
      1e7, 1e-3, 123.456, 1.0 / 3)
    val floats = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f, 0.0f,
      Float.MinPositiveValue, 1e-40f, Float.MaxValue, Float.MinValue, 1e7f, 1e-3f, 0.1f, 1.0f / 3)
    val decimals = Seq("1E-18", "0", "0.000000001", "-1", "12345678901234567890.123456789012345678", "1000")
      .map(new java.math.BigDecimal(_))
    val longs = Seq(Long.MinValue, Long.MaxValue, 0L, -1L, 10L, 999999999999999999L)
    val ints = Seq(Int.MinValue, Int.MaxValue, 0, -1)
    val shorts = Seq(Short.MinValue, Short.MaxValue, 0.toShort)
    val bytes = Seq(Byte.MinValue, Byte.MaxValue, 0.toByte)
    val n = doubles.size
    val rows = (0 until n).map { k =>
      Row(longs(k % longs.size), ints(k % ints.size), shorts(k % shorts.size), bytes(k % bytes.size),
        doubles(k), floats(k % floats.size), decimals(k % decimals.size),
        new java.math.BigDecimal(1000 + k), k % 2 == 0)
    } :+ Row(null, null, null, null, null, null, null, null, null)
    assertOracle(spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema), "l")
  }

  test("decimals with a negative scale print with a positive exponent") {
    withConf("spark.sql.legacy.allowNegativeScaleOfDecimal", "true") {
      val schema = StructType(Seq(StructField("id", LongType), StructField("dn", DecimalType(4, -3))))
      val rows = Seq(Row(1L, new java.math.BigDecimal("1E+3")), Row(2L, new java.math.BigDecimal("-9.999E+6")))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      assert(df.collect().map(_.getDecimal(1).toString).toSeq == Seq("1E+3", "-9.999E+6"))
      assertOracle(df, "id")
    }
  }

  test("dates and timestamps under a non-UTC JVM zone, java8 API off and on") {
    val micros = Seq(
      -14831769600000000L, // 1500-01-01: before the Gregorian switch
      -2717643600000000L, -2717640000000000L, // 1883-11-18 19:00/20:00 UTC: Los Angeles leaves local mean time
      -1L, -1000001L, 0L, // negative, the epoch
      1615715999999999L, 1615716000000000L, // 2021-03-14 10:00 UTC: the spring-forward gap
      1636273800000000L, 1636277400000000L, // 2021-11-07 08:30/09:30 UTC: the repeated hour
      1700000000120000L, 1700000000100000L, 1700000000000001L, 1700000000000000L, // nanos ending in zeros
      253402300799999999L) // 9999-12-31 23:59:59.999999
    withJvmZone("America/Los_Angeles") {
      for (java8 <- Seq("false", "true")) withConf("spark.sql.datetime.java8API.enabled", java8) {
        val df = spark.createDataFrame(spark.sparkContext.parallelize(micros.map(Row(_)), 2),
            StructType(Seq(StructField("us", LongType))))
          .select(col("us"), timestamp_micros(col("us")).as("ts"),
            expr("date_from_unix_date(CAST(floor(us / 86400000000) AS INT))").as("d"),
            expr("CAST(timestamp_micros(us) AS TIMESTAMP_NTZ)").as("ntz"))
        val external = df.head().get(1)
        assert(external.isInstanceOf[java.time.Instant] == java8.toBoolean, s"java8=$java8: ${external.getClass}")
        assertOracle(df, "ts")
      }
    }
  }

  test("binary, array, map, struct and interval columns; nulls; field names that need escaping") {
    val df = spark.range(0, 40, 1, 3).select(
      col("id").as("i\"d"),
      expr("IF(id % 5 = 0, NULL, unhex(repeat(hex(id), CAST(id % 4 AS INT))))").as("bin\\ary"),
      expr("IF(id % 7 = 0, NULL, sequence(0, CAST(id % 4 AS INT)))").as("arr\ny"),
      expr("array(CAST(id AS STRING), NULL, 'q\"\\\\é')").as("strs\u0001"),
      expr("map('k', id, 'é\"', id * 2)").as("mäp"),
      expr("named_struct('a', id, 'b', IF(id % 2 = 0, NULL, 'x\"y'), 'c', array(id))").as("st😀"),
      expr("make_interval(0, 1, 0, CAST(id AS INT), 2, 3, 4.5)").as("cal"),
      expr("INTERVAL '1 02:03:04.5' DAY TO SECOND * id").as("dt"),
      expr("INTERVAL '1-2' YEAR TO MONTH * id").as("ym"),
      expr("IF(id % 3 = 0, NULL, CAST(id AS STRING))").as("\\\""))
    assertOracle(df, "i\"d")
  }

  test("seeded random frames over every fast arm, with nulls") {
    val rnd = new scala.util.Random(20261020)
    val pool = "aé€😀\"\\\n\t\u0001 xyz".toSeq.map(_.toString) :+ "😀"
    def maybe[T](v: => T): Any = if (rnd.nextInt(6) == 0) null else v
    val rows = (0 until 3000).map { i =>
      Row(i.toLong, maybe(rnd.nextLong()), maybe(rnd.nextInt()), maybe((rnd.nextInt(65536) - 32768).toShort),
        maybe(rnd.nextInt(256).toByte), maybe(java.lang.Double.longBitsToDouble(rnd.nextLong())),
        maybe(java.lang.Float.intBitsToFloat(rnd.nextInt())), maybe(rnd.nextBoolean()),
        maybe(Seq.fill(rnd.nextInt(40))(pool(rnd.nextInt(pool.size))).mkString),
        maybe(new java.sql.Timestamp(rnd.nextLong() % 4000000000000L)))
    }
    val schema = StructType(Seq(StructField("id", LongType), StructField("l", LongType),
      StructField("i", IntegerType), StructField("sh", ShortType), StructField("b", ByteType),
      StructField("d", DoubleType), StructField("f", FloatType), StructField("flag", BooleanType),
      StructField("s", StringType), StructField("ts", TimestampType)))
    assertOracle(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema), "b")
  }
}

/** The keyed face names, batches and splits each key's stream as the
  * `Row` loop did, stated here as an oracle over the collected rows. */
class AloKeyedFaceSpec extends AnyFunSuite {
  import AloFaceSpec._
  private lazy val spark = TestSpark.spark
  private val streams = "projects/p/datasets/d/tables/t/streams/"

  /** The appends the `Row` loop made for one partition's `rows`, per
    * stream in order, and its split count. */
  private def rowLoop(rows: Seq[Row], keyIdx: Int, s: WriterSettings): (Map[String, Seq[Seq[String]]], Long) = {
    val ser = new JsonRowSerializer
    val out = mutable.LinkedHashMap.empty[String, mutable.Buffer[Seq[String]]]
    val bufs = mutable.LinkedHashMap.empty[Any, mutable.Buffer[Array[Byte]]]
    val metrics = new SinkMetrics
    def flush(key: Any): Unit = {
      val b = bufs(key)
      if (b.nonEmpty) GraftSink.splitAppend(b.toVector, (r: Array[Byte]) => r.length.toLong,
        s.maxAppendBytes, metrics)(part => out.getOrElseUpdate(streams + key, mutable.Buffer.empty) += part.map(latin1))
      b.clear()
    }
    rows.foreach { r =>
      val key = r.get(keyIdx)
      val b = bufs.getOrElseUpdate(key, mutable.Buffer.empty)
      b += ser.serialize(r)
      if (b.size >= s.maxBatchCount || b.map(_.length.toLong).sum >= s.maxBatchBytes) flush(key)
    }
    bufs.keys.foreach(flush)
    (out.map { case (k, v) => k -> v.toSeq }.toMap, metrics.splitBatchCount)
  }

  /** One partition, so each stream's appends come in row order. */
  private def assertLikeRowLoop(df: DataFrame, key: String): Unit = {
    val s = WriterSettings(maxBatchCount = 6, maxBatchBytes = 400, maxAppendBytes = 150)
    val one = df.coalesce(1)
    val (want, wantSplits) = rowLoop(one.collect().toSeq, one.schema.fieldIndex(key), s)
    val (got, totals) = keyedFace(one, key, s)
    val byStream = got.groupBy(_._1).map { case (k, v) => k -> v.map(_._2.map(latin1)) }
    assert(byStream.keySet == want.keySet)
    want.foreach { case (stream, appends) => assert(byStream(stream) == appends, s"stream $stream") }
    assert(totals.splits == wantSplits && wantSplits > 0)
    assert(totals.rows == df.count())
  }

  private def frame = spark.range(0, 300, 1, 3).select(
    col("id"), (col("id") % 7).as("k"),
    expr("repeat('é', CAST(id % 23 AS INT))").as("v"),
    expr("CASE WHEN id % 5 = 0 THEN NULL WHEN id % 3 = 0 THEN CAST(unhex('C328') AS STRING) " +
      "WHEN id % 3 = 1 THEN CAST(unhex('A0A1') AS STRING) ELSE 'plain' END").as("sk"),
    expr("timestamp_micros((id % 4) * 1000000 - 1)").as("tk"),
    expr("IF(id % 4 = 0, NULL, id % 2)").as("nk"))

  test("long keys: streams named by the key, appends and splits as the Row loop") {
    assertLikeRowLoop(frame, "k")
    assert(appends.asScala.map(_._1).toSet == (0 until 7).map(k => s"$streams$k").toSet)
  }

  test("string keys, malformed UTF-8 included, name their streams by the decoded string") {
    assertLikeRowLoop(frame, "sk")
    assert(appends.asScala.map(_._1).toSet == Set("\uFFFD(", "\uFFFD\uFFFD", "plain", "null").map(streams + _))
  }

  test("timestamp keys name their streams by Timestamp.toString") {
    assertLikeRowLoop(frame, "tk")
    assert(appends.asScala.map(_._1).toSet == Seq(-1L, 999999L, 1999999L, 2999999L)
      .map(us => streams + org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(us)).toSet)
  }

  test("null keys share one stream named null") {
    assertLikeRowLoop(frame, "nk")
    assert(appends.asScala.map(_._1).toSet == Set(s"${streams}null", s"${streams}0", s"${streams}1"))
  }

  test("a binary key column is rejected on the driver, naming the column and its type") {
    val df = spark.range(0, 10).selectExpr("id", "unhex(hex(id % 2)) AS bk")
    var err: Throwable = null
    assert(TestSpark.jobsOf { err = intercept[IllegalArgumentException](keyedFace(df, "bk")) } == 0)
    assert(err.getMessage.contains("`bk`") && err.getMessage.contains("BINARY"), err.getMessage)
  }
}

/** Each face is still one SQL execution of one Spark job, as
  * `Dataset.foreachPartition` ran it. */
class AloFaceJobsSpec extends AnyFunSuite {
  import AloFaceSpec._
  private lazy val spark = TestSpark.spark

  test("each at-least-once face runs exactly one Spark job") {
    val df = spark.range(0, 1000, 1, 4).selectExpr("id", "id % 13 AS k", "CAST(id AS STRING) AS s")
    assert(TestSpark.jobsOf(defaultFace(df)) == 1)
    assert(TestSpark.jobsOf(keyedFace(df, "k")) == 1)
  }
}

/** The builder's default transport writes each append's payloads, joined
  * and ended by `\n`, byte for byte. */
class FileTransportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the file transport writes the joined payloads unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-file-transport")
    val sink = GraftStreamSink.newBuilder()
      .withDeliveryGuarantee(DeliveryGuarantee.AtLeastOnce)
      .withPath(dir.toString)
      .withWriterSettings(WriterSettings(maxBatchCount = 1000))
      .build()
    val df = spark.range(0, 60, 1, 1).select(col("id"),
      expr("CASE id % 4 WHEN 0 THEN CAST(unhex('C328') AS STRING) WHEN 1 THEN 'é€😀\"\\\\\n' WHEN 2 THEN NULL " +
        "ELSE repeat('x', CAST(id AS INT)) END").cast("string").as("s"))
    sink.addBatch(df, 0L)
    val files = java.nio.file.Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".jsonl")).toSeq
    assert(files.size == 1)
    val ser = new JsonRowSerializer
    val want = df.collect().flatMap(r => ser.serialize(r) :+ '\n'.toByte)
    assert(java.nio.file.Files.readAllBytes(files.head).sameElements(want))
  }
}

/** A streaming `graft-bq` query reports its last committed epoch's rows,
  * files and bytes in `StreamingQueryProgress.sink.metrics`. */
class GraftBqSinkMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def jsonlBytes(dir: String, epoch: Long): (Long, Long) = {
    val committed = java.nio.file.Paths.get(dir, "_committed")
    val manifest = java.nio.file.Files.list(committed).iterator().asScala
      .find(_.getFileName.toString.endsWith(s"-epoch-$epoch")).get
    val files = new String(java.nio.file.Files.readAllBytes(manifest), UTF_8).split("\n").filter(_.nonEmpty)
    (files.length.toLong, files.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(dir, f))).sum)
  }

  test("progress carries the last committed epoch, its rows, files and bytes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-bq-sink-metrics").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bq-sink-metrics-ckpt").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "name").writeStream
      .format("graft-bq").option("path", dir).option("checkpointLocation", ckpt).start()
    def progressOf(epoch: Long): java.util.Map[String, String] = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var found: Option[java.util.Map[String, String]] = None
      while (found.isEmpty && System.nanoTime() < deadline) {
        found = q.recentProgress.map(_.sink.metrics).find(_.get("committed_epoch") == epoch.toString)
        if (found.isEmpty) Thread.sleep(20)
      }
      found.getOrElse(fail(s"no progress reported epoch $epoch: ${q.recentProgress.map(_.sink.metrics).toSeq}"))
    }
    try {
      mem.addData((1L, "a"), (2L, "é\"b"), (3L, "c"))
      q.processAllAvailable()
      val m0 = progressOf(0)
      val (files0, bytes0) = jsonlBytes(dir, 0)
      assert(m0.get("rows_written") == "3")
      assert(m0.get("files_written") == files0.toString && files0 > 0)
      assert(m0.get("bytes_written") == bytes0.toString && bytes0 > 0)
      mem.addData((4L, "d"))
      q.processAllAvailable()
      val m1 = progressOf(1)
      assert(m1.get("rows_written") == "1")
      assert(m1.get("bytes_written") == jsonlBytes(dir, 1)._2.toString)
    } finally q.stop()
  }

  test("a replayed epoch leaves the reported metrics as they were") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val dir = java.nio.file.Files.createTempDirectory("graft-bq-sink-replay").toString
    val table = new graft.sources.GraftBqTable(schema, dir)
    val write = table.newWriteBuilder(new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() = org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
      override def queryId() = "replay"
      override def schema() = StructType(Seq(StructField("id", LongType)))
    }).build().toStreaming
    def epoch(id: Long, rows: Int) = {
      val w = new graft.sources.GraftBqDataWriter(schema, dir, "replay", id, 0, id)
      (0 until rows).foreach(i => w.write(org.apache.spark.sql.catalyst.InternalRow(i.toLong)))
      Array[org.apache.spark.sql.connector.write.WriterCommitMessage](w.commit())
    }
    assert(table.metrics().isEmpty)
    write.commit(0L, epoch(0L, 2))
    write.commit(1L, epoch(1L, 5))
    val after1 = new java.util.HashMap(table.metrics())
    assert(after1.get("committed_epoch") == "1" && after1.get("rows_written") == "5")
    assert(after1.get("files_written") == "1" && after1.get("bytes_written") == (0 until 5).map(i => s"""{"id":$i}""".length + 1).sum.toString)
    write.commit(0L, epoch(0L, 7))
    assert(table.metrics() == after1)
  }
}
