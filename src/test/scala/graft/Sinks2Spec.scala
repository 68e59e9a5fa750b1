package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sinks._

class SerializerSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType), StructField("ok", BooleanType)))

  private def row(vs: Any*) = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(vs.toArray, schema)

  test("json serializer matches Spark to_json conventions (order, nulls omitted, escaping)") {
    val s = new JsonRowSerializer
    assert(new String(s.serialize(row(1L, "a\"b", 2.5, true))) ==
      """{"id":1,"name":"a\"b","score":2.5,"ok":true}""")
    assert(new String(s.serialize(row(7L, null, 1.0, false))) ==
      """{"id":7,"score":1.0,"ok":false}""")
  }

  test("json serializer encodes non-finite doubles as null (valid JSON)") {
    val s = new JsonRowSerializer
    assert(new String(s.serialize(row(1L, "n", Double.NaN, true))) ==
      """{"id":1,"name":"n","score":null,"ok":true}""")
    assert(new String(s.serialize(row(2L, "i", Double.PositiveInfinity, false))) ==
      """{"id":2,"name":"i","score":null,"ok":false}""")
  }

  test("binary serializer is deterministic, self-delimiting, and distinguishes values") {
    val s = new BinaryRowSerializer
    val a = s.serialize(row(1L, "x", 2.5, true))
    val b = s.serialize(row(1L, "x", 2.5, true))
    val c = s.serialize(row(1L, "y", 2.5, true))
    assert(a.toSeq == b.toSeq && a.toSeq != c.toSeq)
    assert(new NoOpRowSerializer().serialize(a) eq a)
  }
}

class ConfigSpec extends AnyFunSuite {
  test("retry settings back off exponentially with a cap") {
    val r = WriterRetrySettings(initialBackoff = java.time.Duration.ofMillis(100),
      backoffMultiplier = 2.0, maxBackoff = java.time.Duration.ofMillis(350))
    assert(r.backoffFor(0).toMillis == 100)
    assert(r.backoffFor(1).toMillis == 200)
    assert(r.backoffFor(2).toMillis == 350) // capped
  }
}

class SinkMetricsConcurrencySpec extends AnyFunSuite {
  test("retry loop counts batches and retries exactly from 8 threads") {
    val batches = 3000
    val flaky = (0 until batches).filter(_ % 7 == 3).toSet
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val delivered = new java.util.concurrent.atomic.LongAdder
    val metrics = new SinkMetrics
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val appends = (0 until batches).map { id =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            RetryPolicy.withRetries(WriterRetrySettings(), metrics, sleep = _ => ())(() => {
              // each flaky batch fails its first attempt, transiently
              if (flaky(id) && failed.add(id)) throw RetryPolicy.RetryableException(s"flaky $id")
              delivered.increment()
            })
            metrics.addBatch(0L)
          }
        })
      }
      appends.foreach(_.get())
    } finally pool.shutdown()
    assert(delivered.sum() == batches)
    assert(metrics.batchCount == batches)
    assert(metrics.appendRetries == flaky.size)
  }
}

class RetryBackoffSpec extends AnyFunSuite {
  private val retry = WriterRetrySettings(initialBackoff = java.time.Duration.ofMillis(100),
    backoffMultiplier = 2.0, maxBackoff = java.time.Duration.ofMillis(350))

  /** Runs `op` through the retry loop with a sleeper that only records:
    * each sleep is appended to `events` as `sleep <ms>`. */
  private def run[T](op: () => T, onRecreate: () => Unit = () => ())(
      events: scala.collection.mutable.Buffer[String]): T =
    RetryPolicy.withRetries(retry, sleep = d => events += s"sleep ${d.toMillis}")(op, onRecreate)

  test("transient failures back off 100, 200, then the 350 ms cap") {
    val events = scala.collection.mutable.Buffer.empty[String]
    var attempts = 0
    val r = run(() => {
      attempts += 1
      if (attempts <= 3) throw RetryPolicy.RetryableException("transient")
      42
    })(events)
    assert(r == 42 && attempts == 4)
    assert(events == Seq("sleep 100", "sleep 200", "sleep 350"))
  }

  test("writer-closed failures back off the same, recreating before each retry") {
    val events = scala.collection.mutable.Buffer.empty[String]
    var attempts = 0
    val r = run(() => {
      attempts += 1
      if (attempts <= 3) throw RetryPolicy.WriterClosedException("closed")
      7
    }, onRecreate = () => events += "recreate")(events)
    assert(r == 7 && attempts == 4)
    assert(events == Seq("recreate", "sleep 100", "recreate", "sleep 200", "recreate", "sleep 350"))
  }

  test("a fatal error or a first-try success sleeps nothing") {
    val events = scala.collection.mutable.Buffer.empty[String]
    intercept[IllegalStateException](run(() => throw new IllegalStateException("fatal"))(events))
    assert(run(() => 1)(events) == 1)
    assert(events.isEmpty)
  }
}

class ExactlyOnceStreamingSpec extends AnyFunSuite {
  test("foreachBatch + epoch ledger survives checkpoint replay without duplicates") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val sink = new ExactlyOnceParquetSink(s"$dir/out")

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q1 = mem.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, epoch: Long) => { sink.addBatch(df, epoch); () })
      .start()
    mem.addData(1L, 2L, 3L)
    q1.processAllAvailable()
    mem.addData(4L, 5L)
    q1.processAllAvailable()
    q1.stop()
    assert(sink.read(spark).count() == 5)

    // Replay the last epoch manually (what a post-crash restart does
    // when the sink committed but the checkpoint didn't advance).
    val replayed = sink.addBatch(Seq(4L, 5L).toDF(), sink.committedEpochs().max)
    assert(!replayed)
    assert(sink.read(spark).count() == 5)

    // Restart from the same checkpoint; new data lands in a new epoch.
    val q2 = mem.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, epoch: Long) => { sink.addBatch(df, epoch); () })
      .start()
    mem.addData(6L)
    q2.processAllAvailable()
    q2.stop()
    assert(sink.read(spark).count() == 6)
  }
}

class TimeoutBatcherSpec extends AnyFunSuite {
  test("streaming sequence packing composes from the timeout batcher (token sizes)") {
    // packing on an ingest stream IS byte-greedy batching with token
    // counts as the size: docs keyed by shard, budget as maxBytes,
    // event-time timeout flushing each shard's tail pack
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{FiredBatch, TimedRecord}
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val docs = mem.toDS().map { case (docId, text, ts) =>
      TimedRecord((docId % 2).toString, text, text.trim.split("\\s+").length.toLong, ts)
    }
    val q = graft.streaming.Streams
      .timeoutBatcher(docs, maxCount = Long.MaxValue, maxBytes = 10, timeoutMs = 400)
      .writeStream.format("memory").queryName("spack").outputMode("append").start()
    try {
      val t0 = 1000000L
      def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
      mem.addData(
        (0L, words(4), t0), (2L, words(4), t0 + 10), (4L, words(3), t0 + 20), // 4+4+3 >= 10: pack fires
        (1L, words(11), t0 + 5))                                              // oversized: fires alone
      q.processAllAvailable()
      val fired = spark.table("spack").as[FiredBatch].collect()
      assert(fired.contains(FiredBatch("0", 3, 11, "bytes")))
      assert(fired.contains(FiredBatch("1", 1, 11, "bytes")))
    } finally q.stop()
  }

  test("timeout batcher fires on count and bytes inline, partial batches on timeout") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.TimedRecord]
    import graft.streaming.TimedRecord
    val q = graft.streaming.Streams.timeoutBatcher(mem.toDS(), maxCount = 3, maxBytes = 1000, timeoutMs = 400)
      .writeStream.format("memory").queryName("tb").outputMode("append").start()
    try {
      val t0 = 1000000L // comfortably past epoch 0 (the initial watermark)
      mem.addData(TimedRecord("a", "r", 10, t0), TimedRecord("a", "r", 10, t0 + 10), TimedRecord("a", "r", 10, t0 + 20),
        TimedRecord("a", "r", 10, t0 + 30), // 3 fire on count, 1 pending (timeout armed at t0+430)
        TimedRecord("b", "big", 600, t0), TimedRecord("b", "big", 600, t0 + 5)) // fires on bytes
      q.processAllAvailable()
      val fired = spark.table("tb").as[graft.streaming.FiredBatch].collect()
      assert(fired.contains(graft.streaming.FiredBatch("a", 3, 30, "count")))
      assert(fired.contains(graft.streaming.FiredBatch("b", 2, 1200, "bytes")))

      // advance the event-time watermark past a's 430ms deadline; the
      // following micro-batch fires the pending partial batch
      mem.addData(TimedRecord("c", "tick", 1, t0 + 5000))
      q.processAllAvailable()
      mem.addData(TimedRecord("c", "tick2", 1, t0 + 6000))
      q.processAllAvailable()
      val after = spark.table("tb").as[graft.streaming.FiredBatch].collect()
      assert(after.contains(graft.streaming.FiredBatch("a", 1, 10, "timeout")),
        s"got: ${after.mkString(", ")}")
    } finally q.stop()
  }
}

class GraftSinkSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("writeAtLeastOnce delivers every row distributed, with accumulator metrics") {
    val spark = TestSpark.spark
    val sinkDir = java.nio.file.Files.createTempDirectory("graft-alo").toString
    // transport: one file per append (executor-side, shared tmpfs in local
    // mode); capture the dir as String — Path is not serializable
    val transport: Seq[Array[Byte]] => Unit = { batch =>
      val f = java.nio.file.Paths.get(sinkDir).resolve(java.util.UUID.randomUUID().toString + ".jsonl")
      java.nio.file.Files.write(f, batch.map(new String(_, "UTF-8")).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val df = Tables.events(spark, TestSpark.sf)
      .selectExpr("event_id", "event_type", "user_id")
    val totals = graft.sinks.GraftSink.writeAtLeastOnce(
      df, graft.sinks.TableRef("p", "d", "events"),
      graft.sinks.WriterSettings(maxBatchCount = 64, maxBatchBytes = 1L << 20,
        maxAppendBytes = 1L << 14), transport)
    assert(totals.rows == 1000)
    assert(totals.batches > 0 && totals.bytes > 0)
    // every event written exactly once (at-least-once with no failures)
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.list(java.nio.file.Paths.get(sinkDir)).iterator().asScala
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala).toSeq
    assert(lines.size == 1000)
    val ids = lines.map(l => l.split("\"event_id\":")(1).takeWhile(_.isDigit).toLong).sorted
    assert(ids == (0L until 1000L))
  }
}

class GraftStreamSinkSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("builder facade: exactly-once guarantee dedupes epoch replays end to end") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("gss-eo").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gss-eo-ckpt").toString
    val sink = graft.sinks.GraftStreamSink.newBuilder()
      .withDeliveryGuarantee(graft.sinks.DeliveryGuarantee.ExactlyOnce)
      .withPath(dir)
      .build()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = sink.start(mem.toDF(), ckpt)
    try {
      mem.addData(1L, 2L, 3L)
      q.processAllAvailable()
    } finally q.stop()
    assert(sink.committedEpochs().nonEmpty)
    // replay the committed epoch → no duplicates
    sink.addBatch(Seq(1L, 2L, 3L).toDF(), sink.committedEpochs().max)
    val eo = new graft.sinks.ExactlyOnceParquetSink(dir)
    assert(eo.read(spark).count() == 3)
  }

  test("builder facade: at-least-once guarantee appends through the batched writer") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gss-alo").toString
    val sink = graft.sinks.GraftStreamSink.newBuilder()
      .withDeliveryGuarantee(graft.sinks.DeliveryGuarantee.AtLeastOnce)
      .withTable(graft.sinks.TableRef("p", "d", "t"))
      .withPath(dir)
      .withWriterSettings(graft.sinks.WriterSettings(maxBatchCount = 2))
      .build()
    sink.addBatch(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"), 0L)
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".jsonl"))
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala).toSeq
    assert(lines.size == 3)
    assert(lines.exists(_.contains("\"id\":2")))
  }
}

class WriterPoolSpec extends AnyFunSuite {
  import graft.sinks._

  private class FlakyAppender(stream: String, sunk: java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])],
                              failFirst: Boolean) extends BatchAppender[Int] {
    private var poisoned = failFirst
    var closed = false
    override def append(rows: Seq[Int]): Unit = {
      if (poisoned) { poisoned = false; throw RetryPolicy.WriterClosedException(s"$stream closed") }
      sunk.add(stream -> rows)
    }
    override def close(): Unit = closed = true
  }

  /** No backoff time spent in the suite; `RetryBackoffSpec` checks the sleeps. */
  private def noSleep(d: java.time.Duration): Unit = ()

  test("pool reuses one writer per stream and closes all on shutdown") {
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]()
    val made = scala.collection.mutable.Buffer.empty[FlakyAppender]
    val app = new PooledStreamAppender[Int](s => {
      val w = new FlakyAppender(s, sunk, failFirst = false); made += w; w
    }, sleep = noSleep)
    app.append("s1", Seq(1)); app.append("s2", Seq(2)); app.append("s1", Seq(3))
    assert(app.pool.size == 2 && app.pool.createdCount == 2)
    app.close()
    assert(made.forall(_.closed) && app.pool.size == 0)
    assert(sunk.size() == 3)
  }

  test("writer-closed failures recreate through the pool and the batch is retried") {
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]()
    var first = true
    val app = new PooledStreamAppender[Int](s => {
      val failFirst = first && s == "hot"; first = false
      new FlakyAppender(s, sunk, failFirst)
    }, sleep = noSleep)
    app.append("hot", Seq(7, 8))
    assert(app.pool.recreatedCount == 1)
    assert(app.pool.createdCount == 2) // original + recreated
    assert(sunk.peek() == ("hot" -> Seq(7, 8)))
    assert(app.metrics.appendRetries == 1)
    app.close()
  }
}

class KeyedSinkSpec extends AnyFunSuite {
  test("keyed at-least-once routes every row to its key's stream via pooled writers") {
    val spark = TestSpark.spark
    val sinkDir = java.nio.file.Files.createTempDirectory("graft-keyed").toString
    // per-stream transport: appends land in one file per stream
    val newWriter: String => graft.sinks.BatchAppender[Array[Byte]] = { stream =>
      new graft.sinks.BatchAppender[Array[Byte]] {
        private val f = java.nio.file.Paths.get(sinkDir)
          .resolve(stream.replaceAll("[^a-zA-Z0-9_]", "_") + ".jsonl")
        override def append(rowsB: Seq[Array[Byte]]): Unit =
          java.nio.file.Files.write(f,
            rowsB.map(new String(_, "UTF-8")).mkString("", "\n", "\n").getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
        override def close(): Unit = ()
      }
    }
    val df = Tables.events(spark, TestSpark.sf).selectExpr("event_id", "event_type", "user_id")
    val totals = graft.sinks.GraftSink.writeKeyedAtLeastOnce(
      df, "event_type", graft.sinks.TableRef("p", "d", "events"),
      graft.sinks.WriterSettings(maxBatchCount = 64), newWriter)
    assert(totals.rows == 1000)
    import scala.jdk.CollectionConverters._
    val byStream = java.nio.file.Files.list(java.nio.file.Paths.get(sinkDir)).iterator().asScala
      .map(p => p.getFileName.toString -> java.nio.file.Files.readAllLines(p).size).toMap
    assert(byStream.values.sum == 1000)
    // one stream file per distinct event_type key
    val nTypes = df.select("event_type").distinct().count()
    assert(byStream.size == nTypes, s"streams: ${byStream.keys}")
    // every row carries its stream's key
    byStream.keys.foreach { f =>
      val key = f.stripSuffix("_jsonl").stripSuffix(".jsonl").split("_streams_").last
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(sinkDir).resolve(f)).asScala
      assert(lines.forall(_.contains(s""""event_type":"$key"""")), s"stream $f mixed keys")
    }
  }
}

object KeyedSinkSpec {
  /** Every append the keyed face made, in order: executors run in this
    * JVM in local mode. */
  val appended = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
}

class KeyedSplitSpec extends AnyFunSuite {
  test("keyed at-least-once splits an oversized per-stream batch recursively") {
    val spark = TestSpark.spark
    // eight rows of one key and one serialized length, in one partition
    val df = spark.range(10, 18, 1, 1).selectExpr("'a' AS k", "id", "repeat('x', 20) AS v")
    val rowBytes = new graft.sinks.JsonRowSerializer().serialize(df.head()).length.toLong
    val newWriter: String => graft.sinks.BatchAppender[Array[Byte]] = _ =>
      new graft.sinks.BatchAppender[Array[Byte]] {
        override def append(rows: Seq[Array[Byte]]): Unit =
          KeyedSinkSpec.appended.add(rows.map(new String(_, "UTF-8")))
        override def close(): Unit = ()
      }
    KeyedSinkSpec.appended.clear()
    val totals = graft.sinks.GraftSink.writeKeyedAtLeastOnce(
      df, "k", graft.sinks.TableRef("p", "d", "t"),
      graft.sinks.WriterSettings(maxBatchCount = 8, maxBatchBytes = 1L << 20,
        maxAppendBytes = rowBytes * 5 / 2), newWriter)
    import scala.jdk.CollectionConverters._
    val appends = KeyedSinkSpec.appended.asScala.toSeq
    assert(appends.map(_.size) == Seq(2, 2, 2, 2)) // 8 → 4+4 → 2+2+2+2
    assert(totals.splits == 3 && totals.batches == 4 && totals.rows == 8)
    assert(appends.flatten.map(l => l.split("\"id\":")(1).takeWhile(_.isDigit).toLong).sorted == (10L to 17L))
  }
}

class TimeoutClampSpec extends AnyFunSuite {
  test("a key whose batch anchor lags the watermark flushes instead of crashing") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.TimedRecord
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TimedRecord]
    val q = graft.streaming.Streams.timeoutBatcher(mem.toDS(), maxCount = 10,
        maxBytes = 10000, timeoutMs = 400)
      .writeStream.format("memory").queryName("tclamp").outputMode("append").start()
    try {
      val t0 = 1000000L
      mem.addData(TimedRecord("slow", "r", 10, t0)) // pending batch, timeout armed t0+400
      q.processAllAvailable()
      // hot keys race the watermark far past slow's deadline
      mem.addData(TimedRecord("hot", "r", 10, t0 + 100000))
      q.processAllAvailable()
      // slow receives another record while its anchor+timeout is far
      // behind the watermark: pre-clamp this threw
      // IllegalArgumentException inside setTimeoutTimestamp and killed
      // the whole query
      mem.addData(TimedRecord("slow", "r", 10, t0 + 100001))
      q.processAllAvailable()
      // advance watermark again so the clamped timeout fires
      mem.addData(TimedRecord("tick", "r", 1, t0 + 300000))
      q.processAllAvailable()
      mem.addData(TimedRecord("tick", "r", 1, t0 + 400000))
      q.processAllAvailable()
      val fired = spark.table("tclamp").as[graft.streaming.FiredBatch].collect()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      // both slow records flush through timeout firings — none lost,
      // no crash (the first may fire before the second arrives)
      val slow = fired.filter(_.key == "slow")
      assert(slow.forall(_.reason == "timeout") && slow.map(_.n).sum == 2,
        s"got: ${fired.mkString(", ")}")
    } finally q.stop()
  }
}

object MaxRecordSizeSpec {
  /** Every row either face appended: executors run in this JVM in
    * local mode. */
  val appended = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class MaxRecordSizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val limit = 64L
  /** One partition: a small row, one far over `limit`, another small
    * one; `maxBatchCount = 1` appends each row as soon as it is
    * buffered. */
  private def rows = spark.range(0, 3, 1, 1)
    .selectExpr("'a' AS k", "id", "IF(id = 1, repeat('x', 200), 'ok') AS v")
  private val settings = WriterSettings(maxBatchCount = 1, maxAppendBytes = limit)

  /** The write fails with a `RecordTooLargeException` for the big row,
    * which never reaches the transport; the row before it does. */
  private def assertRejected(write: => GraftSink.Totals): Unit = {
    MaxRecordSizeSpec.appended.clear()
    val failure = intercept[Exception](write)
    val e = Iterator.iterate[Throwable](failure)(_.getCause).takeWhile(_ != null)
      .collectFirst { case r: RecordTooLargeException => r }
      .getOrElse(fail(s"no RecordTooLargeException in the cause chain of $failure"))
    assert(e.size > limit && e.limit == limit)
    import scala.jdk.CollectionConverters._
    val sent = MaxRecordSizeSpec.appended.asScala.toSeq
    assert(sent.exists(_.contains("\"id\":0")) && !sent.exists(_.contains("\"id\":1")), s"sent: $sent")
  }

  test("oversized records are rejected per-record before buffering") {
    assertRejected(GraftSink.writeAtLeastOnce(rows, TableRef("p", "d", "t"), settings,
      batch => batch.foreach(r => MaxRecordSizeSpec.appended.add(new String(r, "UTF-8")))))
  }

  test("the keyed face rejects an oversized record before buffering") {
    assertRejected(GraftSink.writeKeyedAtLeastOnce(rows, "k", TableRef("p", "d", "t"), settings,
      _ => new BatchAppender[Array[Byte]] {
        override def append(batch: Seq[Array[Byte]]): Unit =
          batch.foreach(r => MaxRecordSizeSpec.appended.add(new String(r, "UTF-8")))
        override def close(): Unit = ()
      }))
  }
}

class TimeoutResetSpec extends AnyFunSuite {
  /** Key `a` gets records at t0 and t0 + 300 (timeout 400 ms); the
    * watermark is then advanced through key `tick`, first to t0 + 500,
    * then to t0 + 800. Returns `a`'s fired batches after each step. */
  private def fireTimes(reset: Boolean, name: String): (Seq[graft.streaming.FiredBatch], Seq[graft.streaming.FiredBatch]) = {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{FiredBatch, TimedRecord}
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TimedRecord]
    val q = graft.streaming.Streams.timeoutBatcher(mem.toDS(), maxCount = 10,
        maxBytes = 10000, timeoutMs = 400, resetTimerOnNewRecord = reset)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val t0 = 1000000L
      def step(rs: TimedRecord*): Seq[FiredBatch] = {
        mem.addData(rs: _*)
        q.processAllAvailable()
        spark.table(name).as[FiredBatch].collect().filter(_.key == "a").toSeq
      }
      step(TimedRecord("a", "r", 10, t0))
      step(TimedRecord("a", "r", 10, t0 + 300))
      step(TimedRecord("tick", "r", 1, t0 + 500))
      val mid = step(TimedRecord("tick", "r", 1, t0 + 510))
      step(TimedRecord("tick", "r", 1, t0 + 800))
      val end = step(TimedRecord("tick", "r", 1, t0 + 810))
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      (mid, end)
    } finally q.stop()
  }

  test("without reset, a partial batch times out from the first record") {
    val (mid, end) = fireTimes(reset = false, "treset_off")
    assert(mid == Seq(graft.streaming.FiredBatch("a", 2, 20, "timeout")), s"at t0+500: $mid")
    assert(end == mid)
  }

  test("with reset, each record re-arms the timeout from its own time") {
    val (mid, end) = fireTimes(reset = true, "treset_on")
    assert(mid.isEmpty, s"fired before t0+700: $mid")
    assert(end == Seq(graft.streaming.FiredBatch("a", 2, 20, "timeout")), s"at t0+800: $end")
  }
}
