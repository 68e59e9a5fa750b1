package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks._
import graft.operators.SinkOps

class BatcherSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("greedy kernel fires on count") {
    val ids = Batcher.greedyAssign(Iterator.fill(7)(1L), maxCount = 3, maxBytes = Long.MaxValue).toSeq
    assert(ids == Seq(0, 0, 0, 1, 1, 1, 2))
  }

  test("greedy kernel fires on accumulated bytes (element that crosses the limit closes its own batch)") {
    // reference semantics (BatchTrigger.java:40-48): size added, then fire
    val ids = Batcher.greedyAssign(Iterator(10L, 10L, 90L, 5L, 200L, 1L), maxCount = 100, maxBytes = 100).toSeq
    assert(ids == Seq(0, 0, 0, 1, 1, 2))
  }

  test("assignBatches matches closed-form row_number chunking for count-only batching") {
    val df = Tables.events(spark, TestSpark.sf)
      .withColumn("rec_size", lit(1L))
    val got = Batcher.assignBatches(df, "user_id", "event_id", "rec_size", 100)
      .select($"event_id", $"batch_id")
    val expected = Tables.events(spark, TestSpark.sf)
      .select($"event_id",
        floor((row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"user_id").orderBy($"event_id"))
          - 1) / 100).cast("long").as("batch_id"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("greedy kernel invariants hold on randomized inputs (seeded)") {
    val rnd = new scala.util.Random(0xba7c4)
    for (_ <- 1 to 200) {
      val n = 1 + rnd.nextInt(60)
      val sizes = Vector.fill(n)(1L + rnd.nextInt(120))
      val maxCount = 1L + rnd.nextInt(8)
      val maxBytes = 50L + rnd.nextInt(300)
      val ids = Batcher.greedyAssign(sizes.iterator, maxCount, maxBytes).toVector
      // ids start at 0 and step by at most 1 (no skipped batches)
      assert(ids.head == 0L)
      ids.sliding(2).foreach { case Seq(a, b) => assert(b == a || b == a + 1); case _ => }
      // every batch except possibly the last fired: it hit the count
      // limit or its bytes reached maxBytes (via its closing element)
      val grouped = sizes.zip(ids).groupBy(_._2).toSeq.sortBy(_._1)
      grouped.dropRight(1).foreach { case (_, members) =>
        assert(members.size >= maxCount || members.map(_._1).sum >= maxBytes)
      }
      // no batch exceeds the limits BEFORE its closing element joined
      grouped.foreach { case (_, members) =>
        assert(members.size - 1 < maxCount &&
          members.dropRight(1).map(_._1).sum < maxBytes)
      }
    }
  }

  test("assignBatches respects byte limit per key") {
    val batches = SinkOps.rowsBatchBytes(Tables.events(spark, TestSpark.sf))
    // greedy fire-on-cross: bytes may only exceed maxBytes via the final
    // (firing) record, so bytes-minus-last is always under the limit
    val strictOver = batches.filter($"batch_bytes" - $"last_size" >= SinkOps.MaxBytes)
    assert(batches.count() > 0 && strictOver.count() == 0)
  }
}

class WritersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("exactly-once sink ignores replayed epochs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-eo").toString
    val sink = new ExactlyOnceParquetSink(dir)
    val df = Tables.events(spark, TestSpark.sf).limit(10)
    assert(sink.addBatch(df, 0L))
    assert(sink.addBatch(df, 1L))
    assert(!sink.addBatch(df, 0L)) // replay → no-op
    assert(sink.read(spark).count() == 20)
    assert(sink.committedEpochs() == Set(0L, 1L))
  }

  test("exactly-once sink runs one Spark job per epoch and records its row count") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("graft-eo-jobs").toString
    val sink = new ExactlyOnceParquetSink(dir)
    val sc = spark.sparkContext
    val tag = "graft.test.eo-jobs"
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(t => jobs.merge(t, 1, (a: Integer, b: Integer) => a + b))
    }
    /** Jobs `body` started: a fence job after it is seen last, so every
      * earlier event has reached the listener once the fence has. */
    def jobsOf(name: String)(body: => Unit): Int = {
      sc.setLocalProperty(tag, name)
      try body finally sc.setLocalProperty(tag, s"$name-fence")
      spark.range(1).foreach(_ => ())
      sc.setLocalProperty(tag, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.containsKey(s"$name-fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.containsKey(s"$name-fence"), "listener never saw the fence job")
      jobs.getOrDefault(name, 0)
    }
    def marker(epoch: Long): String = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_graft_commits", s"$epoch.committed"))
    sc.addSparkListener(listener)
    try {
      assert(jobsOf("e0")(assert(sink.addBatch(spark.range(0, 1000, 1, 4).toDF("id"), 0L))) == 1)
      assert(jobsOf("e1")(assert(sink.addBatch(spark.range(0, 37, 1, 2).toDF("id"), 1L))) == 1)
      assert(jobsOf("e2")(assert(sink.addBatch(spark.range(0, 0, 1, 1).toDF("id"), 2L))) == 1)
      assert(jobsOf("replay")(assert(!sink.addBatch(spark.range(0, 5).toDF("id"), 0L))) == 0)
    } finally sc.removeSparkListener(listener)
    // batches the optimizer folds to an empty local relation still commit
    import spark.implicits._
    assert(sink.addBatch(Seq.empty[Long].toDF("id"), 3L))
    assert(sink.addBatch(spark.range(0, 10).toDF("id").filter(lit(false)), 4L))
    assert(marker(0L) == "1000" && marker(1L) == "37" && marker(2L) == "0")
    assert(marker(3L) == "0" && marker(4L) == "0")
    assert(sink.read(spark).count() == 1037)
  }

  test("at-least-once writer splits oversized batches recursively") {
    val appended = scala.collection.mutable.Buffer[Seq[Int]]()
    val m = new SinkMetrics
    GraftSink.splitAppend((1 to 8).toList, (_: Int) => 10L, maxAppendBytes = 25, m)(appended += _)
    assert(appended.forall(b => b.map(_ => 10L).sum <= 25 || b.size == 1))
    assert(appended.flatten.sorted == (1 to 8).toList)
    assert(m.splitBatchCount == 3) // 8 → 4+4 → 2+2+2+2
    assert(m.batchCount == appended.size.toLong)
  }

  /** No backoff time spent in the suite; `RetryBackoffSpec` checks the sleeps. */
  private def noSleep(d: java.time.Duration): Unit = ()

  test("retry policy retries transient failures then succeeds") {
    var attempts = 0
    val r = RetryPolicy.withRetries(WriterRetrySettings(maxRetries = 3), sleep = noSleep)(() => {
      attempts += 1
      if (attempts < 3) throw RetryPolicy.RetryableException("transient")
      42
    })
    assert(r == 42 && attempts == 3)
  }

  test("retry policy recreates writer on writer-closed and gives up on fatal") {
    var recreated = 0
    val r = RetryPolicy.withRetries(WriterRetrySettings(maxRetries = 2), sleep = noSleep)(() => {
      if (recreated == 0) throw RetryPolicy.WriterClosedException("closed")
      7
    }, onRecreate = () => recreated += 1)
    assert(r == 7 && recreated == 1)
    intercept[IllegalStateException] {
      RetryPolicy.withRetries(WriterRetrySettings(maxRetries = 5), sleep = noSleep)(
        () => throw new IllegalStateException("fatal"))
    }
  }

  test("stream state TTL expiry matches reference semantics") {
    val day = 24L * 60 * 60 * 1000
    val st = StreamState("s", 10, lastUpdateMillis = 0)
    assert(!st.expired(7, 7 * day - 1))
    assert(st.expired(7, 7 * day))
    assert(st.advance(5, 123).offset == 15)
  }
}
