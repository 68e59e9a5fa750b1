package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

class GraftBqSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("batch write + read back through the V2 commit protocol") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bq").toString
    val df = Seq((1L, "a\"quote", 1.5, true), (2L, "b", 2.5, false))
      .toDF("id", "name", "score", "ok")
    df.write.format("graft-bq").mode("append").option("path", dir).save()
    val back = spark.read.format("graft-bq").option("path", dir).load()
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "score", "ok"))
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3))).toSeq ==
      Seq((1L, "a\"quote", 1.5, true), (2L, "b", 2.5, false)))
  }

  test("uncommitted temp files are invisible to readers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bq2").toString
    Seq((1L, "x")).toDF("id", "name").write.format("graft-bq").mode("append").option("path", dir).save()
    // simulate an aborted task's leftover temp file
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, ".tmp-qdead-p0-t9.jsonl"),
      """{"id":999,"name":"ghost"}""" + "\n")
    val back = spark.read.format("graft-bq").option("path", dir).load()
    assert(back.count() == 1)
    assert(back.filter($"id" === 999).isEmpty)
  }

  test("streaming write: epochs commit once, replays are dropped") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-bq3").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bq3-ckpt").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "name").writeStream
      .format("graft-bq").option("path", dir)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("graft-bq").option("path", dir).load()
    assert(back.count() == 3)
    // replayed epoch with an existing manifest must be a no-op:
    val w = new graft.sources.GraftBqWrite(back.schema, dir, "requery")
    w.commit(0L, Array[org.apache.spark.sql.connector.write.WriterCommitMessage](graft.sources.FilesCommitMessage(Seq(s"$dir/.tmp-ghost.jsonl"), 1)))
    assert(spark.read.format("graft-bq").option("path", dir).load().count() == 3)
  }

  test("non-finite doubles and nulls round-trip; pushed filters leave them to the residual") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bq-nan").toString
    val in = Seq[(Long, Option[Double])]((1L, Some(Double.NaN)), (2L, Some(Double.PositiveInfinity)),
      (3L, Some(Double.NegativeInfinity)), (4L, None), (5L, Some(1.5)))
    in.toDF("id", "amount").write.format("graft-bq").mode("append").option("path", dir).save()
    val lines = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".jsonl"))
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala).toSet
    assert(lines.contains("""{"id":1,"amount":"NaN"}"""))
    assert(lines.contains("""{"id":2,"amount":"Infinity"}"""))
    assert(lines.contains("""{"id":3,"amount":"-Infinity"}"""))
    assert(lines.contains("""{"id":4}"""))
    val back = spark.read.format("graft-bq").option("path", dir).load()
    val got = back.orderBy("id").as[(Long, Option[Double])].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(got(0)._2.exists(_.isNaN))
    assert(got.drop(1) == in.drop(1))
    val before = graft.sources.GraftBqMetrics.droppedLines.sum()
    assert(spark.read.format("graft-bq").option("mode", "permissive").option("path", dir).load().count() == 5)
    assert(graft.sources.GraftBqMetrics.droppedLines.sum() == before)
    // Spark orders NaN above every double: the residual decides, the
    // source cannot (the value is a JSON string there)
    assert(back.filter($"amount" > 1.0).as[(Long, Option[Double])].collect().map(_._1).sorted.toSeq ==
      Seq(1L, 2L, 5L))
  }

  test("field names with quotes and backslashes write valid lines and read back") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bq-names").toString
    Seq((1L, "x"), (2L, "y\"z")).toDF("a\"b", "c\\d")
      .write.format("graft-bq").mode("append").option("path", dir).save()
    val back = spark.read.format("graft-bq").option("path", dir).load()
    assert(back.schema.fieldNames.toSeq == Seq("a\"b", "c\\d"))
    assert(back.orderBy(back.columns.head).as[(Long, String)].collect().toSeq == Seq((1L, "x"), (2L, "y\"z")))
  }

  test("tasks that write no rows commit no file; an all-empty epoch still commits its manifest") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-bq-empty").toString
    val df = spark.range(0, 10, 1, 8).filter($"id" < 2)
    val nonEmpty = df.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ > 0)
    df.write.format("graft-bq").mode("append").option("path", dir).save()
    def manifests = Files.list(Paths.get(dir, "_committed")).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith(".")).toSeq
    val listed = manifests.flatMap(m => Files.readAllLines(m).asScala).filter(_.nonEmpty)
    val onDisk = Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".jsonl")).toSeq
    assert(listed.size == nonEmpty && nonEmpty == 2, s"listed $listed")
    assert(listed.sorted == onDisk.sorted, "no unlisted or temp files left behind")
    assert(listed.forall(f => Files.size(Paths.get(dir, f)) > 0))
    def back = spark.read.format("graft-bq").option("path", dir).load().as[Long].collect().sorted.toSeq
    assert(back == Seq(0L, 1L))

    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType)))
    val empty = new graft.sources.GraftBqDataWriter(schema, dir, "qempty", 5L, 0, 1L).commit()
    assert(empty == graft.sources.FilesCommitMessage(Nil, 0L))
    val write = new graft.sources.GraftBqWrite(schema, dir, "qempty")
    write.commit(5L, Array(empty))
    val epoch5 = manifests.filter(_.getFileName.toString.endsWith("-epoch-5"))
    assert(epoch5.size == 1 && Files.size(epoch5.head) == 0)
    // the manifest marks the epoch committed: a replay carrying rows is dropped
    val replay = new graft.sources.GraftBqDataWriter(schema, dir, "qempty", 5L, 0, 2L)
    replay.write(org.apache.spark.sql.catalyst.InternalRow(99L))
    write.commit(5L, Array(replay.commit()))
    assert(back == Seq(0L, 1L))
  }

  test("pipeline integration: dedup output sinks through graft-bq") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bq4").toString
    val out = operators.Dedup.dedupExact(Tables.documents(spark, TestSpark.sf))
    out.write.format("graft-bq").mode("append").option("path", dir).save()
    val back = spark.read.format("graft-bq").option("path", dir).load()
    assert(back.count() == out.count())
    assert(back.schema.fieldNames.sorted.toSeq == out.schema.fieldNames.sorted.toSeq)
  }
}

class GraftBqOverwriteSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("mode(overwrite) truncates committed data before the new commit") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bq-ow").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.format("graft-bq").mode("append").option("path", dir).save()
    Seq((3L, "c")).toDF("id", "name")
      .write.format("graft-bq").mode("overwrite").option("path", dir).save()
    val back = spark.read.format("graft-bq").option("path", dir).load()
    assert(back.as[(Long, String)].collect().toSeq == Seq((3L, "c")))
  }
}

class GraftBqStreamReadSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("readStream over graft-bq consumes committed batches incrementally") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bq-sr").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.format("graft-bq").mode("append").option("path", dir).save()

    val q = spark.readStream.format("graft-bq").option("path", dir).load()
      .writeStream.format("memory").queryName("bqsr").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("bqsr").count() == 2)
      // a second committed batch appears → next micro-batch picks it up
      Seq((3L, "c")).toDF("id", "name")
        .write.format("graft-bq").mode("append").option("path", dir).save()
      q.processAllAvailable()
      assert(spark.table("bqsr").orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }
}

class CommitProtocolRetrySpec extends org.scalatest.funsuite.AnyFunSuite {
  test("speculative/retried task attempts: only the committed attempt's file is visible") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-bq-retry").toString
    val schema = StructType(Seq(StructField("id", LongType)))
    val write = new graft.sources.GraftBqWrite(schema, dir, "qretry")
    // two attempts for partition 0 (taskId 1 and 2) — attempt 2 wins
    val w1 = new graft.sources.GraftBqDataWriter(schema, dir, "qretry", -1L, 0, 1L)
    val w2 = new graft.sources.GraftBqDataWriter(schema, dir, "qretry", -1L, 0, 2L)
    val row = org.apache.spark.sql.catalyst.InternalRow(7L)
    w1.write(row); w2.write(row); w2.write(org.apache.spark.sql.catalyst.InternalRow(8L))
    val m2 = w2.commit()
    w1.abort() // loser attempt aborts
    write.commit(Array(m2))
    val back = spark.read.format("graft-bq").option("path", dir).load()
    assert(back.as[Long].collect().sorted.toSeq == Seq(7L, 8L))
  }
}

class StreamingDagSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("full streaming DAG: graft-bq source -> windowAgg -> exactly-once sink -> read back") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val srcDir = java.nio.file.Files.createTempDirectory("dag-src").toString
    val outDir = java.nio.file.Files.createTempDirectory("dag-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dag-ckpt").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // land source batches in the graft-bq transport (timestamps as micros)
    Seq((ts("2024-01-01 10:05:00"), "view", 1.0), (ts("2024-01-01 10:45:00"), "view", 2.0))
      .toDF("ts", "event_type", "value")
      .write.format("graft-bq").mode("append").option("path", srcDir).save()

    val eoSink = new graft.sinks.ExactlyOnceParquetSink(outDir)
    val stream = spark.readStream.format("graft-bq").option("path", srcDir).load()
    val agg = graft.streaming.Streams.windowAgg(stream, "1 hour", "10 minutes")
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.DataFrame, epoch: Long) => { eoSink.addBatch(df, epoch); () })
      .start()
    try {
      q.processAllAvailable()
      // second source commit arrives mid-stream
      Seq((ts("2024-01-01 11:10:00"), "click", 5.0)).toDF("ts", "event_type", "value")
        .write.format("graft-bq").mode("append").option("path", srcDir).save()
      q.processAllAvailable()
    } finally q.stop()
    val out = eoSink.read(spark)
      .groupBy(col("hour"), col("event_type")).agg(max(col("n_events")).as("n"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(out.contains(("2024-01-01 10:00:00.0", "view", 2L)))
    assert(out.contains(("2024-01-01 11:00:00.0", "click", 1L)))
  }
}

class PermissiveReadSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("permissive mode skips corrupt lines; failfast surfaces them") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bq-perm").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.format("graft-bq").mode("append").option("path", dir).save()
    // corrupt one committed data file by appending garbage
    import scala.jdk.CollectionConverters._
    val dataFile = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".jsonl")).next()
    java.nio.file.Files.writeString(dataFile, "NOT-JSON\n7\n",
      java.nio.file.StandardOpenOption.APPEND)
    graft.sources.GraftBqMetrics.droppedLines.reset()
    val ok = spark.read.format("graft-bq").option("path", dir)
      .option("mode", "permissive").load()
    assert(ok.count() == 2)
    // both corrupt lines are counted, not silently vanished
    assert(graft.sources.GraftBqMetrics.droppedLines.sum() == 2)
    val thrown = intercept[Exception] {
      spark.read.format("graft-bq").option("path", dir).load().count()
    }
    assert(thrown.toString.nonEmpty)
  }
}

class GraftBqPushdownSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("scan prunes columns and records pushed filters; results stay exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bq-pd").toString
    (1L to 10L).map(i => (i, s"name$i", i * 1.5, i % 2 == 0))
      .toDF("id", "name", "score", "ok")
      .write.format("graft-bq").mode("append").option("path", dir).save()
    val df = spark.read.format("graft-bq").option("path", dir).load()
      .filter($"id" > 7L).select("name")
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("name10", "name8", "name9"))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.asInstanceOf[graft.sources.GraftBqScan]
    }.get
    // name for the projection, id for the residual filter; score/ok pruned
    assert(scan.readSchema().fieldNames.toSet == Set("id", "name"),
      s"got ${scan.readSchema().fieldNames.toSeq}")
    assert(scan.pushedFilters.exists {
      case org.apache.spark.sql.sources.GreaterThan("id", 7L) => true
      case _ => false
    }, s"got ${scan.pushedFilters.toSeq}")
    assert(scan.description().contains("GreaterThan(id,7)") &&
      scan.description().contains("PushedFilters: ["))
  }

  test("partition reader skips rows on pushed predicates at the source") {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val f = java.nio.file.Files.createTempFile("graft-bq-rows", ".jsonl")
    java.nio.file.Files.writeString(f,
      """{"id":1,"name":"a"}
        |{"id":2,"name":null}
        |{"id":3,"name":"c"}
        |{"id":4}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    def rows(filters: Filter*): Seq[Long] = {
      val r = new graft.sources.GraftBqPartitionReader(schema, f.toString, false, filters.toArray)
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      try { while (r.next()) out += r.get().getLong(0) } finally r.close()
      out.toSeq
    }
    assert(rows() == Seq(1L, 2L, 3L, 4L))
    assert(rows(GreaterThanOrEqual("id", 3L)) == Seq(3L, 4L))
    assert(rows(IsNotNull("name")) == Seq(1L, 3L), "JSON null and missing both drop")
    assert(rows(IsNull("name")) == Seq(2L, 4L))
    // null/missing name is UNDECIDABLE at the source for a comparison:
    // rows 2 and 4 pass through for the residual filter to drop
    assert(rows(EqualTo("name", "c"), LessThan("id", 10L)) == Seq(2L, 3L, 4L))
  }

  test("non-finite literals are left to the residual filter") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bq-nanlit").toString
    Seq((1L, 1.5), (2L, Double.NaN), (3L, Double.PositiveInfinity)).toDF("id", "x")
      .write.format("graft-bq").mode("append").option("path", dir).save()
    val df = spark.read.format("graft-bq").option("path", dir).load()
    // Spark orders NaN above every double, +Infinity included
    assert(df.filter($"x" >= Double.NaN).as[(Long, Double)].collect().map(_._1).toSeq == Seq(2L))
    assert(df.filter($"x" < Double.PositiveInfinity).as[(Long, Double)].collect().map(_._1).toSeq == Seq(1L))
    assert(df.filter($"x" > Double.NegativeInfinity).count() == 3)
  }

  test("undecidable-at-source values pass through instead of over-dropping") {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val f = java.nio.file.Files.createTempFile("graft-bq-coerce", ".jsonl")
    // id arrives as a JSON STRING: nextFrom coerces it, so the pushed
    // filter must not reject what the residual filter would keep
    java.nio.file.Files.writeString(f,
      """{"id":"8","name":"a"}
        |{"id":2,"name":"b"}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val r = new graft.sources.GraftBqPartitionReader(schema, f.toString, false,
      Array(GreaterThan("id", 7L)))
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    try { while (r.next()) out += r.get().getLong(0) } finally r.close()
    // the string "8" row passes through (residual decides); 2 skips
    assert(out.toSeq == Seq(8L), s"got $out")
  }
}
