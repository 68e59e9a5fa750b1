package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sinks.Batcher

/** Reference batch assembly over external `Row`s: repartition, sort,
  * then one `mapPartitions` scan that converts every row to a `Row`,
  * reads its key values and size, and appends the batch id. The
  * `BatchTrigger` expression must assign the same ids. */
object RowGreedyPass {
  private def toLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case other => other.toString.toLong
  }

  def greedyPass(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column],
                 countOf: Row => Long, bytesOf: Row => Long,
                 maxCount: Long, maxBytes: Long,
                 outSchema: StructType)(emit: (Row, Long) => Row): DataFrame = {
    val keyIdxs = keyCols.map(df.schema.fieldIndex)
    df.repartition(keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col) ++ orderCols: _*)
      .mapPartitions { it =>
        var curKey: Seq[Any] = null
        var first = true
        var count = 0L
        var bytes = 0L
        var batchId = 0L
        it.map { row =>
          val k = keyIdxs.map(row.get)
          if (first || k != curKey) { curKey = k; first = false; count = 0; bytes = 0; batchId = 0 }
          count += countOf(row)
          bytes += bytesOf(row)
          val cur = batchId
          if (count >= maxCount || bytes >= maxBytes) { batchId += 1; count = 0; bytes = 0 }
          emit(row, cur)
        }
      }(RowEncoder.encoderFor(outSchema))
  }

  /** Record-grain batches over `keyCols`, appended as column `out`. */
  def assign(df: DataFrame, keyCols: Seq[String], orderCol: String, sizeCol: String,
             maxCount: Long, maxBytes: Long, out: String = "batch_id"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(out, LongType, nullable = false))
    val sizeIdx = df.schema.fieldIndex(sizeCol)
    greedyPass(df, keyCols, Seq(col(orderCol)), _ => 1L, row => toLong(row.get(sizeIdx)),
      maxCount, maxBytes, outSchema)((row, cur) => Row.fromSeq(row.toSeq :+ cur))
  }

  def assignSalted(df: DataFrame, keyCol: String, orderCol: String, sizeCol: String, bucketCol: String,
                   maxCount: Long, maxBytes: Long): DataFrame = {
    val local = assign(df, Seq(keyCol, bucketCol), orderCol, sizeCol, maxCount, maxBytes, "local_batch")
    val grain = local.groupBy(col(keyCol), col(bucketCol), col("local_batch"))
      .agg(count(lit(1)).as("b_count"), sum(col(sizeCol).cast("long")).as("b_bytes"))
    val mapSchema = StructType(Seq(grain.schema(keyCol), grain.schema(bucketCol), grain.schema("local_batch"),
      StructField("batch_id", LongType, nullable = false)))
    val Seq(gk, gb, gl, gc, gz) = Seq(keyCol, bucketCol, "local_batch", "b_count", "b_bytes").map(grain.schema.fieldIndex)
    val mapping = greedyPass(grain, Seq(keyCol), Seq(col(bucketCol), col("local_batch")),
      _.getLong(gc), _.getLong(gz), maxCount, maxBytes, mapSchema)(
      (row, cur) => Row.fromSeq(Seq(row.get(gk), row.get(gb), row.get(gl), cur)))
    local.join(mapping.withColumnRenamed(keyCol, "__mk").withColumnRenamed(bucketCol, "__mb")
        .withColumnRenamed("local_batch", "__ml"),
        col(keyCol) <=> col("__mk") && col(bucketCol) <=> col("__mb") && col("local_batch") <=> col("__ml"))
      .select(df.columns.toIndexedSeq.map(col) :+ col("batch_id"): _*)
  }
}

class BatcherDifferentialSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val MaxCount = 7L
  private val MaxBytes = 600L

  /** Seeded records: hot keys (a quarter of rows on two keys), null keys,
    * unique order values, sizes 1–250, spread over 6 input partitions in
    * random order so each key's records arrive from several tasks. */
  private def frame(seed: Int, rows: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val recs = rnd.shuffle((0 until rows).toList).map { ord =>
      val k: Option[Long] = rnd.nextInt(20) match {
        case 0 => None
        case 1 | 2 | 3 => Some(1L)
        case 4 | 5 => Some(2L)
        case _ => Some(3L + rnd.nextInt(60))
      }
      val k2: Option[String] = if (rnd.nextInt(15) == 0) None else Some(Seq("", "a", "é", "😀x", "b\"")(rnd.nextInt(5)))
      (k, k2, k.map(v => s"user-$v-é"), ord.toLong, 1L + rnd.nextInt(250), rnd.nextInt(4).toLong)
    }
    recs.toDF("k", "k2", "ks", "ord", "sz", "bkt").repartition(6)
  }

  private def ids(df: DataFrame, out: String = "batch_id"): Map[Long, Long] =
    df.select(col("ord"), col(out)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The oracle's batches close both ways: on the count and on the bytes. */
  private def closesBothWays(df: DataFrame, keys: Seq[String]): Unit = {
    val closed = df.groupBy((keys :+ "batch_id").map(col): _*)
      .agg(count(lit(1)).as("n"), sum("sz").as("b")).collect()
    assert(closed.exists(r => r.getAs[Long]("n") == MaxCount && r.getAs[Long]("b") < MaxBytes))
    assert(closed.exists(r => r.getAs[Long]("n") < MaxCount && r.getAs[Long]("b") >= MaxBytes))
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("assignBatches equals the Row greedy pass on null, long and string keys (seeded)") {
    (1 to 3).foreach { seed =>
      val df = frame(seed, 3000)
      for (key <- Seq("k", "ks", "k2")) {
        val want = RowGreedyPass.assign(df, Seq(key), "ord", "sz", MaxCount, MaxBytes)
        if (key == "k") closesBothWays(want, Seq(key))
        val got = Batcher.assignBatches(df, key, "ord", "sz", MaxCount, MaxBytes)
        assert(got.schema == want.schema)
        assert(ids(got) == ids(want), s"seed $seed key $key")
      }
    }
  }

  test("two-column keys and both salted phases equal the Row greedy pass (seeded)") {
    (4 to 5).foreach { seed =>
      val df = frame(seed, 3000)
      val want = RowGreedyPass.assign(df, Seq("k", "k2"), "ord", "sz", MaxCount, MaxBytes)
      closesBothWays(want, Seq("k", "k2"))
      val got = Batcher.triggerPass(df, Seq("k", "k2"), Seq(col("ord")), lit(1L), col("sz"), "sz",
        MaxCount, MaxBytes, "batch_id")
      assert(ids(got) == ids(want), s"seed $seed two keys")
      val saltedWant = RowGreedyPass.assignSalted(df, "k", "ord", "sz", "bkt", MaxCount, MaxBytes)
      val saltedGot = Batcher.assignBatchesSalted(df, "k", "ord", "sz", "bkt", MaxCount, MaxBytes)
      assert(ids(saltedGot) == ids(saltedWant), s"seed $seed salted")
    }
  }

  test("the interpreted trigger equals the generated one") {
    val df = frame(6, 2000)
    val want = ids(RowGreedyPass.assign(df, Seq("ks", "k2"), "ord", "sz", MaxCount, MaxBytes))
    val got = withConf("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      ids(Batcher.triggerPass(df, Seq("ks", "k2"), Seq(col("ord")), lit(1L), col("sz"), "sz",
        MaxCount, MaxBytes, "batch_id"))
    }
    assert(got == want)
  }
}

class BatcherPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def nodes(plan: SparkPlan): Seq[String] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    case p => p.nodeName +: p.children.flatMap(nodes)
  }

  test("assignBatches plans one exchange and one sort, no object round trip, and runs no job to build") {
    val s = spark
    import s.implicits._
    val df = (0 until 100).map(i => (i % 7L, i.toLong, 10L)).toDF("key", "ord", "sz")
    var built: DataFrame = null
    assert(TestSpark.jobsOf { built = Batcher.assignBatches(df, "key", "ord", "sz", 5, 100) } == 0,
      "building the batch assignment ran a job")

    val plan = nodes(built.queryExecution.executedPlan)
    assert(plan.count(_.contains("Exchange")) == 1, plan)
    assert(plan.count(_ == "Sort") == 1, plan)
    Seq("DeserializeToObject", "MapPartitions", "SerializeFromObject").foreach(n => assert(!plan.exists(_.contains(n)), plan))
    assert(built.queryExecution.optimizedPlan.toString.contains("graft_batch_trigger"))
    assert(built.count() == 100)
  }
}
