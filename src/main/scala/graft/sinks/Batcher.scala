package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, LongType}

/** Batch assembly — the Spark re-expression of the reference's
  * `BatchTrigger` (process/BatchTrigger.java:33-59: fire on count limit
  * OR accumulated byte size) + `RowBatcher` (process/RowBatcher.java).
  *
  * Flink fires per-key window triggers as records arrive; the batch
  * analog is a deterministic greedy scan per key in arrival order.
  * Implemented as repartition(key) + sortWithinPartitions(key, order) +
  * one [[BatchTrigger]] expression in a `Project` directly above the
  * sort — one shuffle, O(1) state per partition, arbitrarily many keys
  * per partition, rows stay in Spark's binary form from the sort on, no
  * driver involvement: the same plan shape works at 100 TB.
  */
object Batcher {

  /** Greedy trigger over one key's ordered records: returns batch ids.
    * A record fires the batch *it joins* when the count limit is
    * reached, or when accumulated bytes cross maxBytes (reference
    * semantics: size check happens after adding the element, count
    * check fires on the element completing the batch). */
  private[graft] def greedyAssign(sizes: Iterator[Long], maxCount: Long, maxBytes: Long): Iterator[Long] = {
    val t = new TriggerState(maxCount, maxBytes)
    sizes.map(t.step(1L, _))
  }

  /** THE crossing-closes trigger pass, shared by every batch-assembly
    * face (unsalted, salted phase 1, salted phase 2 — one body, so the
    * budget semantics cannot drift between them): repartition on
    * `keyCols`, sort by (keys, order), then append column `out`, the
    * batch id of a [[BatchTrigger]] that accumulates `count`/`bytes`
    * per key group and closes the batch the crossing element joined. */
  private[graft] def triggerPass(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column],
                                 count: Column, bytes: Column, sizeName: String,
                                 maxCount: Long, maxBytes: Long, out: String): DataFrame = {
    val keys = keyCols.map(col)
    val trigger = BatchTrigger(keys.map(Shims.expression),
      Shims.expression(count.cast(LongType)), Shims.expression(bytes.cast(LongType)),
      sizeName, maxCount, maxBytes)
    df.repartition(keys: _*)
      .sortWithinPartitions(keys ++ orderCols: _*)
      .select(col("*"), Shims.column(trigger).as(out))
  }

  /** Assigns every record a `batch_id` within its key, firing on count
    * or byte size. `sizeCol` is the record's serialized-size estimate
    * (BigQueryRecord.getSize analog); a null size fails the pass.
    * Output = input columns + batch_id. Lazy: building it runs no job.
    */
  def assignBatches(df: DataFrame, keyCol: String, orderCol: String, sizeCol: String,
                    maxCount: Long, maxBytes: Long = Long.MaxValue): DataFrame =
    triggerPass(df, Seq(keyCol), Seq(col(orderCol)), lit(1L), col(sizeCol), sizeCol,
      maxCount, maxBytes, "batch_id")

  /** HOT-KEY-SALTED batch assembly — the sink-side analog of
    * `ScaleOps.sessionsSalted` for when `scale_window_preflight` flags
    * a sink key too hot for [[assignBatches]]' single ordered pass:
    * phase 1 runs the greedy trigger independently per (key,
    * `bucketCol`) slice — a hot key's records spread across as many
    * tasks as buckets it spans — and phase 2 re-runs the SAME
    * crossing-closes trigger at LOCAL-BATCH grain per key (rows =
    * batches + buckets, not records), gluing bucket-boundary partial
    * batches. A local batch that already crossed its budget closes
    * alone in phase 2, so away from bucket boundaries the result
    * converges to the unsalted policy, and with one bucket per key it
    * EQUALS it (spec-pinned). Budget semantics at batch grain: a
    * merged batch closes when it crosses, so overshoot is bounded by
    * one LOCAL batch instead of one record — the documented trade for
    * never serializing a key.
    *
    * Output = input columns + batch_id (final per-key id, numbered in
    * (bucket, local batch) order). */
  def assignBatchesSalted(df: DataFrame, keyCol: String, orderCol: String,
                          sizeCol: String, bucketCol: String,
                          maxCount: Long, maxBytes: Long = Long.MaxValue): DataFrame = {
    // phase 1: the record-grain trigger, salted on (key, bucket)
    val local = triggerPass(df, Seq(keyCol, bucketCol), Seq(col(orderCol)), lit(1L), col(sizeCol),
      sizeCol, maxCount, maxBytes, "local_batch")
    // phase 2: the SAME trigger at local-batch grain — per key, scan
    // batches in (bucket, local) order accumulating their record
    // counts and bytes; rows here = batches + buckets per key
    val grain = local.groupBy(col(keyCol), col(bucketCol), col("local_batch"))
      .agg(count(lit(1)).as("b_count"), sum(col(sizeCol).cast("long")).as("b_bytes"))
    val mapping = triggerPass(grain, Seq(keyCol), Seq(col(bucketCol), col("local_batch")),
        col("b_count"), col("b_bytes"), sizeCol, maxCount, maxBytes, "batch_id")
      .select(col(keyCol), col(bucketCol), col("local_batch"), col("batch_id"))
    // phase 3: records pick up their final id on the (key, bucket,
    // local_batch) join — NULL-SAFE equality, because a NULL key or
    // bucket is a legal record the unsalted trigger batches too and a
    // plain equi-join would silently drop it
    local.join(mapping.withColumnRenamed(keyCol, "__mk")
        .withColumnRenamed(bucketCol, "__mb")
        .withColumnRenamed("local_batch", "__ml"),
        col(keyCol) <=> col("__mk") && col(bucketCol) <=> col("__mb") &&
          col("local_batch") <=> col("__ml"))
      .select(df.columns.toIndexedSeq.map(col) :+ col("batch_id"): _*)
  }

  /** The sink-side preflight→mitigation router (the
    * `ScaleOps.sessionsAuto` analog): one metadata-scale
    * `scale_window_preflight` pass over `keyCol` decides whether
    * [[assignBatches]]' single ordered pass is safe or the key
    * distribution needs [[assignBatchesSalted]]'s two-phase re-plan.
    * `keyCol` must be numeric (the preflight's contract — hash a
    * string sink key to 64 bits first). Note the two faces are NOT
    * bit-identical at bucket boundaries (salting's documented
    * overshoot trade), so unlike the session/as-of routers the verdict
    * here changes batch boundaries, never coverage: every record still
    * lands in exactly one batch respecting the budget semantics of the
    * face chosen. */
  def assignBatchesAuto(df: DataFrame, keyCol: String, orderCol: String,
                        sizeCol: String, bucketCol: String,
                        maxCount: Long, maxBytes: Long = Long.MaxValue,
                        hotThreshold: Long = 1000000L): DataFrame = {
    val verdict = graft.operators.ScaleOps
      .windowPreflight(df.select(col(keyCol)), keyCol, hotThreshold)
      .select(col("advice")).head().getString(0)
    if (verdict == "salt")
      assignBatchesSalted(df, keyCol, orderCol, sizeCol, bucketCol, maxCount, maxBytes)
    else assignBatches(df, keyCol, orderCol, sizeCol, maxCount, maxBytes)
  }
}

/** One key group's trigger state, the rule every face shares: a record
  * adds its count and bytes to the open batch and gets that batch's id;
  * when the count reaches `maxCount` or the bytes reach `maxBytes`, the
  * batch closes after it. */
final class TriggerState(maxCount: Long, maxBytes: Long) {
  private var count = 0L
  private var bytes = 0L
  private var batchId = 0L

  def reset(): Unit = { count = 0; bytes = 0; batchId = 0 }

  def step(c: Long, b: Long): Long = {
    count += c
    bytes += b
    val cur = batchId
    if (count >= maxCount || bytes >= maxBytes) { batchId += 1; count = 0; bytes = 0 }
    cur
  }
}

/** The batch trigger as a stateful, nondeterministic Catalyst
  * expression (the way `MonotonicallyIncreasingID` keeps per-partition
  * state): over rows sorted by (`keys`, order) within a partition it
  * returns each row's batch id, restarting at 0 whenever the keys
  * change (null-safe equality). Evaluated in a `Project` directly above
  * the sort, so rows never leave `InternalRow`; the nondeterministic
  * `Project` also keeps the optimizer from dropping or moving that sort.
  * A null `bytes` fails the task with an error naming `sizeName`;
  * `count` is a literal or a `count()`, never null. */
case class BatchTrigger(keys: Seq[Expression], count: Expression, bytes: Expression,
                        sizeName: String, maxCount: Long, maxBytes: Long)
    extends Expression with Nondeterministic {

  override def children: Seq[Expression] = keys :+ count :+ bytes
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def stateful: Boolean = true
  override def prettyName: String = "graft_batch_trigger"

  def newState(): TriggerState = new TriggerState(maxCount, maxBytes)

  def nullSize(): RuntimeException = new IllegalArgumentException(
    s"Batcher: null size in column `$sizeName`; every record needs a size to be batched")

  @transient private lazy val keyEquiv = keys.map(k => TypeUtils.getInterpretedOrdering(k.dataType)).toArray
  @transient private var state: TriggerState = _
  @transient private var last: Array[Any] = _

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    state = newState()
    last = null
  }

  override protected def evalInternal(input: InternalRow): Any = {
    val ks = keys.map(_.eval(input)).toArray
    val c = count.eval(input).asInstanceOf[Long]
    val b = bytes.eval(input)
    if (b == null) throw nullSize()
    if (last == null || !ks.indices.forall(i => sameKey(i, last(i), ks(i)))) {
      state.reset()
      last = ks.map(InternalRow.copyValue)
    }
    state.step(c, b.asInstanceOf[Long])
  }

  private def sameKey(i: Int, a: Any, b: Any): Boolean =
    if (a == null || b == null) a == null && b == null else keyEquiv(i).equiv(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("trigger", this)
    val st = ctx.addMutableState(classOf[TriggerState].getName, "triggerState", forceInline = true)
    val started = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "triggerStarted", forceInline = true)
    ctx.addPartitionInitializationStatement(s"$st = $self.newState(); $started = false;")
    val keyCodes = keys.map(_.genCode(ctx))
    val lastKeys = keys.map { k =>
      (ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "lastKeyNull", forceInline = true),
        ctx.addMutableState(CodeGenerator.javaType(k.dataType), "lastKey", forceInline = true))
    }
    val same = keys.indices.map { i =>
      val (kc, (ln, lv)) = (keyCodes(i), lastKeys(i))
      s"(${kc.isNull} ? $ln : (!$ln && ${ctx.genEqual(keys(i).dataType, lv, kc.value.toString)}))"
    }.foldLeft(started)((acc, eq) => s"$acc && $eq")
    // the sorted rows' buffers are reused: a kept key that is not a
    // primitive is copied out of them
    val remember = keys.indices.map { i =>
      val (kc, (ln, lv), dt) = (keyCodes(i), lastKeys(i), keys(i).dataType)
      val copied =
        if (CodeGenerator.isPrimitiveType(dt)) kc.value.toString
        else s"(${CodeGenerator.boxedType(dt)}) ${classOf[InternalRow].getName}.copyValue(${kc.value})"
      s"$ln = ${kc.isNull};\nif (!${kc.isNull}) $lv = $copied;"
    }.mkString("\n")
    val c = count.genCode(ctx)
    val b = bytes.genCode(ctx)
    ev.copy(code = code"""
      |${keyCodes.map(_.code).mkString("\n")}
      |${c.code}
      |${b.code}
      |if (${b.isNull}) throw $self.nullSize();
      |if (!($same)) {
      |  $started = true;
      |  $st.reset();
      |  $remember
      |}
      |long ${ev.value} = $st.step(${c.value}, ${b.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BatchTrigger =
    copy(keys = newChildren.dropRight(2), count = newChildren(newChildren.length - 2),
      bytes = newChildren.last)
}
