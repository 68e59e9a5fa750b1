package graft.sinks

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.BinaryType

/** DataFrame-level sink facade: the user-facing assembly of the
  * pipeline the reference builds by hand (batch → serialize → append
  * with retries/splitting), executed distributed over the frame's
  * partitions with Spark accumulators carrying the reference's metric
  * surface (metric/BigQueryStreamMetrics.java) back to the driver.
  *
  * Both faces run one per-partition loop over the frame's `InternalRow`s
  * (`queryExecution.toRdd`), under one SQL execution and one Spark job,
  * as `Dataset.foreachPartition` would run them, but with no `Row`
  * deserialized. Each row is encoded by [[JsonLine.RowLines]] to the
  * bytes `JsonRowSerializer` gives its `Row`, rejected with
  * [[RecordTooLargeException]] if it is longer than `maxAppendBytes`,
  * and buffered for its write stream. A buffer that reaches
  * `maxBatchCount` rows or `maxBatchBytes` bytes is flushed through
  * [[splitAppend]] to the stream's pooled writer
  * ([[PooledStreamAppender]]), which retries transient failures and
  * recreates a closed writer, backing off per `settings.retry`.
  */
object GraftSink {

  /** Driver-visible totals, backed by accumulators (executor updates
    * survive task retries per Spark's accumulator semantics for
    * actions). */
  final case class Totals(batches: Long, bytes: Long, splits: Long, retries: Long, rows: Long)

  /** One stream's pending rows and their byte count. */
  private final class StreamBuffer(val stream: String) {
    val rows = mutable.ArrayBuffer.empty[Array[Byte]]
    var bytes = 0L
  }

  /** At-least-once append of `df` to `transport`: the shared loop with
    * a single stream, `table.defaultStream`, whose writer hands every
    * append to `transport`. Returns driver-side totals. */
  def writeAtLeastOnce(df: DataFrame, table: TableRef, settings: WriterSettings,
                       transport: Seq[Array[Byte]] => Unit): Totals =
    // no key column: every row goes to the one stream
    write(df, settings, -1, _ => table.defaultStream, _ =>
      new BatchAppender[Array[Byte]] {
        override def append(rows: Seq[Array[Byte]]): Unit = transport(rows)
        override def close(): Unit = ()
      })

  /** Keyed at-least-once append: each row routes to its key's write
    * stream through the pooled writer registry — the full reference
    * pipeline (key → stream name, one live writer per stream,
    * recreate-on-closed, per-stream batching, split, retry) distributed
    * over the frame's partitions. A key's stream is `<table>/streams/`
    * plus the `toString` of the key's external value (`null` for a null
    * key). `newWriter` builds a stream's transport (a real deployment
    * opens a gRPC append stream here). A binary key column is rejected:
    * its values are arrays, which neither compare nor print by content. */
  def writeKeyedAtLeastOnce(df: DataFrame, keyCol: String, table: TableRef,
                            settings: WriterSettings,
                            newWriter: String => BatchAppender[Array[Byte]]): Totals = {
    val keyIdx = df.schema.fieldIndex(keyCol)
    val keyType = df.schema(keyIdx).dataType
    require(keyType != BinaryType,
      s"key column `$keyCol` has type ${keyType.sql}: a binary key has no stream name and no equality")
    val streams = s"${table.fullPath}/streams/"
    write(df, settings, keyIdx, key => streams + key, newWriter)
  }

  /** The per-partition loop of both faces. Buffers are keyed by the
    * external value of column `keyIdx` (one buffer when it is -1), so a
    * row costs one map lookup and a stream's name, `streamOf(key)`, is
    * built once per key. */
  private def write(df: DataFrame, settings: WriterSettings, keyIdx: Int,
                    streamOf: Any => String,
                    newWriter: String => BatchAppender[Array[Byte]]): Totals = {
    val sc = df.sparkSession.sparkContext
    val batches = sc.longAccumulator("graft.sink.batches")
    val bytes = sc.longAccumulator("graft.sink.bytes")
    val splits = sc.longAccumulator("graft.sink.splits")
    val retries = sc.longAccumulator("graft.sink.retries")
    val rows = sc.longAccumulator("graft.sink.rows")
    val limit = settings.maxAppendBytes
    val lines = JsonLine.RowLines.of(df)

    val perPartition = { (it: Iterator[InternalRow]) =>
      val encoder = lines.encoder()
      val metrics = new SinkMetrics
      val appender = new PooledStreamAppender[Array[Byte]](newWriter, settings.retry, metrics)
      val bufs = new java.util.HashMap[Any, StreamBuffer]()
      def flush(b: StreamBuffer): Unit = if (b.rows.nonEmpty) {
        splitAppend(ArraySeq.unsafeWrapArray(b.rows.toArray),
          (r: Array[Byte]) => r.length.toLong, limit, metrics)(
          part => appender.append(b.stream, part))
        rows.add(b.rows.size.toLong)
        b.rows.clear(); b.bytes = 0
      }
      try {
        it.foreach { row =>
          val payload = encoder.encode(row)
          // no split can deliver a record past the append limit
          if (payload.length > limit) throw RecordTooLargeException(payload.length, limit)
          val key = if (keyIdx < 0) null else encoder.external(row, keyIdx)
          var b = bufs.get(key)
          if (b == null) { b = new StreamBuffer(streamOf(key)); bufs.put(key, b) }
          b.rows += payload
          b.bytes += payload.length
          if (b.rows.size >= settings.maxBatchCount || b.bytes >= settings.maxBatchBytes) flush(b)
        }
        bufs.values.forEach(b => flush(b))
        batches.add(metrics.batchCount)
        bytes.add(metrics.batchSizeBytes)
        splits.add(metrics.splitBatchCount)
        retries.add(metrics.appendRetries)
      } finally appender.close()
    }

    // one SQL execution of one job, as Dataset.foreachPartition runs it
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foreachPartition")) {
      qe.executedPlan.resetMetrics()
      qe.toRdd.foreachPartition(perPartition)
    }
    Totals(batches.value, bytes.value, splits.value, retries.value, rows.value)
  }

  /** Sends `rows` through `send`, halving any run of more than one row
    * whose bytes exceed `maxAppendBytes` (one split each) until every
    * piece fits — sink/BigQuerySinkWriter.java's batch splitting; each
    * piece sent counts as one batch. Sizes are summed once into prefix
    * sums over an indexed snapshot, so every split level reads its
    * halves' bytes in O(1). */
  def splitAppend[A](rows: Seq[A], sizeOf: A => Long, maxAppendBytes: Long,
                     metrics: SinkMetrics)(send: Seq[A] => Unit): Unit = {
    val data = rows match {
      case s: IndexedSeq[A @unchecked] => s
      case s => s.toIndexedSeq
    }
    val ends = new Array[Long](data.length + 1)
    var i = 0
    while (i < data.length) { ends(i + 1) = ends(i) + sizeOf(data(i)); i += 1 }

    def sendRange(from: Int, until: Int): Unit = {
      val bytes = ends(until) - ends(from)
      if (until - from > 1 && bytes > maxAppendBytes) {
        metrics.addSplit()
        val mid = from + (until - from) / 2
        sendRange(from, mid); sendRange(mid, until)
      } else {
        send(if (from == 0 && until == data.length) data else data.slice(from, until))
        metrics.addBatch(bytes)
      }
    }
    sendRange(0, data.length)
  }
}
