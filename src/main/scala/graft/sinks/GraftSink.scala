package graft.sinks

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

/** DataFrame-level sink facade: the user-facing assembly of the
  * pipeline the reference builds by hand (batch → serialize → append
  * with retries/splitting), executed distributed via foreachPartition
  * with Spark accumulators carrying the reference's metric surface
  * (metric/BigQueryStreamMetrics.java) back to the driver.
  */
object GraftSink {

  /** Driver-visible totals, backed by accumulators (executor updates
    * survive task retries per Spark's accumulator semantics for
    * actions). */
  final case class Totals(batches: Long, bytes: Long, splits: Long, retries: Long, rows: Long)

  /** One key's pending rows and their byte count. */
  private final class StreamBuffer(val stream: String) {
    val rows = mutable.ArrayBuffer.empty[Array[Byte]]
    var bytes = 0L
  }

  /** At-least-once append of `df` to `transport` (rows serialized with
    * `JsonRowSerializer`), batching per partition with the greedy
    * count/bytes trigger, splitting oversized appends, retrying
    * transient failures. Returns driver-side totals. */
  def writeAtLeastOnce(df: DataFrame, table: TableRef, settings: WriterSettings,
                       transport: Seq[Array[Byte]] => Unit): Totals = {
    val sc = df.sparkSession.sparkContext
    val batches = sc.longAccumulator("graft.sink.batches")
    val bytes = sc.longAccumulator("graft.sink.bytes")
    val splits = sc.longAccumulator("graft.sink.splits")
    val retries = sc.longAccumulator("graft.sink.retries")
    val rows = sc.longAccumulator("graft.sink.rows")

    df.foreachPartition { (it: Iterator[Row]) =>
      val serializer = new JsonRowSerializer
      val metrics = new SinkMetrics
      val writer = new AtLeastOnceWriter[Array[Byte]](
        transport, b => b.length.toLong, settings.maxAppendBytes,
        settings.retry.maxRetries, metrics)
      val buf = mutable.ArrayBuffer.empty[Array[Byte]]
      var bufBytes = 0L
      def flush(): Unit = if (buf.nonEmpty) {
        writer.write(RowBatch.defaultStream(ArraySeq.unsafeWrapArray(buf.toArray), table))
        rows.add(buf.size.toLong)
        buf.clear(); bufBytes = 0
      }
      it.foreach { row =>
        val payload = serializer.serialize(row)
        buf += payload
        bufBytes += payload.length
        if (buf.size >= settings.maxBatchCount || bufBytes >= settings.maxBatchBytes) flush()
      }
      flush()
      batches.add(metrics.batchCount)
      bytes.add(metrics.batchSizeBytes)
      splits.add(metrics.splitBatchCount)
      retries.add(metrics.appendRetries)
    }
    Totals(batches.value, bytes.value, splits.value, retries.value, rows.value)
  }

  /** Keyed at-least-once append: each row routes to its key's write
    * stream through the pooled writer registry — the full reference
    * pipeline (key → stream name, one live writer per stream,
    * recreate-on-closed, per-stream batching, oversized appends split as
    * in [[writeAtLeastOnce]], retry) distributed via foreachPartition.
    * `newWriter` builds a stream's transport (a real deployment opens a
    * gRPC append stream here). */
  def writeKeyedAtLeastOnce(df: DataFrame, keyCol: String, table: TableRef,
                            settings: WriterSettings,
                            newWriter: String => BatchAppender[Array[Byte]]): Totals = {
    val sc = df.sparkSession.sparkContext
    val batches = sc.longAccumulator("graft.sink.batches")
    val bytes = sc.longAccumulator("graft.sink.bytes")
    val splits = sc.longAccumulator("graft.sink.splits")
    val retries = sc.longAccumulator("graft.sink.retries")
    val writersCreated = sc.longAccumulator("graft.sink.writersCreated")
    val rows = sc.longAccumulator("graft.sink.rows")
    val keyIdx = df.schema.fieldIndex(keyCol)

    df.foreachPartition { (it: Iterator[Row]) =>
      val serializer = new JsonRowSerializer
      val metrics = new SinkMetrics
      val appender = new PooledStreamAppender[Array[Byte]](newWriter,
        settings.retry.maxRetries, metrics)
      // keyed by the key value: one lookup per row, the stream name is
      // built once per key
      val streams = s"${table.fullPath}/streams/"
      val bufs = new java.util.HashMap[Any, StreamBuffer]()
      def flush(b: StreamBuffer): Unit = if (b.rows.nonEmpty) {
        AtLeastOnceWriter.splitAppend(ArraySeq.unsafeWrapArray(b.rows.toArray),
          (r: Array[Byte]) => r.length.toLong, settings.maxAppendBytes, metrics)(
          part => appender.append(b.stream, part))
        rows.add(b.rows.size.toLong)
        b.rows.clear(); b.bytes = 0
      }
      try {
        it.foreach { row =>
          val key = row.get(keyIdx)
          var b = bufs.get(key)
          if (b == null) { b = new StreamBuffer(streams + key); bufs.put(key, b) }
          val payload = serializer.serialize(row)
          b.rows += payload
          b.bytes += payload.length
          if (b.rows.size >= settings.maxBatchCount || b.bytes >= settings.maxBatchBytes) flush(b)
        }
        bufs.values.forEach(b => flush(b))
        batches.add(metrics.batchCount)
        bytes.add(metrics.batchSizeBytes)
        splits.add(metrics.splitBatchCount)
        retries.add(metrics.appendRetries)
        writersCreated.add(appender.pool.createdCount)
      } finally appender.close()
    }
    Totals(batches.value, bytes.value, splits.value, retries.value, rows.value)
  }
}
