package graft.sinks

import java.util.concurrent.atomic.LongAdder

/** Destination-table coordinates, mirroring the reference's
  * `TableId`/`TableName` usage (model/Rows.java:24-28): a batch is
  * always bound to a table and a write stream name. */
case class TableRef(project: String, dataset: String, table: String) {
  def fullPath: String = s"projects/$project/datasets/$dataset/tables/$table"
  def defaultStream: String = s"$fullPath/streams/_default"
}

/** Reference metric surface (metric/BigQueryStreamMetrics.java) as a
  * plain value the writers update; wire to Spark accumulators or a
  * metrics registry at the edge. Counters are `LongAdder`s: appends
  * that share one `SinkMetrics` (a `PooledStreamAppender` used from a
  * thread pool) bump them concurrently, where a read-modify-write of a
  * plain field loses updates. The reference's per-stream offset is
  * tracked where offsets are assigned, in `Streams.assignOffsets`. */
final class SinkMetrics extends Serializable {
  private val batches = new LongAdder
  private val bytes = new LongAdder
  private val splits = new LongAdder
  private val retries = new LongAdder

  def batchCount: Long = batches.sum
  def batchSizeBytes: Long = bytes.sum
  def splitBatchCount: Long = splits.sum
  def appendRetries: Long = retries.sum

  /** One append delivered `sizeBytes` bytes. */
  def addBatch(sizeBytes: Long): Unit = { batches.increment(); bytes.add(sizeBytes) }
  def addSplit(): Unit = splits.increment()
  def addRetry(): Unit = retries.increment()
}
