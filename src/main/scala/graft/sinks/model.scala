package graft.sinks

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Destination-table coordinates, mirroring the reference's
  * `TableId`/`TableName` usage (model/Rows.java:24-28): a batch is
  * always bound to a table and a write stream name. */
case class TableRef(project: String, dataset: String, table: String) {
  def fullPath: String = s"projects/$project/datasets/$dataset/tables/$table"
  def defaultStream: String = s"$fullPath/streams/_default"
}

/** model/BigQueryRecord.java analog: user record types that know
  * their destination table and serialized size. Writers accept either
  * this or an explicit `sizeOf` function — [[RowBatch.of]] groups a
  * record sequence into per-table default-stream batches the way the
  * reference's processor routes records by `getTable()`. */
trait GraftRecord {
  def table: TableRef
  def sizeBytes: Long
}

/** A batch of rows bound to a (stream, offset, table) — the Spark
  * re-expression of model/Rows.java. `offset == -1` marks the
  * at-least-once default stream (Rows.defaultStream). */
case class RowBatch[A](data: Seq[A], offset: Long, stream: String, table: TableRef) {
  def updateBatch(newData: Seq[A], newOffset: Long): RowBatch[A] =
    copy(data = newData, offset = newOffset)
}

object RowBatch {
  def defaultStream[A](data: Seq[A], table: TableRef): RowBatch[A] =
    RowBatch(data, -1L, table.defaultStream, table)

  /** Routes self-describing records into one default-stream batch per
    * destination table (BigQueryStreamProcessor's per-table grouping). */
  def of[A <: GraftRecord](records: Seq[A]): Seq[RowBatch[A]] =
    records.groupBy(_.table).toSeq.sortBy(_._1.fullPath)
      .map { case (t, rs) => defaultStream(rs, t) }
}

/** Per-key exactly-once stream bookkeeping, mirroring
  * process/StreamState.java: a named write stream, the next append
  * offset, and a last-update watermark used for TTL-based recreation
  * (StreamStateHandler.java:137-149). */
case class StreamState(name: String, offset: Long, lastUpdateMillis: Long) {
  def expired(ttlDays: Int, nowMillis: Long): Boolean =
    nowMillis >= lastUpdateMillis + ttlDays.toLong * 24 * 60 * 60 * 1000
  def advance(batchSize: Long, nowMillis: Long): StreamState =
    copy(offset = offset + batchSize, lastUpdateMillis = nowMillis)
}

/** Reference metric surface (metric/BigQueryStreamMetrics.java) as a
  * plain value the writers update; wire to Spark accumulators or a
  * metrics registry at the edge. Counters are `LongAdder`s: appends
  * that share one `SinkMetrics` (a `PooledStreamAppender` used from a
  * thread pool) bump them concurrently, where a read-modify-write of a
  * plain field loses updates. */
final class SinkMetrics extends Serializable {
  private val offset = new AtomicLong
  private val batches = new LongAdder
  private val bytes = new LongAdder
  private val splits = new LongAdder
  private val retries = new LongAdder

  def streamOffset: Long = offset.get
  def batchCount: Long = batches.sum
  def batchSizeBytes: Long = bytes.sum
  def splitBatchCount: Long = splits.sum
  def appendRetries: Long = retries.sum

  def setStreamOffset(o: Long): Unit = offset.set(o)
  /** One append delivered `sizeBytes` bytes. */
  def addBatch(sizeBytes: Long): Unit = { batches.increment(); bytes.add(sizeBytes) }
  def addSplit(): Unit = splits.increment()
  def addRetry(): Unit = retries.increment()
}
