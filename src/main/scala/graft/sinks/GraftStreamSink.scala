package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Delivery guarantees, mirroring the reference's use of Flink's
  * DeliveryGuarantee in BigQueryStreamSink/BigQueryStreamProcessor. */
object DeliveryGuarantee extends Enumeration {
  val ExactlyOnce, AtLeastOnce = Value
}

/** Fluent sink facade — the graft analog of the reference's
  * `BigQueryStreamSink.newBuilder()` (BigQueryStreamSink.java): pick a
  * delivery guarantee, a row serializer and a destination, get back an
  * object that attaches to any streaming DataFrame.
  *
  *  - ExactlyOnce → epoch-ledger parquet sink (replayed epochs no-op),
  *    the BUFFERED-stream + commit protocol analog.
  *  - AtLeastOnce → [[GraftSink.writeAtLeastOnce]]: distributed
  *    batched appends to the table's default stream, split to
  *    `maxAppendBytes` and retried with backoff.
  */
class GraftStreamSink private (guarantee: DeliveryGuarantee.Value,
                               table: TableRef,
                               path: String,
                               settings: WriterSettings,
                               transport: Option[Seq[Array[Byte]] => Unit]) {

  private val exactlyOnce = new ExactlyOnceParquetSink(path)

  /** Attach to a streaming DataFrame; checkpointing drives epoch ids. */
  def start(df: DataFrame, checkpointLocation: String): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        addBatch(batch, epochId)
        ()
      }
      .start()

  /** One micro-batch (exposed for tests and foreachBatch reuse). */
  def addBatch(batch: DataFrame, epochId: Long): Unit = guarantee match {
    case DeliveryGuarantee.ExactlyOnce =>
      exactlyOnce.addBatch(batch, epochId)
    case DeliveryGuarantee.AtLeastOnce =>
      val sink = transport.getOrElse(GraftStreamSink.fileTransport(path))
      GraftSink.writeAtLeastOnce(batch, table, settings, sink)
  }

  def committedEpochs(): Set[Long] = exactlyOnce.committedEpochs()
}

object GraftStreamSink {

  /** Default transport: one jsonl file per append under `path`, each
    * payload followed by `\n`. Payloads are written as they are: both
    * encoders write valid UTF-8. */
  private[sinks] def fileTransport(path: String): Seq[Array[Byte]] => Unit = { batch =>
    val dir = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve(java.util.UUID.randomUUID().toString + ".jsonl")
    val file = new Array[Byte](batch.iterator.map(_.length + 1).sum)
    var at = 0
    batch.foreach { r =>
      System.arraycopy(r, 0, file, at, r.length)
      file(at + r.length) = '\n'
      at += r.length + 1
    }
    java.nio.file.Files.write(f, file)
  }

  def newBuilder(): Builder = new Builder()

  final class Builder private[GraftStreamSink] () {
    private var guarantee = DeliveryGuarantee.AtLeastOnce
    private var table = TableRef("project", "dataset", "table")
    private var path: String = _
    private var settings = WriterSettings()
    private var transport: Option[Seq[Array[Byte]] => Unit] = None

    def withDeliveryGuarantee(g: DeliveryGuarantee.Value): Builder = { guarantee = g; this }
    def withTable(t: TableRef): Builder = { table = t; this }
    def withPath(p: String): Builder = { path = p; this }
    def withWriterSettings(s: WriterSettings): Builder = { settings = s; this }
    def withTransport(t: Seq[Array[Byte]] => Unit): Builder = { transport = Some(t); this }

    def build(): GraftStreamSink = {
      require(path != null, "withPath is required")
      new GraftStreamSink(guarantee, table, path, settings, transport)
    }
  }
}
