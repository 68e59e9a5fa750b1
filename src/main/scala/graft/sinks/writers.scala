package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Duration

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

import scala.annotation.tailrec
import scala.util.control.NonFatal

/** Retry classification + bounded retry loop with backoff — the Spark
  * analog of the reference's status-code switches (sink/defaultStream/
  * BigQueryDefaultSinkWriter.java: retry on INTERNAL/CANCELLED/ABORTED;
  * recreate on MAXIMUM_BATCHING_ERROR) and WriterRetrySettings. */
object RetryPolicy {
  sealed trait Classification
  case object Retryable extends Classification
  case object RecreateWriter extends Classification
  case object Fatal extends Classification

  final case class RetryableException(msg: String) extends RuntimeException(msg)
  final case class WriterClosedException(msg: String) extends RuntimeException(msg)

  def classify(t: Throwable): Classification = t match {
    case _: RetryableException => Retryable
    case _: WriterClosedException => RecreateWriter
    case _ => Fatal
  }

  /** The production sleeper: blocks the calling thread. */
  val threadSleep: Duration => Unit = d => Thread.sleep(d.toMillis)

  /** Runs `op`, retrying Retryable and writer-closed failures up to
    * `retry.maxRetries` times; a writer-closed failure first calls
    * `onRecreate` (fresh writer). Before retry `n` (from 0) it passes
    * `retry.backoffFor(n)` to `sleep`, which tests replace. Fatal
    * failures and the last failed attempt are rethrown. */
  def withRetries[T](retry: WriterRetrySettings, metrics: SinkMetrics = new SinkMetrics,
                     sleep: Duration => Unit = threadSleep)(
      op: () => T, onRecreate: () => Unit = () => ()): T = {
    @tailrec def loop(attempt: Int): T = {
      val r = try Right(op()) catch { case NonFatal(t) => Left(t) }
      r match {
        case Right(v) => v
        case Left(t) =>
          val c = classify(t)
          if (c == Fatal || attempt >= retry.maxRetries) throw t
          metrics.addRetry()
          if (c == RecreateWriter) onRecreate()
          sleep(retry.backoffFor(attempt))
          loop(attempt + 1)
      }
    }
    loop(0)
  }
}

/** One stream's transport: appends batches, closeable. The pluggable
  * seam a real gRPC stream writer would implement. */
trait BatchAppender[A] extends AutoCloseable {
  def append(rows: Seq[A]): Unit
}

/** Pooled per-stream writer registry — the analog of the reference's
  * writer pool behind ClientProvider.getWriter (client/
  * BigQueryStreamWriter.java, JsonStreamWriter.java): one live writer
  * per stream name, created lazily, reused across appends, dropped and
  * rebuilt on writer-closed failures, all closed on shutdown. Gauges
  * mirror the pooled-writer metrics the reference exposes. */
class WriterPool[W <: AutoCloseable](create: String => W) extends AutoCloseable {
  private val writers = new java.util.concurrent.ConcurrentHashMap[String, W]()
  private val created = new java.util.concurrent.atomic.AtomicLong()
  private val recreations = new java.util.concurrent.atomic.AtomicLong()

  def get(stream: String): W =
    writers.computeIfAbsent(stream, s => { created.incrementAndGet(); create(s) })

  /** Drop and close `stream`'s writer; the next get() builds a fresh
    * one — the pool-side half of RetryPolicy.RecreateWriter. */
  def recreate(stream: String): W = {
    val old = writers.remove(stream)
    if (old != null) { try old.close() catch { case NonFatal(_) => () } }
    recreations.incrementAndGet()
    get(stream)
  }

  def size: Int = writers.size()
  def createdCount: Long = created.get()
  def recreatedCount: Long = recreations.get()

  override def close(): Unit = {
    writers.values().forEach(w => try w.close() catch { case NonFatal(_) => () })
    writers.clear()
  }
}

/** Routes keyed batches to pooled per-stream writers with the full
  * retry ladder: transient failures retry in place, writer-closed
  * failures recreate the stream's writer through the pool and retry,
  * each retry after its backoff
  * (reference: BigQueryDefaultSinkWriter status switch + getWriter). */
class PooledStreamAppender[A](newWriter: String => BatchAppender[A],
                              retry: WriterRetrySettings = WriterRetrySettings(),
                              val metrics: SinkMetrics = new SinkMetrics,
                              sleep: Duration => Unit = RetryPolicy.threadSleep)
    extends AutoCloseable {
  val pool = new WriterPool[BatchAppender[A]](newWriter)

  def append(stream: String, rows: Seq[A]): Unit =
    RetryPolicy.withRetries(retry, metrics, sleep)(
      () => pool.get(stream).append(rows),
      onRecreate = () => pool.recreate(stream))

  override def close(): Unit = pool.close()
}

/** Exactly-once micro-batch sink: the Spark re-expression of the
  * reference's BUFFERED-stream + commit-on-checkpoint protocol
  * (sink/buffered/BigQueryBufferedSinkWriter.java +
  * BigQuerySinkCommitter.java). In Structured Streaming the epoch id of
  * `foreachBatch` is the checkpointed offset: a replayed epoch must not
  * re-append. We write each epoch under an epoch-scoped directory and
  * atomically record it in a commit ledger; replays of committed epochs
  * are no-ops (idempotent 2-phase commit). Offsets in the ledger are
  * monotone, like the reference's per-stream append offset
  * (process/StreamState.java; here `Streams.assignOffsets`).
  */
class ExactlyOnceParquetSink(basePath: String) extends Serializable {
  private def ledgerDir: Path = Paths.get(basePath, "_graft_commits")

  def committedEpochs(): Set[Long] = {
    val d = ledgerDir
    if (!Files.isDirectory(d)) Set.empty
    else {
      val it = Files.list(d).iterator()
      var s = Set.empty[Long]
      while (it.hasNext) {
        val name = it.next().getFileName.toString
        if (name.endsWith(".committed")) s += name.stripSuffix(".committed").toLong
      }
      s
    }
  }

  /** foreachBatch body. Returns true if the epoch was appended, false
    * if it was a replay of a committed epoch. */
  def addBatch(df: DataFrame, epochId: Long): Boolean = {
    // markers are only ever written as <epoch>.committed: one lookup,
    // however many epochs the ledger holds
    if (Files.exists(ledgerDir.resolve(s"$epochId.committed"))) return false
    // Phase 1: write data under the epoch directory (overwrite-safe on
    // partial previous attempts of the SAME epoch — BigQuery analog:
    // append at a fixed offset is rejected/ignored when already there).
    // The marker's row count is observed by the write job itself, so an
    // epoch costs one Spark job, not a second count over the batch.
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(s"$basePath/epoch=$epochId")
    // Phase 2: atomic commit marker (temp + ATOMIC_MOVE = flush offset).
    Files.createDirectories(ledgerDir)
    val tmp = ledgerDir.resolve(s".$epochId.tmp")
    Files.writeString(tmp, String.valueOf(written.get("rows")))
    Files.move(tmp, ledgerDir.resolve(s"$epochId.committed"),
      StandardCopyOption.ATOMIC_MOVE)
    true
  }

  /** All committed data, for reads (uncommitted epochs invisible).
    * One multi-path scan, not a union per epoch: a long-lived stream
    * accumulates thousands of epochs and a union chain that deep is a
    * plan-size problem before it is a data problem. */
  def read(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val epochs = committedEpochs().toSeq.sorted
    if (epochs.isEmpty) spark.emptyDataFrame
    else spark.read.option("basePath", basePath)
      .parquet(epochs.map(e => s"$basePath/epoch=$e"): _*)
      .drop("epoch")
  }
}
