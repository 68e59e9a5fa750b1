package graft.sinks

import java.time.Duration

/** Credential sources — model/config/{Credentials, FileCredentials
  * Provider, JsonCredentialsProvider, DefaultCredentials}.java
  * re-expressed without a cloud SDK: resolution yields an opaque token
  * used by the transport layer (tests inject their own). */
sealed trait CredentialsProvider extends Serializable {
  def resolve(): String
}
case class FileCredentialsProvider(path: String) extends CredentialsProvider {
  override def resolve(): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
}
case class JsonCredentialsProvider(json: String) extends CredentialsProvider {
  override def resolve(): String = json
}
case object DefaultCredentials extends CredentialsProvider {
  override def resolve(): String =
    sys.env.getOrElse("GRAFT_DEFAULT_CREDENTIALS", "")
}

/** model/config/WriterRetrySettings.java analog. */
case class WriterRetrySettings(maxRetries: Int = 3,
                               initialBackoff: Duration = Duration.ofMillis(100),
                               backoffMultiplier: Double = 2.0,
                               maxBackoff: Duration = Duration.ofSeconds(10)) {
  def backoffFor(attempt: Int): Duration = {
    val ms = initialBackoff.toMillis * math.pow(backoffMultiplier, attempt.toDouble)
    Duration.ofMillis(math.min(ms, maxBackoff.toMillis.toDouble).toLong)
  }
}

/** model/config/WriterSettings.java analog: transport/batching knobs
  * shared by the writers. Builder-style copy methods mirror the
  * reference's builder surface. */
case class WriterSettings(streamsPerRegion: Int = 1,
                          maxAppendBytes: Long = 9L * 1024 * 1024,
                          maxInFlightRequests: Int = 4,
                          maxBufferedRequests: Int = 10,
                          maxBatchCount: Long = 100,
                          maxBatchBytes: Long = 1024 * 1024,
                          maxRecordBytes: Long = 9L * 1024 * 1024,
                          batchTimeout: Duration = Duration.ofSeconds(1),
                          resetTimerOnNewRecord: Boolean = false,
                          retry: WriterRetrySettings = WriterRetrySettings()) {
  def withMaxInFlight(n: Int): WriterSettings = copy(maxInFlightRequests = n)
  def withMaxBuffered(n: Int): WriterSettings = copy(maxBufferedRequests = n)
  def withBatch(count: Long, bytes: Long): WriterSettings =
    copy(maxBatchCount = count, maxBatchBytes = bytes)
  def withMaxRecordBytes(n: Long): WriterSettings = copy(maxRecordBytes = n)
  def withRetry(r: WriterRetrySettings): WriterSettings = copy(retry = r)
}

/** A record exceeding maxRecordBytes — no batch split can help, so it
  * is rejected per-record, exactly like AsyncSinkBase's
  * maxRecordSizeInBytes check. */
final case class RecordTooLargeException(size: Long, limit: Long)
  extends RuntimeException(s"record of $size bytes exceeds maxRecordBytes=$limit")

/** sink/async/AsyncBigQuerySinkWriter.java analog: bounded buffered
  * appender with an in-flight permit cap and rate-limited submission.
  * Synchronous harness-friendly: `submit` enqueues, `flush` drains with
  * at most maxInFlightRequests concurrent transport calls. */
class AsyncBatchWriter[A](transport: Seq[A] => Unit, settings: WriterSettings,
                          val metrics: SinkMetrics = new SinkMetrics,
                          sizeOf: A => Long = (_: A) => 0L) {
  private val buffer = new java.util.concurrent.LinkedBlockingQueue[Seq[A]](settings.maxBufferedRequests)
  private val inFlight = new java.util.concurrent.Semaphore(settings.maxInFlightRequests)
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()

  /** Blocks when maxBufferedRequests is reached (backpressure).
    * Oversized records are rejected before buffering — splitting can
    * never shrink a single record below the API limit. */
  def submit(batch: Seq[A]): Unit = {
    batch.foreach { r =>
      val sz = sizeOf(r)
      if (sz > settings.maxRecordBytes) throw RecordTooLargeException(sz, settings.maxRecordBytes)
    }
    buffer.put(batch)
  }

  /** Gauges mirroring AsyncBigQueryStreamMetrics.java. */
  def bufferedRequests: Int = buffer.size()
  def inFlightRequests: Int = settings.maxInFlightRequests - inFlight.availablePermits()

  def flush(): Unit = {
    val futures = new java.util.ArrayList[java.util.concurrent.Future[_]]()
    var b = buffer.poll()
    while (b != null) {
      val batch = b
      inFlight.acquire()
      futures.add(pool.submit(new Runnable {
        override def run(): Unit =
          try {
            RetryPolicy.withRetries(settings.retry.maxRetries, metrics)(() => transport(batch))
            metrics.addBatch(0L)
          } finally inFlight.release()
      }))
      b = buffer.poll()
    }
    futures.forEach(f => f.get())
  }

  def close(): Unit = { flush(); pool.shutdown() }
}
