package graft.sinks

import java.time.Duration

/** model/config/WriterRetrySettings.java analog: how many times a
  * failed append is retried and how long [[RetryPolicy.withRetries]]
  * sleeps before each retry. */
case class WriterRetrySettings(maxRetries: Int = 3,
                               initialBackoff: Duration = Duration.ofMillis(100),
                               backoffMultiplier: Double = 2.0,
                               maxBackoff: Duration = Duration.ofSeconds(10)) {
  /** Sleep before retry number `attempt + 1`: `initialBackoff` grown by
    * `backoffMultiplier` per earlier retry, capped at `maxBackoff`. */
  def backoffFor(attempt: Int): Duration = {
    val ms = initialBackoff.toMillis * math.pow(backoffMultiplier, attempt.toDouble)
    Duration.ofMillis(math.min(ms, maxBackoff.toMillis.toDouble).toLong)
  }
}

/** model/config/WriterSettings.java analog: the knobs both
  * [[GraftSink]] faces read.
  *
  *  - `maxBatchCount` / `maxBatchBytes`: a stream's buffer is flushed
  *    when it holds this many rows or bytes (the reference's batch
  *    trigger).
  *  - `maxAppendBytes`: the API's append limit. A flush larger than
  *    this is halved until every append fits; a single record larger
  *    than this can never fit, so it is rejected before buffering with
  *    [[RecordTooLargeException]].
  *  - `retry`: retries and backoff of a failed append.
  *
  * The reference's batch timeout has no meaning inside a bounded
  * partition write; the streaming batcher, `Streams.timeoutBatcher`,
  * takes its timeout and reset-on-new-record flag as parameters. */
case class WriterSettings(maxAppendBytes: Long = 9L * 1024 * 1024,
                          maxBatchCount: Long = 100,
                          maxBatchBytes: Long = 1024 * 1024,
                          retry: WriterRetrySettings = WriterRetrySettings())

/** A serialized record longer than `maxAppendBytes`: no batch split can
  * make it fit, so it is rejected per record, like AsyncSinkBase's
  * maxRecordSizeInBytes check. */
final case class RecordTooLargeException(size: Long, limit: Long)
  extends RuntimeException(s"record of $size bytes exceeds maxAppendBytes=$limit")
