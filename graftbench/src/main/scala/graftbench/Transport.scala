package graftbench

import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, LongAdder}

import graft.sinks.BatchAppender
import graft.sinks.RetryPolicy.{RetryableException, WriterClosedException}

/** The benchmark's in-memory append target for the at-least-once faces.
  *
  * It counts every delivered `event_id`, so a face can be checked for
  * exactly-once delivery, and it fails exactly one append per face: the
  * append with sequence number `faultAt` (seeded) throws a transient or
  * a writer-closed error and delivers nothing; the sink's retry of it
  * is a new append and succeeds.
  *
  * State is JVM-global because Spark serializes the transport closure
  * into each task; in `local[N]` every task runs in this JVM. */
object Transport {
  @volatile private var received = new AtomicIntegerArray(0)
  @volatile private var faultAt = -1L
  @volatile private var writerClosed = false
  private val sequence = new AtomicLong()
  val appends = new LongAdder
  val transient = new LongAdder
  val closed = new LongAdder
  val writersCreated = new LongAdder
  val busyNanos = new LongAdder

  /** Starts a face: ids [0, rows) are expected exactly once each. */
  def reset(rows: Int, faultAt: Long, writerClosed: Boolean): Unit = {
    received = new AtomicIntegerArray(rows)
    sequence.set(0)
    this.faultAt = faultAt
    this.writerClosed = writerClosed
  }

  /** Ids delivered other than exactly once, as (missing, duplicated). */
  def deliveryErrors(): (Int, Int) = {
    var missing, dup = 0
    var i = 0
    while (i < received.length()) {
      val c = received.get(i)
      if (c == 0) missing += 1 else if (c > 1) dup += 1
      i += 1
    }
    (missing, dup)
  }

  /** `{"event_id":<digits>,...`: the serializer writes fields in schema
    * order and event_id is first and never null. */
  private def eventId(line: Array[Byte]): Int = {
    var i = 12
    var v = 0
    while (i < line.length && line(i) >= '0' && line(i) <= '9') { v = v * 10 + (line(i) - '0'); i += 1 }
    v
  }

  def append(rows: Seq[Array[Byte]]): Unit = {
    val t0 = System.nanoTime()
    try {
      appends.increment()
      if (sequence.getAndIncrement() == faultAt) {
        if (writerClosed) { closed.increment(); throw WriterClosedException("injected") }
        else { transient.increment(); throw RetryableException("injected") }
      }
      val r = received
      rows.foreach(line => r.incrementAndGet(eventId(line)))
    } finally busyNanos.add(System.nanoTime() - t0)
  }

  /** Default-stream transport for `GraftSink.writeAtLeastOnce`. */
  val defaultStream: Seq[Array[Byte]] => Unit = rows => Transport.append(rows)

  /** Per-stream writer factory for `GraftSink.writeKeyedAtLeastOnce`. */
  val keyedWriter: String => BatchAppender[Array[Byte]] = _ => {
    Transport.writersCreated.increment()
    new BatchAppender[Array[Byte]] {
      override def append(rows: Seq[Array[Byte]]): Unit = Transport.append(rows)
      override def close(): Unit = ()
    }
  }
}
