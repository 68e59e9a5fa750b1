package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call. `unit` is the pass or epoch the span belongs to. */
final case class Span(id: Int, parent: Int, name: String, unit: String, startNs: Long, endNs: Long,
                      counters: Map[String, Double])

/** Spans kept in memory and written out when the run ends. With tracing
  * off, `span` only times its body, so traced and untraced runs execute
  * the same calls. */
final class Tracer(val enabled: Boolean) {
  val t0: Long = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  /** Runs `body` as a span; returns its result and wall time in ms. */
  def span[T](name: String, unit: String = "")(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val s = System.nanoTime()
    val r = try body finally stack = stack.tail
    val e = System.nanoTime()
    if (enabled) spans += Span(id, parent, name, unit, s - t0, e - t0, Map.empty)
    (r, (e - s) / 1e6)
  }

  def timed(name: String, unit: String = "")(body: => Unit): Double = span(name, unit)(body)._2

  /** Attaches counters to the last recorded span named `name`. */
  def annotate(name: String, counters: Map[String, Double]): Unit =
    if (enabled) {
      val i = spans.lastIndexWhere(_.name == name)
      if (i >= 0) spans(i) = spans(i).copy(counters = spans(i).counters ++ counters)
    }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "unit" -> s.unit,
        "start_us" -> s.startNs / 1000, "end_us" -> s.endNs / 1000,
        "counters" -> s.counters))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark's public channels, read from outside the library: the
  * scheduler listener (jobs, stages, tasks, shuffle, spill), the
  * query-execution listener (Catalyst phase times) and the streaming
  * listener (per-epoch `durationMs`). Registered only in traced runs. */
final class SparkChannels extends SparkListener {
  private val lock = new Object
  var jobs = 0L
  var stages = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var lastJobEndMs = 0L
  val stageSkew = mutable.ArrayBuffer.empty[Double]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val resultStages = mutable.Set.empty[Int]
  var resultStageTaskMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobs += 1
    if (e.stageInfos.nonEmpty) resultStages += e.stageInfos.map(_.stageId).max
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    lastJobEndMs = math.max(lastJobEndMs, e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (e.taskInfo != null) {
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += e.taskInfo.duration
      if (resultStages.contains(e.stageId) && e.taskMetrics != null)
        resultStageTaskMs += e.taskMetrics.executorRunTime
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stages += 1
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    taskTimes.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ts =>
      if (ts.size >= 2) {
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2)
        if (med > 0) stageSkew += sorted.last.toDouble / med
      }
    }
  }

  def snapshot(): Map[String, Double] = lock.synchronized {
    Map("jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
      "shuffle_write_bytes" -> shuffleWriteBytes.toDouble, "spill_bytes" -> spillBytes.toDouble)
  }
}

/** Catalyst phase times (analysis + optimization + planning) of every
  * action, from `QueryExecution.tracker`. */
final class PlanningChannel extends QueryExecutionListener {
  val planningMs = new java.util.concurrent.atomic.AtomicLong()
  private def add(qe: QueryExecution): Unit =
    planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Per-epoch `StreamingQueryProgress.durationMs`, keyed by query id. */
final class StreamChannel extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Map[String, Long])]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      progress.add((p.id.toString, p.batchId, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}
