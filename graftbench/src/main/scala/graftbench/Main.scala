package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sinks._
import graft.sources.{GraftBqMetrics, GraftBqWrite}

/** Sizes of one run. `full` is the benchmark; `tiny` drives the same
  * code on small inputs for the smoke test. The batch input has
  * `Shape.batchRows / rowDivisor` rows. */
final case class Sizes(rowDivisor: Int, epochRows: Int, epochPool: Int,
                       warmPasses: Int, scanRows: Int, setupReps: Int, mixSf: String)

object Sizes {
  val full = Sizes(rowDivisor = 1, epochRows = 1000, epochPool = 20,
    warmPasses = 2, scanRows = 160000, setupReps = 3, mixSf = "sf0.01")
  val tiny = Sizes(rowDivisor = 100, epochRows = 50, epochPool = 4,
    warmPasses = 1, scanRows = 2000, setupReps = 1, mixSf = "sf0.001")
}

final case class MixPass(queries: Int, queryMs: Double, scanRows: Long, scanMs: Double,
                         perQuery: Map[String, Double], scans: Map[String, Double])

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, fingerprints: Path, testdata: String, size: String)

object Main {
  /** End-to-end metrics (untraced runs) and their units. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "alo_rows_per_s" -> "rows/s", "eo_rows_per_s" -> "rows/s",
    "epoch_p50_ms" -> "ms", "ledger_epoch_p50_ms" -> "ms",
    "mix_queries_per_min" -> "1/min", "bq_scan_rows_per_s" -> "rows/s")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("fingerprints")), need("testdata"),
      m.getOrElse("size", "full"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val shape = Shape.all.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}; known: ${Shape.all.keys.mkString(", ")}"))
    val sizes = if (args.size == "tiny") Sizes.tiny else Sizes.full
    val code = try {
      val line = new Run(args, shape, sizes).execute()
      System.out.flush()
      println(line)
      0
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }
}

/** One benchmark run in one JVM: set-up, then timed rounds of the three
  * closed-loop phases, then the correctness checks. */
final class Run(args: Args, shape: Shape, sizes: Sizes) {
  private val tracer = new Tracer(args.trace)
  private val cores = math.min(4, Runtime.getRuntime.availableProcessors())
  /** Four tasks per core, so one slow task does not set a stage's time. */
  private val parts = 4 * cores
  private val table = TableRef("bench", "graft", "events")
  private val settings = WriterSettings(maxBatchCount = shape.maxBatchCount,
    maxBatchBytes = shape.maxBatchBytes, maxAppendBytes = shape.maxAppendBytes)
  private val sfDir = s"${args.testdata}/${sizes.mixSf}"
  private val batchRows = shape.batchRows / sizes.rowDivisor
  /** Empty epochs committed into the `graft-bq` streaming sink before timing. */
  private val agedEpochs = 300
  /** Exactly-once writes per batch pass. */
  private val eoWrites = 2

  private val channels = new SparkChannels
  private val planning = new PlanningChannel
  private val streamChannel = new StreamChannel

  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  /** Per-layer values collected along the run (traced runs report them). */
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val e2e = mutable.LinkedHashMap.empty[String, Double]

  /** A timed operation: an exception counts it as failed. */
  private def op[T](name: String, unit: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    try Some(tracer.span(name, unit)(body)) catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name/$unit: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  private def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case NonFatal(e) => failures += s"check $name: $e"; false }
    checks += name -> pass
    if (!pass) { failed += 1; failures += s"check failed: $name" }
  }

  private def dir(name: String): String = args.work.resolve(name).toString

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  def execute(): String = {
    val loadBefore = Host.loadavg()
    val (steal0, jiff0) = Host.cpuJiffies()
    deleteTree(args.work)
    Files.createDirectories(args.work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      // the three phases share one JVM; with the default 100 entries the
      // query mix evicts the sink phases' generated classes and the first
      // pass after every phase switch recompiles them
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - Host.jvmStartMs()) / 1e3
    // after sessionS, so setup_s holds no host-probe time
    val calibStart = Host.calibrationMs(cores)

    if (args.trace) {
      spark.sparkContext.addSparkListener(channels)
      spark.listenerManager.register(planning)
      spark.streams.addListener(streamChannel)
    }

    try {
      // ---- set-up: inputs (repeated; the median counts), then warm-up
      val gen = new Gen(args.seed, shape)
      var inputs: Inputs = null
      val buildS = (1 to sizes.setupReps).map { rep =>
        if (inputs != null) inputs.release()
        tracer.timed("setup.inputs", s"rep-$rep") { inputs = buildInputs(spark, gen) } / 1e3
      }
      var streams: Streams = null
      val agingS = tracer.timed("setup.aging") { streams = new Streams(spark, inputs) } / 1e3
      // warm-up: the first rounds after start run up to twice as long as
      // later ones while the JIT and Spark's code generation settle
      val warmS = tracer.timed("setup.warmup") {
        (1 to sizes.warmPasses).foreach(_ => round(spark, inputs, streams, "warmup", timedRun = false))
      } / 1e3
      val setupS = sessionS + Stats.median(buildS) + agingS + warmS
      e2e("setup_s") = setupS

      // ---- timed rounds, until --seconds have passed (at least two)
      if (args.trace) ListenerDrain(spark.sparkContext)
      val snap0 = channels.snapshot()
      val planning0 = planning.planningMs.get()
      val skew0 = channels.stageSkew.size
      val gc0 = Host.gcMs()
      val cpu0 = Host.processCpuNs()
      val wall0 = System.nanoTime()
      val batch = new BatchResults
      val mix = mutable.ArrayBuffer.empty[MixPass]
      val end = System.nanoTime() + args.seconds * 1000000000L
      var rounds = 0
      while (rounds < 2 || System.nanoTime() < end) {
        val (b, m) = round(spark, inputs, streams, s"round-$rounds", timedRun = true)
        batch += b
        mix += m
        rounds += 1
      }
      val wallNs = System.nanoTime() - wall0
      val cpuNs = Host.processCpuNs() - cpu0
      val gcMs = Host.gcMs() - gc0
      if (args.trace) ListenerDrain(spark.sparkContext)
      val snap1 = channels.snapshot()

      // ---- end-to-end metrics: medians over passes and epochs
      e2e("peak_rss_mb") = Host.peakRssMb()
      e2e("alo_rows_per_s") = Stats.median(batch.aloRowsPerS)
      e2e("eo_rows_per_s") = Stats.median(batch.eoRowsPerS)
      e2e("epoch_p50_ms") = Stats.median(streams.bqLatencies)
      e2e("ledger_epoch_p50_ms") = Stats.median(streams.ledgerLatencies)
      e2e("mix_queries_per_min") = Stats.median(mix.map(x => x.queries * 60000.0 / x.queryMs))
      e2e("bq_scan_rows_per_s") = Stats.median(mix.map(x => x.scanRows * 1000.0 / x.scanMs))

      // ---- correctness checks over what the timed phases left behind
      tracer.timed("checks")(verify(spark, inputs, streams))

      // ---- per-layer metrics (listeners registered only when tracing)
      if (args.trace) {
        batch.report(layer)
        serializeProbe(spark, inputs)
        batcherShape(spark, inputs)
        streams.report(layer, streamChannel)
        mix.headOption.foreach { first =>
          first.perQuery.keys.foreach(q => layer(s"q.${q}_ms") = Stats.median(mix.flatMap(_.perQuery.get(q))))
          Seq("full", "pruned", "pushed").foreach(s =>
            layer(s"sources.scan_${s}_ms") = Stats.median(mix.flatMap(_.scans.get(s))))
        }
        layer("spark.jobs") = snap1("jobs") - snap0("jobs")
        layer("spark.stages") = snap1("stages") - snap0("stages")
        layer("spark.planning_ms") = (planning.planningMs.get() - planning0).toDouble
        layer("spark.shuffle_write_mb") = (snap1("shuffle_write_bytes") - snap0("shuffle_write_bytes")) / 1e6
        layer("spark.spill_mb") = (snap1("spill_bytes") - snap0("spill_bytes")) / 1e6
        layer("spark.gc_ms") = gcMs.toDouble
        layer("spark.task_skew") = Stats.median(channels.stageSkew.drop(skew0).toSeq)
        layer("spark.cpu_util") = cpuNs.toDouble / (wallNs.toDouble * cores)
      }
      streams.stop()
      val inputJson = inputs.fingerprintJson
      inputs.release()

      // ---- host telemetry
      val calibEnd = Host.calibrationMs(cores)
      val (steal1, jiff1) = Host.cpuJiffies()
      val host = Seq("host.calib_ms" -> calibStart, "host.calib_end_ms" -> calibEnd,
        "host.loadavg_before" -> loadBefore, "host.loadavg_after" -> Host.loadavg(),
        "host.steal_pct" -> (if (jiff1 > jiff0) 100.0 * (steal1 - steal0) / (jiff1 - jiff0) else 0.0))
      host.foreach { case (k, v) => layer(k) = v }
      if (args.trace) endToEndNames.foreach(n => layer(s"traced.$n") = e2e(n))

      val units = Main.endToEnd.toMap ++ Layers.units
      val reported: Seq[(String, Double)] =
        if (args.trace) layer.toSeq else endToEndNames.map(n => n -> e2e(n))
      val metrics = reported.map { case (k, v) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> units.getOrElse(k, "count"))))
      }
      val report = Json.obj(Seq(
        "workload" -> shape.name, "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> args.trace,
        "cores" -> cores, "input" -> Json.Raw(inputJson), "mix_queries" -> Mix.queries,
        "checks" -> Json.Raw(Json.obj(checks.toSeq)), "failures" -> failures.toSeq,
        "rounds" -> rounds, "aged_manifests" -> streams.agedManifests,
        "setup" -> Json.Raw(Json.obj(Seq("session_s" -> sessionS, "inputs_s" -> buildS,
          "aging_s" -> agingS, "warmup_s" -> warmS))),
        "host" -> Json.Raw(Json.obj(host)),
        "samples" -> Map("alo_rows_per_s" -> batch.aloRowsPerS, "eo_rows_per_s" -> batch.eoRowsPerS,
          "epoch_ms" -> streams.bqLatencies, "ledger_epoch_ms" -> streams.ledgerLatencies,
          "mix_pass_ms" -> mix.map(_.queryMs), "scan_pass_ms" -> mix.map(_.scanMs),
          "alo_default_ms" -> batch.counters.flatMap(_.get("alo_default_ms")),
          "alo_keyed_ms" -> batch.counters.flatMap(_.get("alo_keyed_ms"))),
        "end_to_end" -> e2e.toMap, "per_layer" -> layer.toMap))
      Files.write(args.work.resolveSibling("report.json"), report.getBytes("UTF-8"))
      if (args.trace) tracer.write(args.work.resolveSibling("trace.jsonl"))
      System.err.println(s"[graftbench] ${shape.name} seed=${args.seed} " +
        host.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ") +
        s" checks=${checks.count(_._2)}/${checks.size} failures=${failures.mkString("; ")}")
      Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> Json.Raw(Json.obj(metrics))))
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      spark.stop()
      deleteTree(args.work)
    }
  }

  private def endToEndNames: Seq[String] = Main.endToEnd.map(_._1)

  /** One unit of every phase, with the stream epochs in three small blocks
    * between and around the others: each metric's samples spread over the
    * whole window, so a host whose speed drifts during the run moves them
    * all alike, and a few slow seconds hit few epochs. */
  private def round(spark: SparkSession, in: Inputs, streams: Streams, unit: String,
                    timedRun: Boolean): (BatchPass, MixPass) = {
    streams.block(unit)
    val b = batchPass(spark, in, unit, timedRun)
    streams.block(unit)
    val m = mixPass(spark, in, unit, timedRun)
    streams.block(unit)
    (b, m)
  }

  // ------------------------------------------------------------------
  // inputs

  final class Inputs(val batch: DataFrame, val batchFp: (Long, Long),
                     val pool: IndexedSeq[Seq[Event]], val poolFp: IndexedSeq[(Long, Long)],
                     val scanPath: String, val scanFp: (Long, Long), val corruptLines: Int) {
    def release(): Unit = batch.sparkSession.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    def fingerprintJson: String = Json.obj(Seq(
      "batch_rows" -> batchFp._1, "batch_checksum" -> batchFp._2,
      "batch_bytes" -> bytes, "epoch_pool_checksum" -> poolFp.map(_._2).sum,
      "scan_rows" -> scanFp._1, "scan_checksum" -> scanFp._2,
      "hot_keys" -> Inputs.hotKeys(batch, 5).map { case (k, n) => Seq(k, n) }))
    lazy val bytes: Long = batch.agg(sum(col("size_bytes").cast("long"))).head().getLong(0)
  }

  private def buildInputs(spark: SparkSession, gen: Gen): Inputs = {
    val n = batchRows
    // materialised as a local checkpoint, not through the cache manager:
    // the query mix clears the cache between queries
    val batch = Inputs.generate(spark, gen, 0, n, parts).toDF().localCheckpoint(eager = true)
    val batchFp = Inputs.fingerprint(batch)
    // stream epochs: a pool of fixed-size batches the timed loop cycles
    // through; ids continue after the batch input
    val pool = (0 until sizes.epochPool).map { e =>
      val from = n.toLong + e.toLong * sizes.epochRows
      gen.events(from, from + sizes.epochRows)
    }
    val poolFp = {
      import spark.implicits._
      val byEpoch = Inputs.generate(spark, gen, n, n + sizes.epochPool.toLong * sizes.epochRows, cores).toDF()
        .groupBy(((col("event_id") - n) / sizes.epochRows).cast("int").as("e"))
        .agg(count(lit(1)).as("rows"), Inputs.checksumCol.as("sum"))
        .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      (0 until sizes.epochPool).map(byEpoch)
    }
    // the scan table: written once through graft-bq, then a few lines of
    // one committed file are corrupted so permissive reads drop them
    val scanPath = dir("scan-table")
    deleteTree(Paths.get(scanPath))
    val scanGen = new Gen(args.seed ^ 0x5CA9L, shape)
    Inputs.generate(spark, scanGen, 0, sizes.scanRows, cores).toDF()
      .write.format("graft-bq").mode("append").option("path", scanPath).save()
    val corrupt = Seq("{\"event_id\":", "not json", "[1,2,3]")
    val victim = Files.list(Paths.get(scanPath)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".jsonl")).toSeq.sortBy(_.toString).head
    Files.write(victim, corrupt.mkString("", "\n", "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val scanFp = Inputs.fingerprint(Inputs.generate(spark, scanGen, 0, sizes.scanRows, cores).toDF())
    new Inputs(batch, batchFp, pool, poolFp, scanPath, scanFp, corrupt.size)
  }

  // ------------------------------------------------------------------
  // sink_batch phase: at-least-once default stream, keyed, exactly-once

  /** One batch pass: per-pass counters and timings, and the rate of each
    * exactly-once write in it. */
  final case class BatchPass(counters: Map[String, Double], eoRowsPerS: Seq[Double])

  final class BatchResults {
    val aloRowsPerS = mutable.ArrayBuffer.empty[Double]
    val eoRowsPerS = mutable.ArrayBuffer.empty[Double]
    val counters = mutable.ArrayBuffer.empty[Map[String, Double]]
    def +=(p: BatchPass): Unit = {
      p.counters.get("alo_rows_per_s").foreach(aloRowsPerS += _)
      eoRowsPerS ++= p.eoRowsPerS
      counters += p.counters
    }
    /** Times are medians over the passes; counts are means per pass. */
    def report(out: mutable.Map[String, Double]): Unit = {
      def med(k: String) = Stats.median(counters.flatMap(_.get(k)))
      def mean(k: String) = { val xs = counters.flatMap(_.get(k)); xs.sum / xs.size }
      Seq("alo_default_ms", "alo_keyed_ms", "append_busy_ms", "batcher_ms").foreach(k => out(s"sinks.$k") = med(k))
      Seq("appends", "retries", "splits", "writers_recreated", "append_success_pct")
        .foreach(k => out(s"sinks.$k") = mean(k))
      Seq("bq_write_task_ms", "bq_commit_ms", "bq_bytes_per_row").foreach(k => out(s"sources.$k") = med(k))
    }
  }

  /** Sequence number of the one append per pass that fails: seeded, and
    * below the number of appends either face makes at either size. */
  private def faultAt(salt: Long): Long = java.lang.Long.remainderUnsigned(args.seed * 0x9E3779B97F4A7C15L ^ salt, 32L)

  /** Passes run so far; even passes fault the default stream (transient),
    * odd passes the keyed face (writer-closed). */
  private var passNo = 0
  /** Writers the keyed face opens in a pass without a fault. */
  private var writersBaseline = -1.0

  private def batchPass(spark: SparkSession, in: Inputs, unit: String, timedRun: Boolean): BatchPass = {
    val n = batchRows
    val out = mutable.Map.empty[String, Double]
    val keyedFaults = passNo % 2 == 1
    passNo += 1
    def face(name: String, faulted: Boolean)(write: => GraftSink.Totals): Option[(GraftSink.Totals, Double)] = {
      Transport.reset(n, if (faulted) faultAt(passNo.toLong) else -1L, writerClosed = name == "keyed")
      val a0 = Transport.appends.sum(); val t0 = Transport.transient.sum(); val c0 = Transport.closed.sum()
      val w0 = Transport.writersCreated.sum(); val b0 = Transport.busyNanos.sum()
      val r = op(s"sinks.alo_$name", unit)(write)
      val appends = Transport.appends.sum() - a0
      if (timedRun) check(s"alo_$name exactly-once delivery $unit") {
        val (missing, dup) = Transport.deliveryErrors()
        if (missing + dup > 0) failures += s"alo_$name $unit: $missing missing, $dup duplicated ids"
        missing == 0 && dup == 0
      }
      val faults = (Transport.transient.sum() - t0) + (Transport.closed.sum() - c0)
      out(s"appends_$name") = appends.toDouble
      out(s"faults_$name") = faults.toDouble
      out(s"busy_$name") = (Transport.busyNanos.sum() - b0) / 1e6
      out(s"writers_$name") = (Transport.writersCreated.sum() - w0).toDouble
      r
    }
    val d = face("default", faulted = !keyedFaults)(GraftSink.writeAtLeastOnce(in.batch, table, settings, Transport.defaultStream))
    val k = face("keyed", faulted = keyedFaults)(GraftSink.writeKeyedAtLeastOnce(in.batch, "user_id", table, settings,
      Transport.keyedWriter))
    for ((dt, dms) <- d; (kt, kms) <- k) {
      out("alo_rows_per_s") = (dt.rows + kt.rows) * 1000.0 / (dms + kms)
      out("alo_default_ms") = dms
      out("alo_keyed_ms") = kms
      out("retries") = (dt.retries + kt.retries).toDouble
      out("splits") = dt.splits.toDouble
      out("appends") = out("appends_default") + out("appends_keyed")
      out("append_busy_ms") = out("busy_default") + out("busy_keyed")
      out("append_success_pct") = 100.0 * (out("appends") - out("faults_default") - out("faults_keyed")) / out("appends")
      // the keyed face opens one writer per stream and partition; beyond
      // that count, every writer the pool built is a recreation
      if (!keyedFaults && writersBaseline < 0) writersBaseline = out("writers_keyed")
      if (writersBaseline >= 0) out("writers_recreated") = out("writers_keyed") - writersBaseline
    }

    // exactly-once: batch assembly, then graft-bq batch write and V2
    // commit, several times a pass (each overwrites the last), so the rate
    // is a median over many writes of a run
    val eoPath = dir("eo-table")
    val eo = mutable.ArrayBuffer.empty[Double]
    val eoLayer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def layerSample(k: String, v: Double): Unit = eoLayer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    (1 to eoWrites).foreach { _ =>
      if (args.trace) ListenerDrain(spark.sparkContext)
      val task0 = channels.resultStageTaskMs
      op("sinks.eo", unit) {
        Batcher.assignBatches(in.batch, "user_id", "event_id", "size_bytes",
          settings.maxBatchCount, settings.maxBatchBytes)
          .write.format("graft-bq").mode("overwrite").option("path", eoPath).save()
        System.currentTimeMillis()
      }.foreach { case (savedAt, ms) =>
        eo += n * 1000.0 / ms
        if (args.trace) {
          ListenerDrain(spark.sparkContext)
          layerSample("bq_commit_ms", (savedAt - channels.lastJobEndMs).toDouble)
          layerSample("bq_write_task_ms", (channels.resultStageTaskMs - task0).toDouble)
          val files = Files.list(Paths.get(eoPath)).iterator().asScala
            .filter(_.getFileName.toString.endsWith(".jsonl")).map(Files.size).sum
          layerSample("bq_bytes_per_row", files.toDouble / n)
        }
      }
    }
    eoLayer.foreach { case (k, xs) => out(k) = Stats.median(xs) }
    if (args.trace && timedRun) {
      out("batcher_ms") = op("sinks.batcher", unit) {
        Batcher.assignBatches(in.batch, "user_id", "event_id", "size_bytes",
          settings.maxBatchCount, settings.maxBatchBytes).write.format("noop").mode("overwrite").save()
      }.map(_._2).getOrElse(Double.NaN)
    }
    tracer.annotate("sinks.eo", out.toMap)
    BatchPass(out.toMap, eo.toSeq)
  }

  /** Single-threaded loop over JsonRowSerializer on a fixed sample of rows. */
  private def serializeProbe(spark: SparkSession, in: Inputs): Unit = {
    val sample = in.batch.orderBy("event_id").limit(20000).collect()
    val ser = new JsonRowSerializer
    val perRow = (1 to 7).map { _ =>
      val t0 = System.nanoTime()
      var bytes = 0L
      sample.foreach(r => bytes += ser.serialize(r).length)
      (System.nanoTime() - t0).toDouble / sample.length
    }
    layer("sinks.json_serialize_ns_per_row") = Stats.median(perRow)
  }

  /** Batch count and fill of the exactly-once face's batch assembly. */
  private def batcherShape(spark: SparkSession, in: Inputs): Unit = {
    val r = Batcher.assignBatches(in.batch, "user_id", "event_id", "size_bytes",
        settings.maxBatchCount, settings.maxBatchBytes)
      .groupBy("user_id", "batch_id").count().agg(count(lit(1)), sum("count")).head()
    layer("sinks.batches") = r.getLong(0).toDouble
    layer("sinks.batch_fill_pct") = 100.0 * r.getLong(1) / (r.getLong(0) * settings.maxBatchCount)
  }

  // ------------------------------------------------------------------
  // sink_stream phase: graft-bq V2 epoch commit and the ledger sink

  final class Stream(val name: String, val mem: MemoryStream[Event],
                     val query: org.apache.spark.sql.streaming.StreamingQuery, val path: String) {
    val latencies = mutable.ArrayBuffer.empty[Double]
    val fed = mutable.Map.empty[Int, Int].withDefaultValue(0)
    var next = 0
  }

  final class Streams(spark: SparkSession, in: Inputs) {
    import spark.implicits._
    private implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val bqPath = dir("stream-bq")

    /** Set-up: the `graft-bq` sink is aged before the timed stream starts,
      * so every timed epoch lists `_committed` at the size of a long-lived
      * stream. The aged epochs are empty, go through the sink's own epoch
      * commit, and take ids the timed query never reaches. (The ledger
      * sink is not aged: each of its epochs is a Spark parquet write,
      * about 70 ms even four at a time, which the run budget cannot hold
      * for hundreds of epochs.) */
    val agedManifests: Double = {
      val write = new GraftBqWrite(Seq.empty[Event].toDF().schema, bqPath, "aging")
      (0 until agedEpochs).foreach(i => write.commit(1000000L + i, Array.empty[WriterCommitMessage]))
      manifests(bqPath)
    }

    val bq: Stream = {
      val mem = MemoryStream[Event]
      val q = mem.toDF().writeStream.format("graft-bq").option("path", bqPath)
        .option("checkpointLocation", dir("ckpt-bq")).start()
      new Stream("bq", mem, q, bqPath)
    }
    val ledger: Stream = {
      val mem = MemoryStream[Event]
      val path = dir("stream-ledger")
      val sink = GraftStreamSink.newBuilder().withDeliveryGuarantee(DeliveryGuarantee.ExactlyOnce)
        .withTable(table).withPath(path).build()
      new Stream("ledger", mem, sink.start(mem.toDF(), dir("ckpt-ledger")), path)
    }

    private def manifests(path: String): Double =
      Files.list(Paths.get(path, "_committed")).iterator().asScala.count(!_.getFileName.toString.startsWith(".")).toDouble

    def bqLatencies: Seq[Double] = bq.latencies.toSeq
    def ledgerLatencies: Seq[Double] = ledger.latencies.toSeq

    /** One block: two graft-bq epochs, then one ledger epoch, which costs
      * about twice as much. */
    def block(unit: String): Unit = {
      epochs(bq, 2, unit)
      epochs(ledger, 1, unit)
    }

    /** `count` epochs into `s`, each timed from addData until
      * processAllAvailable returns. Warm-up epochs are fed but not kept. */
    private def epochs(s: Stream, count: Int, unit: String): Unit = (0 until count).foreach { _ =>
      val i = s.next % in.pool.size
      s.next += 1
      op(s"stream.${s.name}.epoch", unit) {
        s.mem.addData(in.pool(i))
        s.fed(i) += 1
        s.query.processAllAvailable()
      }.foreach { case (_, ms) => if (unit != "warmup") s.latencies += ms }
    }

    def expected(s: Stream): (Long, Long) =
      s.fed.foldLeft((0L, 0L)) { case ((r, c), (i, k)) => (r + k * in.poolFp(i)._1, c + k * in.poolFp(i)._2) }

    def report(out: mutable.Map[String, Double], ch: StreamChannel): Unit = {
      val prog = ch.progress.asScala.toSeq
      def dur(q: Stream, key: String): Seq[Double] =
        prog.filter(_._1 == q.query.id.toString).flatMap(_._3.get(key)).map(_.toDouble)
      out("stream.addbatch_ms") = Stats.median(dur(bq, "addBatch"))
      out("stream.planning_ms") = Stats.median(dur(bq, "queryPlanning"))
      out("stream.wal_ms") = Stats.median(dur(bq, "walCommit"))
      out("stream.commit_offsets_ms") = Stats.median(dur(bq, "commitOffsets"))
      out("stream.epoch_p95_ms") = Stats.quantile(bq.latencies, 0.95)
      out("stream.epoch_latency_slope_us") = Stats.slope(bq.latencies.toSeq) * 1000
      out("stream.committed_manifests") = manifests(bq.path)
      out("sinks.ledger_addbatch_ms") = Stats.median(dur(ledger, "addBatch"))
    }

    def stop(): Unit = Seq(bq, ledger).foreach(_.query.stop())
  }

  // ------------------------------------------------------------------
  // query_mix phase: registered queries, then three graft-bq scans

  private lazy val pinned: Map[(String, String), (Long, Long)] =
    Files.readAllLines(args.fingerprints).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(sf, q, rows, sum) = l.split("\t")
      (sf, q) -> (rows.toLong, sum.toLong)
    }.toMap

  private def mixPass(spark: SparkSession, in: Inputs, unit: String, timedRun: Boolean): MixPass = {
    val perQuery = mutable.LinkedHashMap.empty[String, Double]
    Mix.queries.foreach { name =>
      spark.sharedState.cacheManager.clearCache()
      op(s"q.$name", unit)(Mix.fingerprint(graft.SparkEntry.queries(name)(spark, sfDir))).foreach {
        case (fp, ms) =>
          perQuery(name) = ms
          if (timedRun) check(s"q.$name fingerprint $unit") {
            val want = pinned.get((sizes.mixSf, name))
            if (!want.contains(fp)) failures += s"q.$name: got $fp, pinned $want"
            want.contains(fp)
          }
      }
    }
    def read(): DataFrame = spark.read.format("graft-bq").option("mode", "permissive").load(in.scanPath)
    val m = sizes.scanRows.toLong
    val scans = Seq(
      ("full", m, () => read()),
      ("pruned", m, () => read().select("user_id", "amount")),
      ("pushed", m / 100, () => read().filter(col("event_id") < m / 100)))
    val scanMs = mutable.LinkedHashMap.empty[String, Double]
    scans.foreach { case (name, _, df) =>
      op(s"sources.scan_$name", unit)(df().write.format("noop").mode("overwrite").save())
        .foreach { case (_, ms) => scanMs(name) = ms }
    }
    MixPass(perQuery.size, perQuery.values.sum, scans.filter(s => scanMs.contains(s._1)).map(_._2).sum,
      scanMs.values.sum, perQuery.toMap, scanMs.toMap)
  }

  // ------------------------------------------------------------------
  // correctness checks

  private def verify(spark: SparkSession, in: Inputs, streams: Streams): Unit = {
    def bqRead(path: String, mode: String = "failfast") =
      spark.read.format("graft-bq").option("mode", mode).load(path).select(Inputs.columns.map(col): _*)
    check("eo committed read equals input") {
      val got = Inputs.fingerprint(bqRead(dir("eo-table")))
      if (got != in.batchFp) failures += s"eo read $got, input ${in.batchFp}"
      got == in.batchFp
    }
    check("graft-bq stream commits neither lose nor duplicate") {
      val got = Inputs.fingerprint(bqRead(streams.bq.path))
      val want = streams.expected(streams.bq)
      if (got != want) failures += s"bq stream read $got, fed $want"
      got == want
    }
    check("ledger stream commits neither lose nor duplicate") {
      val got = Inputs.fingerprint(new ExactlyOnceParquetSink(streams.ledger.path).read(spark)
        .select(Inputs.columns.map(col): _*))
      val want = streams.expected(streams.ledger)
      if (got != want) failures += s"ledger read $got, fed $want"
      got == want
    }
    check("scan returns the committed rows and drops the corrupt lines") {
      val d0 = GraftBqMetrics.droppedLines.sum()
      val got = Inputs.fingerprint(bqRead(in.scanPath, "permissive"))
      val dropped = GraftBqMetrics.droppedLines.sum() - d0
      layer("sources.dropped_lines") = dropped.toDouble
      val pushed = bqRead(in.scanPath, "permissive").filter(col("event_id") < sizes.scanRows / 100).count()
      val ok = got == in.scanFp && dropped == in.corruptLines && pushed == sizes.scanRows / 100
      if (!ok) failures += s"scan read $got (want ${in.scanFp}), dropped $dropped, pushed $pushed"
      ok
    }
  }
}
