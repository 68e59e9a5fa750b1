package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.io.IOContext
import com.fasterxml.jackson.core.json.UTF8StreamJsonParser
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.sinks.JsonLine

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReportsSinkMetrics}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `format("graft-bq")` — a DataSource V2 table emulating the
  * reference's BigQuery Storage-Write transport on a filesystem:
  *
  *  - batch + streaming WRITE through the V2 commit protocol: tasks
  *    write temp files, the driver commit renames them and records a
  *    manifest — exactly-once at the job/epoch level (the analog of
  *    buffered-stream append + flush-on-commit,
  *    sink/buffered/BigQueryBufferedSinkWriter.java); a replayed
  *    streaming epoch whose manifest exists is skipped.
  *  - batch READ of committed data only (uncommitted/aborted task
  *    output is invisible), one input partition per committed file;
  *    micro-batch STREAMING READ consuming newly committed manifests
  *    incrementally (offset = high-water mark over commit-ordered
  *    manifest names, [[GraftBqOffset]]).
  *  - mode=permissive skips corrupt lines on read; failfast (default)
  *    surfaces them.
  *
  * Rows travel as JSON lines (serializer/JsonRowValueSerializer analog);
  * the table schema is persisted as DDL alongside the data. Local-FS
  * paths here; the production transport would target an object store or
  * RPC endpoint behind the same DataWriter seam.
  */
class GraftBqProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-bq"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = GraftBqProvider.pathOf(options)
    val ddl = dir.resolve("_schema.ddl")
    if (Files.exists(ddl))
      StructType.fromDDL(new String(Files.readAllBytes(ddl), StandardCharsets.UTF_8))
    else throw new IllegalArgumentException(
      s"graft-bq: no _schema.ddl under $dir and no user schema given")
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftBqTable(schema, properties.get("path"),
      "permissive".equalsIgnoreCase(properties.getOrDefault("mode", "failfast")))
}

object GraftBqProvider {
  def pathOf(options: CaseInsensitiveStringMap): Path = {
    val p = options.get("path")
    require(p != null, "graft-bq requires a 'path' option")
    Paths.get(p)
  }
}

/** A `graft-bq` table. As a streaming query's sink it reports, through
  * `ReportsSinkMetrics` (read into `StreamingQueryProgress.sink.metrics`),
  * the last epoch this instance committed and that epoch's rows, files
  * and bytes; a replayed epoch commits nothing and changes none of them. */
class GraftBqTable(schema: StructType, path: String, permissive: Boolean = false)
    extends Table with SupportsWrite with SupportsRead with ReportsSinkMetrics {
  require(path != null, "graft-bq requires a 'path' option")

  @volatile private var lastEpoch: util.Map[String, String] = util.Collections.emptyMap()

  override def metrics(): util.Map[String, String] = lastEpoch

  override def name(): String = s"graft-bq:$path"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var truncateRequested = false
      override def truncate(): WriteBuilder = { truncateRequested = true; this }
      override def build(): Write =
        new GraftBqWrite(schema, path, info.queryId(), truncateRequested,
          (epochId, files) => lastEpoch = GraftBqWrite.epochMetrics(epochId, files))
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val perm = permissive || "permissive".equalsIgnoreCase(options.get("mode"))
    new GraftBqScanBuilder(schema, path, perm)
  }
}

/** Scan builder with COLUMN PRUNING and FILTER PUSHDOWN. The partition
  * reader streams each line's tokens once: pruning decides which fields
  * it materialises (a 2-column projection of a wide table converts 2
  * fields per line, skips the rest undecoded and hands Spark 2-field
  * rows), and pushed predicates are evaluated on the parsed values,
  * dropping rows inside the reader before they reach Spark. Pushed
  * filters are also returned as residual so Catalyst re-checks them —
  * the parquet convention: the source is a row-skipping optimization,
  * never the correctness authority. */
class GraftBqScanBuilder(fullSchema: StructType, path: String, permissive: Boolean)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  import org.apache.spark.sql.sources._
  private var requiredSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(required: StructType): Unit = {
    // preserve source field order; Spark may ask in projection order
    val want = required.fieldNames.toSet
    requiredSchema = StructType(fullSchema.fields.filter(f => want(f.name)))
  }

  private def supported(f: Filter): Boolean = f match {
    case EqualTo(_, v) => supportedLit(v)
    case GreaterThan(_, v) => supportedLit(v)
    case GreaterThanOrEqual(_, v) => supportedLit(v)
    case LessThan(_, v) => supportedLit(v)
    case LessThanOrEqual(_, v) => supportedLit(v)
    case IsNull(_) | IsNotNull(_) => true
    case _ => false
  }
  private def supportedLit(v: Any): Boolean = v match {
    // a non-finite literal has no decimal value to compare at the source
    case d: java.lang.Double => java.lang.Double.isFinite(d)
    case f: java.lang.Float => java.lang.Float.isFinite(f)
    case _: java.lang.Number | _: String | _: java.lang.Boolean => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(supported)
    filters // everything stays residual; pushed copies skip rows early
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new GraftBqScan(requiredSchema, path, permissive, pushed)
}

/** Commit message: the temp files this task produced, their rows and
  * their bytes. */
case class FilesCommitMessage(tempFiles: Seq[String], rows: Long, bytes: Long = 0L)
  extends WriterCommitMessage

/** The batch and streaming write. `onEpochCommit` sees each streaming
  * epoch this write commits, with its tasks' messages; a replayed epoch
  * is not committed again and is not passed. */
class GraftBqWrite(schema: StructType, path: String, queryId: String,
                   truncateOnCommit: Boolean = false,
                   onEpochCommit: (Long, Seq[FilesCommitMessage]) => Unit = (_, _) => ())
    extends Write with BatchWrite with StreamingWrite {

  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this
  override def useCommitCoordinator(): Boolean = true

  private def base: Path = Paths.get(path)
  private def committedDir: Path = base.resolve("_committed")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftBqWriterFactory(schema, path, queryId)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftBqWriterFactory(schema, path, queryId)

  /** Rows, bytes and files the tasks wrote, summed over tasks into the
    * write node's SQL metrics (the reference's batch count / batch MB
    * surface, in Spark's channel). */
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new RowsWrittenMetric, new BytesWrittenMetric, new FilesWrittenMetric)

  private def finalizeFiles(tag: String, messages: Array[WriterCommitMessage]): Unit = {
    Files.createDirectories(committedDir)
    val ddl = base.resolve("_schema.ddl")
    if (!Files.exists(ddl)) Files.write(ddl, schema.toDDL.getBytes(StandardCharsets.UTF_8))
    val finals = messages.collect { case m: FilesCommitMessage => m }.flatMap(_.tempFiles).map { tmp =>
      val src = Paths.get(tmp)
      val dst = base.resolve(src.getFileName.toString.stripPrefix(".tmp-"))
      if (Files.exists(src)) Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      dst.getFileName.toString
    }
    val manifest = committedDir.resolve(s".$tag.inprogress")
    Files.write(manifest, finals.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(manifest, committedDir.resolve(GraftBqWrite.monotoneName(tag)),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def dropTempFiles(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: FilesCommitMessage => m }.flatMap(_.tempFiles)
      .foreach(f => Files.deleteIfExists(Paths.get(f)))

  /** Driver-side truncate (SupportsTruncate / mode("overwrite")):
    * drop every committed manifest and the data files it references,
    * then fall through to the normal commit of the new files. */
  private def truncateCommitted(): Unit = {
    if (!Files.isDirectory(committedDir)) return
    val manifests = Files.list(committedDir).iterator().asScala
      .filter(p => !p.getFileName.toString.startsWith(".")).toList
    manifests.foreach { m =>
      new String(Files.readAllBytes(m), StandardCharsets.UTF_8)
        .split("\n").iterator.filter(_.nonEmpty)
        .foreach(f => Files.deleteIfExists(base.resolve(f)))
      Files.deleteIfExists(m)
    }
  }

  // batch
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    if (truncateOnCommit) truncateCommitted()
    finalizeFiles(s"batch-$queryId", messages)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = dropTempFiles(messages)

  // streaming: epoch manifest = the flushed offset; replayed epoch → no-op
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val replayed = Files.isDirectory(committedDir) &&
      Files.list(committedDir).iterator().asScala
        .exists(_.getFileName.toString.endsWith(s"-epoch-$epochId"))
    if (replayed) dropTempFiles(messages)
    else {
      finalizeFiles(s"epoch-$epochId", messages)
      onEpochCommit(epochId, messages.toSeq.collect { case m: FilesCommitMessage => m })
    }
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    dropTempFiles(messages)
}

object GraftBqWrite {
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  /** Manifest names sort in commit order (zero-padded millis + a
    * per-JVM sequence tiebreaker), so the streaming-read offset can be
    * a single high-water-mark name instead of the full seen-set. */
  private[sources] def monotoneName(tag: String): String =
    f"${System.currentTimeMillis()}%014d-${seq.incrementAndGet()}%06d-$tag"

  /** The sink metrics of committed epoch `epochId`, written by `files`. */
  private[sources] def epochMetrics(epochId: Long, files: Seq[FilesCommitMessage]): util.Map[String, String] =
    Map("committed_epoch" -> epochId,
      GraftBqDataWriter.RowsWritten -> files.map(_.rows).sum,
      GraftBqDataWriter.FilesWritten -> files.map(_.tempFiles.size.toLong).sum,
      GraftBqDataWriter.BytesWritten -> files.map(_.bytes).sum)
      .map { case (k, v) => k -> v.toString }.asJava
}

class GraftBqWriterFactory(schema: StructType, path: String, queryId: String)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftBqDataWriter(schema, path, queryId, -1L, partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftBqDataWriter(schema, path, queryId, epochId, partitionId, taskId)
}

/** Task-side writer: JSON-lines into an attempt-isolated temp file.
  * Each row is encoded straight from the `InternalRow` into one reused
  * byte buffer — field prefixes, ASCII numbers, `UTF8String` bytes
  * escaped by the shared [[graft.sinks.JsonLine]] kernel — and the
  * buffer goes to the file through one `OutputStream` whenever it fills.
  * Non-finite doubles go out as the JSON strings "NaN"/"Infinity"/
  * "-Infinity" (bare tokens are not JSON); the reader's `asDouble`
  * parses them back exactly. Rows, bytes and files written are reported
  * as task metrics ([[GraftBqWrite.supportedCustomMetrics]]). */
class GraftBqDataWriter(schema: StructType, path: String, queryId: String,
                        epochId: Long, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  import GraftBqDataWriter._
  private val tag = if (epochId >= 0) s"e$epochId" else s"q$queryId"
  private val tmp = Paths.get(path).resolve(s".tmp-$tag-p$partitionId-t$taskId.jsonl")
  Files.createDirectories(tmp.getParent)
  private val out = Files.newOutputStream(tmp, StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  private var rows = 0L
  private var flushed = 0L
  private val prefix = JsonLine.fieldPrefixBytes(schema)
  private val types = schema.fields.map(_.dataType)
  private val line = new JsonLine.Bytes(FlushAt + 4096)

  override def write(record: InternalRow): Unit = {
    line.append('{')
    var first = true
    var i = 0
    while (i < prefix.length) {
      if (!record.isNullAt(i)) {
        if (!first) line.append(',')
        first = false
        line.append(prefix(i))
        types(i) match {
          case LongType | TimestampType => line.appendLong(record.getLong(i)) // timestamps as micros
          case IntegerType => line.appendLong(record.getInt(i))
          case DoubleType =>
            val d = record.getDouble(i)
            if (java.lang.Double.isFinite(d)) line.appendAscii(java.lang.Double.toString(d))
            else { line.append('"'); line.appendAscii(java.lang.Double.toString(d)); line.append('"') }
          case BooleanType => line.appendAscii(if (record.getBoolean(i)) "true" else "false")
          case StringType => JsonLine.quoteTo(line, record.getUTF8String(i))
          case other => throw new UnsupportedOperationException(s"graft-bq: $other")
        }
      }
      i += 1
    }
    line.append('}')
    line.append('\n')
    rows += 1
    if (line.length >= FlushAt) flush()
  }

  private def flush(): Unit = {
    out.write(line.bytes, 0, line.length)
    flushed += line.length
    line.length = 0
  }

  /** Bytes as the committed file will hold them, buffered ones included;
    * a task with rows commits exactly one file. */
  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    taskMetric(RowsWritten, rows),
    taskMetric(BytesWritten, flushed + line.length),
    taskMetric(FilesWritten, if (rows > 0) 1L else 0L))

  /** A task that wrote no rows commits no file: an empty file would
    * become a committed data file and a scan task of its own. */
  override def commit(): WriterCommitMessage = {
    flush()
    out.close()
    if (rows == 0) { Files.deleteIfExists(tmp); FilesCommitMessage(Nil, 0L) }
    else FilesCommitMessage(Seq(tmp.toString), rows, flushed)
  }
  override def abort(): Unit = { out.close(); Files.deleteIfExists(tmp) }
  override def close(): Unit = ()
}

object GraftBqDataWriter {
  /** The buffer goes to the file once it holds this many bytes. */
  private final val FlushAt = 64 * 1024

  final val RowsWritten = "rows_written"
  final val BytesWritten = "bytes_written"
  final val FilesWritten = "files_written"

  private def taskMetric(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}

/** The write node's summed task metrics (Spark aggregates them through
  * a fresh instance of each class, so each has its own). */
class RowsWrittenMetric extends CustomSumMetric {
  override def name(): String = GraftBqDataWriter.RowsWritten
  override def description(): String = "rows written"
}
class BytesWrittenMetric extends CustomSumMetric {
  override def name(): String = GraftBqDataWriter.BytesWritten
  override def description(): String = "bytes written"
}
class FilesWrittenMetric extends CustomSumMetric {
  override def name(): String = GraftBqDataWriter.FilesWritten
  override def description(): String = "files written"
}

/** Read side: committed files only, one input partition per file.
  * Streaming read: each micro-batch consumes the manifests committed
  * after the last offset, a high-water mark over manifest names
  * ([[GraftBqOffset]]). */
class GraftBqScan(schema: StructType, path: String, permissive: Boolean = false,
                  pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-bq $path, ReadSchema: ${schema.catalogString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
  def pushedFilters: Array[org.apache.spark.sql.sources.Filter] = pushed
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new DroppedLinesMetric)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftBqMicroBatchStream(schema, path, permissive, pushed)

  override def planInputPartitions(): Array[InputPartition] = {
    val committedDir = Paths.get(path).resolve("_committed")
    if (!Files.isDirectory(committedDir)) return Array.empty
    val files = Files.list(committedDir).iterator().asScala
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(m => new String(Files.readAllBytes(m), StandardCharsets.UTF_8)
        .split("\n").iterator.filter(_.nonEmpty))
      .toArray.sorted
    files.map(f => GraftBqInputPartition(Paths.get(path).resolve(f).toString): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftBqReaderFactory(schema, permissive, pushed)
}

case class GraftBqInputPartition(file: String) extends InputPartition

class GraftBqReaderFactory(schema: StructType, permissive: Boolean = false,
                           pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftBqPartitionReader(schema,
      partition.asInstanceOf[GraftBqInputPartition].file, permissive, pushed)
}

/** Offset = high-water mark over manifest names (names sort in commit
  * order, see [[GraftBqWrite.monotoneName]]) plus a consumed count for
  * sanity. Constant-size regardless of stream age — the full seen-set
  * of round 1 grew the checkpoint linearly with epoch count. */
case class GraftBqOffset(last: String, count: Long) extends Offset {
  override def json(): String =
    s"""{"last":"$last","n":$count}"""
}

class GraftBqMicroBatchStream(schema: StructType, path: String,
                              permissive: Boolean = false,
                              pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends MicroBatchStream {
  private def committedDir = Paths.get(path).resolve("_committed")

  private def currentManifests(): Seq[String] =
    if (!Files.isDirectory(committedDir)) Nil
    else Files.list(committedDir).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq.sorted

  override def initialOffset(): Offset = GraftBqOffset("", 0L)
  override def latestOffset(): Offset = {
    val ms = currentManifests()
    GraftBqOffset(ms.lastOption.getOrElse(""), ms.size.toLong)
  }

  override def deserializeOffset(json: String): Offset = {
    val t = json.trim
    if (t.startsWith("[")) {
      // legacy seen-set format from a round-1 checkpoint
      val names = t.stripPrefix("[").stripSuffix("]").split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
      GraftBqOffset(if (names.isEmpty) "" else names.max, names.size.toLong)
    } else {
      val last = "\"last\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(t).map(_.group(1)).getOrElse("")
      val n = "\"n\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(t).map(_.group(1).toLong).getOrElse(0L)
      GraftBqOffset(last, n)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GraftBqOffset].last
    val hi = end.asInstanceOf[GraftBqOffset].last
    currentManifests().filter(m => m > lo && m <= hi).flatMap { m =>
      new String(Files.readAllBytes(committedDir.resolve(m)), StandardCharsets.UTF_8)
        .split("\n").iterator.filter(_.nonEmpty)
        .map(f => GraftBqInputPartition(Paths.get(path).resolve(f).toString): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftBqReaderFactory(schema, permissive, pushed)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Per-task dropped-line count, surfaced through the DSv2 custom-
  * metric channel (aggregated "dropped_lines" in the SQL UI / listener
  * — the analog of the reference's per-stream drop counters in
  * metric/BigQueryStreamMetrics.java). [[GraftBqMetrics.droppedLines]]
  * additionally accumulates process-wide for local-mode assertions. */
class DroppedLinesMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "dropped_lines"
  override def description(): String = "corrupt lines skipped by permissive reads"
}

object GraftBqMetrics {
  val droppedLines = new java.util.concurrent.atomic.LongAdder
}

/** The one JSON parser factory every graft-bq read shares. Lines are
  * parsed with Jackson's UTF-8 byte parser, built directly rather than
  * through encoding detection: committed lines are UTF-8, so there is
  * no BOM skip and no UTF-16/32 guess (a leading BOM or NUL byte is a
  * parse error, as it was when lines were decoded to `String`s). The
  * mapper reads the values the reader does not take from their tokens. */
private[graft] object GraftBqJson {
  private final class Utf8Factory extends JsonFactory {
    override protected def _createParser(data: Array[Byte], offset: Int, len: Int,
                                         ctxt: IOContext): JsonParser = {
      ctxt.setEncoding(JsonEncoding.UTF8)
      new UTF8StreamJsonParser(ctxt, _parserFeatures, null, _objectCodec,
        _byteSymbolCanonicalizer.makeChild(_factoryFeatures), data, offset, offset + len, false)
    }
  }
  val mapper = new ObjectMapper(new Utf8Factory)
  val factory: JsonFactory = mapper.getFactory

  private final val HighBits = 0x8080808080808080L

  /** Eight bytes from `b(i)`, in native order: the ASCII test below asks
    * whether any byte has its high bit set, never which one. */
  private def word(b: Array[Byte], i: Int): Long = Platform.getLong(b, Platform.BYTE_ARRAY_OFFSET + i)

  /** Index of the first byte in `b(off until end)` that is not part of
    * well-formed UTF-8, or -1. Well-formed is what the JDK decoder
    * accepts: no overlong forms, no encoded surrogates, nothing above
    * U+10FFFF, no truncated sequence. */
  def malformedUtf8(b: Array[Byte], off: Int, end: Int): Int = {
    var i = off
    while (i < end) {
      // eight ASCII bytes at a time
      while (i + 8 <= end && (word(b, i) & HighBits) == 0) i += 8
      val lead = if (i < end) b(i) & 0xFF else 0
      if (lead < 0x80) i += 1
      else {
        var need = 0
        var lo = 0x80
        var hi = 0xBF
        if (lead >= 0xC2 && lead <= 0xDF) need = 1
        else if (lead >= 0xE0 && lead <= 0xEF) {
          need = 2
          if (lead == 0xE0) lo = 0xA0 else if (lead == 0xED) hi = 0x9F
        } else if (lead >= 0xF0 && lead <= 0xF4) {
          need = 3
          if (lead == 0xF0) lo = 0x90 else if (lead == 0xF4) hi = 0x8F
        } else return i
        if (i + need >= end) return i
        val c1 = b(i + 1) & 0xFF
        if (c1 < lo || c1 > hi) return i
        var k = 2
        while (k <= need) { if ((b(i + k) & 0xC0) != 0x80) return i; k += 1 }
        i += need + 1
      }
    }
    -1
  }
}

/** Splits a byte stream at the line ends `BufferedReader.readLine`
  * knows: `\n`, `\r\n` and a lone `\r`; a last line without one still
  * counts. Nothing is decoded: both end bytes are ASCII and never occur
  * inside a multi-byte UTF-8 character. After `next()` returns true the
  * line is `buf(start until start + length)`, valid until the next call. */
private[sources] final class ByteLines(in: java.io.InputStream) extends AutoCloseable {
  var buf = new Array[Byte](64 * 1024)
  var start = 0
  var length = 0
  private var pos = 0 // first byte not yet returned
  private var end = 0 // end of the bytes read so far
  private var eof = false
  private var skipLf = false // the last line ended at '\r': a '\n' next belongs to it

  def next(): Boolean = {
    if (skipLf) {
      if (pos == end && !eof) fill()
      if (pos < end && buf(pos) == '\n') pos += 1
      skipLf = false
    }
    var i = pos
    while (true) {
      while (i < end && buf(i) != '\n' && buf(i) != '\r') i += 1
      if (i < end) {
        start = pos; length = i - pos; pos = i + 1
        skipLf = buf(i) == '\r'
        return true
      }
      if (eof) {
        if (pos == end) return false
        start = pos; length = end - pos; pos = end
        return true
      }
      i -= fill()
    }
    false
  }

  /** Moves the unreturned bytes to the front, doubles a full buffer and
    * reads more; returns how far the bytes moved. */
  private def fill(): Int = {
    val shift = pos
    if (shift > 0) {
      System.arraycopy(buf, pos, buf, 0, end - pos)
      end -= pos; pos = 0
    }
    if (end == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    val n = in.read(buf, end, buf.length - end)
    if (n < 0) eof = true else end += n
    shift
  }

  override def close(): Unit = in.close()
}

/** Reads one committed file: each line is parsed once, by one streaming
  * pass of the shared byte parser, straight into a reused row. Required
  * columns are built from their tokens; every other field is skipped
  * without decoding its strings. A token whose JSON type matches its
  * column (an int or long for LONG/TIMESTAMP, an int for INT, a float
  * for DOUBLE, true/false for BOOLEAN, a string for STRING) is read as
  * is; any other value — a string "8" in a long column, a big integer,
  * a nested value, a field only a filter reads — is read as a JSON node
  * and coerced by its `asLong`/`asInt`/`asDouble`/`asBoolean`/`asText`.
  * A repeated key keeps its last value; tokens after the object are
  * ignored; an empty line is a non-object line.
  *
  * `permissive` counts-and-skips corrupt lines — unparseable JSON,
  * malformed UTF-8, a non-object root — in the dropped_lines custom
  * metric; default failfast throws on the first. Either way every line
  * is parsed to its end before pushed filters run, so a corrupt line is
  * never hidden by a filter. */
class GraftBqPartitionReader(schema: StructType, file: String, permissive: Boolean = false,
                             pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.sources._
  import GraftBqPartitionReader._
  import GraftBqJson.{factory, mapper}

  private val lines = new ByteLines(Files.newInputStream(Paths.get(file)))
  private val n = schema.length
  private val types: Array[Int] = schema.fields.map(_.dataType match {
    case LongType | TimestampType => TLong
    case IntegerType => TInt
    case DoubleType => TDouble
    case BooleanType => TBool
    case StringType => TString
    case _ => TOther
  })
  /** Slots: the schema's columns, then the attributes only filters read. */
  private val slotOf = new util.HashMap[String, Integer]()
  schema.fieldNames.zipWithIndex.foreach { case (f, i) => slotOf.putIfAbsent(f, i) }
  private val preds: Array[Pred] = pushed.flatMap {
    case EqualTo(a, v) => Some(new Pred(OpEq, slot(a), v))
    case GreaterThan(a, v) => Some(new Pred(OpGt, slot(a), v))
    case GreaterThanOrEqual(a, v) => Some(new Pred(OpGe, slot(a), v))
    case LessThan(a, v) => Some(new Pred(OpLt, slot(a), v))
    case LessThanOrEqual(a, v) => Some(new Pred(OpLe, slot(a), v))
    case IsNull(a) => Some(new Pred(OpIsNull, slot(a), null))
    case IsNotNull(a) => Some(new Pred(OpIsNotNull, slot(a), null))
    case _ => None
  }
  private def slot(attr: String): Int = {
    slotOf.putIfAbsent(attr, slotOf.size)
    slotOf.get(attr)
  }
  private val slots = slotOf.size
  private val kinds = new Array[Byte](slots)
  private val longs = new Array[Long](slots)
  private val doubles = new Array[Double](slots)
  private val nodes = new Array[JsonNode](slots)
  private val unsupported = types.indices.filter(types(_) == TOther).toArray
  private val row = new SpecificInternalRow(schema.fields.map(_.dataType).toIndexedSeq)
  private var dropped = 0L
  // the line being parsed
  private var line: Array[Byte] = _
  private var lineOff = 0
  private var lineEnd = 0

  /** A pushed filter over one slot. A comparison the source cannot
    * decide — field missing or JSON null, or a value whose JSON type
    * does not match the literal (a numeric stored as a string, which
    * the row coerces) — KEEPS the row: the residual Catalyst filter is
    * the correctness authority, and a skipped evaluation only costs the
    * optimization, never a row. Numbers compare by decimal value (a
    * long against an integral literal by `Long.compare`, a double
    * against a double literal as doubles, an infinite double in a
    * DOUBLE column by its sign; a node with no decimal value is
    * undecided, so no value throws); strings as
    * UTF8String — Spark's binary code-point order, not Java UTF-16
    * code-unit order, which diverges on supplementary-plane chars. */
  private final class Pred(op: Int, s: Int, lit: Any) {
    private val integral = lit match {
      case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte => true
      case _ => false
    }
    private val litLong = if (integral) lit.asInstanceOf[java.lang.Number].longValue else 0L
    private val finiteDouble = lit match { case d: java.lang.Double => java.lang.Double.isFinite(d); case _ => false }
    private val litDouble = if (finiteDouble) lit.asInstanceOf[java.lang.Double].doubleValue else 0.0
    private lazy val litDec = new java.math.BigDecimal(lit.toString)
    private val litUtf8 = lit match { case x: String => UTF8String.fromString(x); case _ => null }

    private def cmpNode(v: JsonNode): Int = lit match {
      case _: java.lang.Number =>
        // a node with no decimal value (a float past double range read as
        // ±Infinity outside a DOUBLE column) is left to the residual filter
        if (!v.isNumber || (v.isFloatingPointNumber && !java.lang.Double.isFinite(v.doubleValue()))) Undecided
        else v.decimalValue().compareTo(litDec)
      case _: String =>
        if (v.isTextual) Integer.signum(UTF8String.fromString(v.asText()).compareTo(litUtf8)) else Undecided
      case b: java.lang.Boolean => if (v.isBoolean) java.lang.Boolean.compare(v.asBoolean(), b) else Undecided
      case _ => Undecided
    }

    private def cmp(): Int = kinds(s) match {
      case KAbsent | KNull => Undecided
      case KNode => cmpNode(nodes(s))
      case k => lit match {
        case _: java.lang.Number =>
          if (k == KLong) {
            if (integral) java.lang.Long.compare(longs(s), litLong)
            else java.math.BigDecimal.valueOf(longs(s)).compareTo(litDec)
          } else if (k == KDouble) {
            // finite doubles order as their decimal strings do (each string
            // rounds back to its double), and -0.0 equals 0.0 in both; a
            // float past double range (1e400) parsed to ±Infinity, which
            // Catalyst orders above or below every finite literal
            val d = doubles(s)
            if (!java.lang.Double.isFinite(d)) { if (d > 0) 1 else if (d < 0) -1 else Undecided }
            else if (finiteDouble) { if (d < litDouble) -1 else if (d > litDouble) 1 else 0 }
            else java.math.BigDecimal.valueOf(d).compareTo(litDec)
          } else Undecided
        case _: String => if (k == KStr) Integer.signum(row.getUTF8String(s).compareTo(litUtf8)) else Undecided
        case b: java.lang.Boolean => if (k == KBool) java.lang.Boolean.compare(longs(s) != 0, b) else Undecided
        case _ => Undecided
      }
    }

    def test(): Boolean = op match {
      case OpIsNull => kinds(s) <= KNull
      case OpIsNotNull => kinds(s) > KNull
      case _ =>
        val c = cmp()
        c == Undecided || (op match {
          case OpEq => c == 0
          case OpGt => c > 0
          case OpGe => c >= 0
          case OpLt => c < 0
          case _ => c <= 0
        })
    }
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = "dropped_lines"
      override def value(): Long = dropped
    })

  private def drop(): Unit = { dropped += 1; GraftBqMetrics.droppedLines.increment() }

  override def next(): Boolean = {
    while (lines.next()) {
      val parsed = try parse(lines.buf, lines.start, lines.start + lines.length) catch {
        case _: Exception if permissive => Corrupt
      }
      if (parsed == Corrupt) drop()
      else if (parsed == NonObject) {
        if (permissive) drop()
        else throw new java.io.IOException(s"graft-bq: non-object JSON line in $file")
      } else if (passes()) {
        unsupported.foreach { i =>
          if (kinds(i) == KNode) throw new UnsupportedOperationException(s"graft-bq: ${schema(i).dataType}")
        }
        return true
      }
    }
    false
  }

  private def passes(): Boolean = {
    var i = 0
    while (i < preds.length) { if (!preds(i).test()) return false; i += 1 }
    true
  }

  /** Parses one line into the slots and the row: [[Parsed]] for an
    * object, [[NonObject]] for any other root; throws on corrupt input. */
  private def parse(buf: Array[Byte], off: Int, end: Int): Int = {
    val bad = GraftBqJson.malformedUtf8(buf, off, end)
    if (bad >= 0) throw new java.io.CharConversionException(
      s"graft-bq: malformed UTF-8 at byte ${bad - off} of a line in $file")
    java.util.Arrays.fill(kinds, KAbsent)
    var i = 0
    while (i < n) { row.setNullAt(i); i += 1 }
    line = buf; lineOff = off; lineEnd = end
    val p = factory.createParser(buf, off, end - off)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) {
        // a non-object root is still read whole: a malformed one is corrupt
        if (p.currentToken() != null) mapper.readTree[JsonNode](p)
        NonObject
      } else {
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val s = slotOf.get(p.currentName())
          val t = p.nextToken()
          if (s == null) p.skipChildren() else read(s, t, p)
        }
        Parsed
      }
    } finally p.close()
  }

  /** A string token's value. An unescaped string is its own bytes in the
    * line, already checked as UTF-8, so they are copied as they are and
    * the parser skips the string undecoded; an escaped one is decoded. */
  private def string(p: JsonParser): UTF8String = {
    val q = lineOff + p.currentTokenLocation().getByteOffset.toInt
    if (q < lineEnd && line(q) == '"') {
      var i = q + 1
      while (i < lineEnd && line(i) != '"' && line(i) != '\\') i += 1
      if (i < lineEnd && line(i) == '"') return UTF8String.fromBytes(java.util.Arrays.copyOfRange(line, q + 1, i))
    }
    UTF8String.fromString(p.getText)
  }

  /** One value into slot `s` (and its column, for a schema slot). */
  private def read(s: Int, t: JsonToken, p: JsonParser): Unit = {
    if (t == JsonToken.VALUE_NULL) {
      kinds(s) = KNull
      if (s < n) row.setNullAt(s)
      return
    }
    val ty = if (s < n) types(s) else TOther
    if (ty == TLong && t == JsonToken.VALUE_NUMBER_INT && p.getNumberType != JsonParser.NumberType.BIG_INTEGER) {
      val v = p.getLongValue
      kinds(s) = KLong; longs(s) = v; row.setLong(s, v)
    } else if (ty == TInt && t == JsonToken.VALUE_NUMBER_INT && p.getNumberType == JsonParser.NumberType.INT) {
      val v = p.getIntValue
      kinds(s) = KLong; longs(s) = v; row.setInt(s, v)
    } else if (ty == TDouble && t == JsonToken.VALUE_NUMBER_FLOAT) {
      val v = p.getDoubleValue
      kinds(s) = KDouble; doubles(s) = v; row.setDouble(s, v)
    } else if (ty == TBool && (t == JsonToken.VALUE_TRUE || t == JsonToken.VALUE_FALSE)) {
      kinds(s) = KBool; longs(s) = if (t == JsonToken.VALUE_TRUE) 1L else 0L
      row.setBoolean(s, t == JsonToken.VALUE_TRUE)
    } else if (ty == TString && t == JsonToken.VALUE_STRING) {
      kinds(s) = KStr; row.update(s, string(p))
    } else {
      val v = mapper.readTree[JsonNode](p)
      kinds(s) = KNode; nodes(s) = v
      ty match {
        case TLong => row.setLong(s, v.asLong())
        case TInt => row.setInt(s, v.asInt())
        case TDouble => row.setDouble(s, v.asDouble())
        case TBool => row.setBoolean(s, v.asBoolean())
        case TString => row.update(s, UTF8String.fromString(v.asText()))
        case _ => () // a filter-only slot, or a type thrown on once the row passes
      }
    }
  }

  override def get(): InternalRow = row
  override def close(): Unit = lines.close()
}

private object GraftBqPartitionReader {
  // column types
  final val TLong = 0; final val TInt = 1; final val TDouble = 2
  final val TBool = 3; final val TString = 4; final val TOther = 5
  // what a slot holds for the current line; KAbsent and KNull sort first
  final val KAbsent: Byte = 0; final val KNull: Byte = 1; final val KLong: Byte = 2
  final val KDouble: Byte = 3; final val KBool: Byte = 4; final val KStr: Byte = 5; final val KNode: Byte = 6
  // parse outcomes
  final val Parsed = 0; final val NonObject = 1; final val Corrupt = 2
  // pushed filter forms
  final val OpEq = 0; final val OpGt = 1; final val OpGe = 2; final val OpLt = 3
  final val OpLe = 4; final val OpIsNull = 5; final val OpIsNotNull = 6
  final val Undecided = Int.MinValue
}
