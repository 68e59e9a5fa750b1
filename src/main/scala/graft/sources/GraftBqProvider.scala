package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.sinks.JsonLine

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
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
  *    incrementally (offset = seen-manifest set).
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

class GraftBqTable(schema: StructType, path: String, permissive: Boolean = false)
    extends Table with SupportsWrite with SupportsRead {
  require(path != null, "graft-bq requires a 'path' option")

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
        new GraftBqWrite(schema, path, info.queryId(), truncateRequested)
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val perm = permissive || "permissive".equalsIgnoreCase(options.get("mode"))
    new GraftBqScanBuilder(schema, path, perm)
  }
}

/** Scan builder with COLUMN PRUNING and FILTER PUSHDOWN. The partition
  * reader still parses every line whole into a JSON tree; pruning
  * narrows what it builds from that tree (a 2-column projection of a
  * wide table converts 2 fields per line and hands Spark 2-field rows),
  * and pushed predicates are evaluated on the tree, dropping rows
  * inside the reader before they reach Spark. Pushed filters are also
  * returned as residual so Catalyst re-checks them — the parquet
  * convention: the source is a row-skipping optimization, never the
  * correctness authority. */
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

/** Commit message: the temp files this task produced. */
case class FilesCommitMessage(tempFiles: Seq[String], rows: Long) extends WriterCommitMessage

class GraftBqWrite(schema: StructType, path: String, queryId: String,
                   truncateOnCommit: Boolean = false)
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
    else finalizeFiles(s"epoch-$epochId", messages)
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
}

class GraftBqWriterFactory(schema: StructType, path: String, queryId: String)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftBqDataWriter(schema, path, queryId, -1L, partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftBqDataWriter(schema, path, queryId, epochId, partitionId, taskId)
}

/** Task-side writer: JSON-lines into an attempt-isolated temp file,
  * encoded through the shared [[graft.sinks.JsonLine]] kernel with one
  * reused line buffer per task. Non-finite doubles go out as the JSON
  * strings "NaN"/"Infinity"/"-Infinity" (bare tokens are not JSON);
  * the reader's `asDouble` parses them back exactly. */
class GraftBqDataWriter(schema: StructType, path: String, queryId: String,
                        epochId: Long, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val tag = if (epochId >= 0) s"e$epochId" else s"q$queryId"
  private val tmp = Paths.get(path).resolve(s".tmp-$tag-p$partitionId-t$taskId.jsonl")
  Files.createDirectories(tmp.getParent)
  private val out = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8,
    StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  private var rows = 0L
  private val prefix = JsonLine.fieldPrefixes(schema)
  private val types = schema.fields.map(_.dataType)
  private val sb = new java.lang.StringBuilder(256)

  override def write(record: InternalRow): Unit = {
    sb.setLength(0)
    sb.append('{')
    var first = true
    var i = 0
    while (i < prefix.length) {
      if (!record.isNullAt(i)) {
        if (!first) sb.append(',')
        first = false
        sb.append(prefix(i))
        types(i) match {
          case LongType | TimestampType => sb.append(record.getLong(i)) // timestamps as micros
          case IntegerType => sb.append(record.getInt(i))
          case DoubleType =>
            val d = record.getDouble(i)
            if (java.lang.Double.isFinite(d)) sb.append(d) else sb.append('"').append(d).append('"')
          case BooleanType => sb.append(record.getBoolean(i))
          case StringType => JsonLine.quoteTo(sb, record.getUTF8String(i).toString)
          case other => throw new UnsupportedOperationException(s"graft-bq: $other")
        }
      }
      i += 1
    }
    out.write(sb.append("}\n").toString)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    FilesCommitMessage(Seq(tmp.toString), rows)
  }
  override def abort(): Unit = { out.close(); Files.deleteIfExists(tmp) }
  override def close(): Unit = ()
}

/** Read side: committed files only, one input partition per file.
  * Streaming read: each micro-batch consumes the manifests that
  * appeared since the last offset (offset = set of seen manifests). */
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

/** `permissive` counts-and-skips unparseable lines (dropped_lines
  * custom metric); default failfast surfaces corruption. */
class GraftBqPartitionReader(schema: StructType, file: String, permissive: Boolean = false,
                             pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.sources._
  private val mapper = new ObjectMapper()
  private val lines = Files.lines(Paths.get(file))
  private val it = lines.iterator()
  private var current: InternalRow = _
  private var dropped = 0L

  /** Comparison against the raw JSON node. None = "cannot be decided
    * at the source" — field missing, JSON null, or a node type that
    * doesn't cleanly match the literal (e.g. a numeric stored as a
    * JSON string, which [[nextFrom]] would coerce). A None KEEPS the
    * row: the residual Catalyst filter is the correctness authority,
    * and a skipped evaluation only costs the optimization, never a
    * row. (Null fields pass through too — the residual's 3-valued
    * SQL comparison drops them identically.) Strings compare as
    * UTF8String — Spark's binary code-point order, not Java UTF-16
    * code-unit order, which diverges on supplementary-plane chars. */
  private def cmp(node: com.fasterxml.jackson.databind.JsonNode,
                  attr: String, lit: Any): Option[Int] = {
    val v = node.get(attr)
    if (v == null || v.isNull) None
    else lit match {
      case n: java.lang.Number =>
        if (!v.isNumber) None
        else Some(v.decimalValue().compareTo(new java.math.BigDecimal(n.toString)))
      case s: String =>
        if (!v.isTextual) None
        else Some(UTF8String.fromString(v.asText()).compareTo(UTF8String.fromString(s)))
      case b: java.lang.Boolean =>
        if (!v.isBoolean) None
        else Some(java.lang.Boolean.compare(v.asBoolean(), b))
      case _ => None
    }
  }

  private def passes(node: com.fasterxml.jackson.databind.JsonNode): Boolean =
    pushed.forall {
      // forall(...) on None = true: undecidable-at-source keeps the row
      case EqualTo(a, v) => cmp(node, a, v).forall(_ == 0)
      case GreaterThan(a, v) => cmp(node, a, v).forall(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(node, a, v).forall(_ >= 0)
      case LessThan(a, v) => cmp(node, a, v).forall(_ < 0)
      case LessThanOrEqual(a, v) => cmp(node, a, v).forall(_ <= 0)
      case IsNull(a) => val x = node.get(a); x == null || x.isNull
      case IsNotNull(a) => val x = node.get(a); x != null && !x.isNull
      case _ => true
    }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = "dropped_lines"
      override def value(): Long = dropped
    })

  private def drop(): Unit = { dropped += 1; GraftBqMetrics.droppedLines.increment() }

  @scala.annotation.tailrec
  final override def next(): Boolean = {
    if (!it.hasNext) return false
    val line = it.next()
    val parsed = try Some(mapper.readTree(line)) catch {
      case e: Exception => if (permissive) None else throw e
    }
    parsed match {
      case None => drop(); next()
      case Some(node) if !node.isObject =>
        if (permissive) { drop(); next() }
        else throw new java.io.IOException(s"graft-bq: non-object JSON line in $file")
      case Some(node) if !passes(node) => next() // pushed-filter row skip
      case Some(node) => nextFrom(node)
    }
  }

  private def nextFrom(node: com.fasterxml.jackson.databind.JsonNode): Boolean = {
    val values = schema.fields.map { f =>
      val v = node.get(f.name)
      if (v == null || v.isNull) null
      else f.dataType match {
        case LongType | TimestampType => v.asLong(): java.lang.Long
        case IntegerType => v.asInt(): java.lang.Integer
        case DoubleType => v.asDouble(): java.lang.Double
        case BooleanType => v.asBoolean(): java.lang.Boolean
        case StringType => UTF8String.fromString(v.asText())
        case other => throw new UnsupportedOperationException(s"graft-bq: $other")
      }
    }
    current = InternalRow.fromSeq(values.toIndexedSeq)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
