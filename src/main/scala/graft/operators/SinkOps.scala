package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sinks.Batcher

/** Query-shaped views of the sink pipeline (SURVEY.md §2a), driven by
  * the REAL `Batcher.assignBatches` greedy implementation — the
  * count-based assignments are independently cross-checked against a
  * closed-form row_number oracle in DuckDB, validating the batch
  * trigger expression, not a SQL re-derivation of it.
  */
object SinkOps {

  val MaxCount = 100L
  val MaxBytes = 4096L

  /** Record size model: serialized payload bytes + fixed row overhead
    * (BigQueryRecord.getSize analog, model/BigQueryRecord.java:9). */
  private def withSize(events: DataFrame): DataFrame =
    events.withColumn("rec_size", (octet_length(col("props")) + 24L).cast("long"))

  /** Count-fired batching per key (BatchTrigger.withCount). */
  def batchAssign(events: DataFrame): DataFrame =
    Batcher.assignBatches(withSize(events), "user_id", "event_id", "rec_size", MaxCount)
      .select(col("event_id"), col("user_id"), col("batch_id"))
      .orderBy(col("event_id"))

  /** Byte-size-fired batching per key (BatchTrigger.withSizeInMb analog
    * at a test-sized limit; greedy accumulate-then-fire semantics). */
  def batchBytes(events: DataFrame): DataFrame =
    Batcher.assignBatches(withSize(events), "user_id", "event_id", "rec_size",
        Long.MaxValue, MaxBytes)
      .select(col("event_id"), col("user_id"), col("batch_id"))
      .orderBy(col("event_id"))

  /** RowBatcher output shape: per (key, batch) the assembled `Rows`
    * batch — count, bytes, id span, default-stream binding
    * (process/RowBatcher.java:24-30 + model/Rows.java:14-17). */
  def rowsBatch(events: DataFrame): DataFrame =
    Batcher.assignBatches(withSize(events), "user_id", "event_id", "rec_size", MaxCount)
      .groupBy(col("user_id"), col("batch_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("rec_size")).as("batch_bytes"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .withColumn("stream",
        concat(lit("projects/p/datasets/d/tables/events_u"), col("user_id"),
          lit("/streams/_default")))
      .orderBy(col("user_id"), col("batch_id"))

  /** Byte-batched RowBatcher view incl. the firing record's size (spec
    * support for the size invariant). */
  def rowsBatchBytes(events: DataFrame): DataFrame =
    Batcher.assignBatches(withSize(events), "user_id", "event_id", "rec_size",
        Long.MaxValue, MaxBytes)
      .groupBy(col("user_id"), col("batch_id"))
      .agg(count(lit(1)).as("n_rows"), sum(col("rec_size")).as("batch_bytes"),
        max_by(col("rec_size"), col("event_id")).as("last_size"))

  /** Exactly-once offset ledger: each batch's start offset within its
    * key's write stream = running count of prior batches
    * (StreamState.offset advance, process/StreamState.java:54-56). */
  def streamOffsets(events: DataFrame): DataFrame = {
    val batches = Batcher.assignBatches(withSize(events), "user_id", "event_id", "rec_size", MaxCount)
      .groupBy(col("user_id"), col("batch_id"))
      .agg(count(lit(1)).as("n_rows"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("batch_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    batches
      .withColumn("offset_start", sum(col("n_rows")).over(w) - col("n_rows"))
      .select(col("user_id"), col("batch_id"), col("offset_start"), col("n_rows"))
      .orderBy(col("user_id"), col("batch_id"))
  }

  /** Per-row JSON serialization + size metric (JsonRowValueSerializer
    * analog, serializer/JsonRowValueSerializer.java). */
  def serializeJson(events: DataFrame): DataFrame =
    events.select(col("event_id"),
        to_json(struct(col("event_id"), col("event_type"), col("user_id"))).as("payload"))
      .withColumn("payload_bytes", octet_length(col("payload")).cast("long"))
      .orderBy(col("event_id"))

  /** Rows through the schema-driven protobuf wire encoder (the
    * descriptor chain of client/BigQueryProtoClientProvider.java:49),
    * as a codegen expression — serialization runs inside
    * WholeStageCodegen on InternalRows. Wire sizes are pure arithmetic
    * over the field values (varint widths + utf8 lengths), which is
    * what the SQL oracle recomputes; decode-equivalence with the
    * external-Row serializer is spec-asserted. */
  def serializeProto(events: DataFrame): DataFrame =
    events.select(col("event_id"),
        graft.functions.F.protoEncode(
          struct(col("event_id"), col("event_type"), col("user_id"))).as("payload"))
      .select(col("event_id"), octet_length(col("payload")).cast("long").as("payload_bytes"))
      .orderBy(col("event_id"))
}
