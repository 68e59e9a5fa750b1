package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The registered queries of the query mix and their result fingerprint. */
object Mix {
  val queries: Seq[String] = Seq(
    "q43_tpch_q14", "embedding_outliers", "q32_sessions", "serialize_proto")

  /** Floating-point values are hashed as floats: summation order may move
    * a double by a few ulps between runs, which almost never crosses a
    * float rounding boundary. Maps are hashed as sorted entry arrays. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c else struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(_, _, _) => canon(array_sort(map_entries(c)), ArrayType(
      StructType(Seq(StructField("key", t.asInstanceOf[MapType].keyType),
        StructField("value", t.asInstanceOf[MapType].valueType)))))
    case _ => c
  }

  /** (rows, order-independent checksum) of a query result, computed in
    * Spark so the whole result is produced but nothing is collected. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).bitwiseAND(lit(0xFFFFFFFFFFL)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}

/** Units of the per-layer metrics; anything not listed is a count. */
object Layers {
  val units: Map[String, String] = {
    val ms = Seq("sinks.batcher_ms", "sinks.alo_default_ms", "sinks.alo_keyed_ms", "sinks.append_busy_ms",
      "sinks.ledger_addbatch_ms", "sources.bq_write_task_ms", "sources.bq_commit_ms",
      "stream.addbatch_ms", "stream.planning_ms", "stream.wal_ms", "stream.commit_offsets_ms",
      "sources.scan_full_ms", "sources.scan_pruned_ms", "sources.scan_pushed_ms",
      "spark.planning_ms", "spark.gc_ms", "host.calib_ms", "host.calib_end_ms", "stream.epoch_p95_ms") ++
      Mix.queries.map(q => s"q.${q}_ms")
    ms.map(_ -> "ms").toMap ++ Map(
      "sinks.batch_fill_pct" -> "%", "sinks.append_success_pct" -> "%", "host.steal_pct" -> "%",
      "sinks.json_serialize_ns_per_row" -> "ns/row", "sources.bq_bytes_per_row" -> "B/row",
      "stream.epoch_latency_slope_us" -> "us/epoch", "spark.shuffle_write_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.task_skew" -> "ratio", "spark.cpu_util" -> "ratio",
      "host.loadavg_before" -> "load", "host.loadavg_after" -> "load") ++
      Main.endToEnd.map { case (n, u) => s"traced.$n" -> u }
  }
}
