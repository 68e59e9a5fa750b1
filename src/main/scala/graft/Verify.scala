package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd+ args: run (and emit oracles for) only these query
    // names — a targeted re-check at big SF without the full sweep
    val only = args.drop(2).toSet
    // fail fast on unknown names: a typo would otherwise dump nothing,
    // emit an empty oracle_sql.json, and compare.py would report ALL
    // GREEN over zero queries
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val spark = Sessions.local()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators persist() signature tables internally — drop them so
      // cached blocks don't accumulate across the per-query dumps
      spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = {
      val sb = new java.lang.StringBuilder
      graft.sinks.JsonLine.quoteTo(sb, s)
      sb.toString
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Spark-side environment provenance beside the dumps: engine
    // version, session timezone, and every input table's schema AS
    // SPARK READS IT (surfaces ns-vs-us timestamp and NTZ-vs-LTZ
    // layout differences between testdata generations — the r6
    // driver-vs-replica dispute would have been diagnosable from this
    // file plus compare.py's compare_meta.json in one diff).
    try {
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
        .flatMap { t =>
          scala.util.Try {
            val raw = spark.read.parquet(s"$sfDir/$t.parquet")
            s"${q(t)}: ${q(raw.schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", "))}"
          }.toOption
        }
      val meta =
        s"""{"spark": ${q(spark.version)}, "timezone": ${q(
          spark.conf.get("spark.sql.session.timeZone"))}, "sfDir": ${q(sfDir)}, "schemas": {${tables.mkString(",")}}}"""
      Files.writeString(Paths.get(s"$outDir/spark_meta.json"), meta)
      // Best-effort copy into the working directory (the repo, when
      // the driver runs `sbt runMain` from it): the DRIVER's verify
      // environment becomes inspectable next round even though its
      // outDir never is — the r6 dispute took a full round to
      // root-cause for want of exactly this file.
      Files.writeString(Paths.get("verify_meta_last.json"), meta + "\n")
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
