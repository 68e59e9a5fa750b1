package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-path operators, SURVEY.md §2e: the techniques that keep joins
  * and aggregations alive at 100 TB — bucketing (co-located joins with
  * no exchange), key salting (skew mitigation), and sketch-based
  * approximate aggregation.
  */
object ScaleOps {

  /** Writes `lineitem` and `orders` bucketed by the join key. A later
    * sort-merge join of the two bucketed tables requires NO shuffle —
    * at 100 TB this turns the biggest exchange in the workload into a
    * local merge per bucket. Bucket count picks total-size/target-
    * partition at real scale; parameterized here. */
  def writeBucketed(spark: SparkSession, sfDir: String, buckets: Int = 8): Unit = {
    // Reuse a bucketed copy this session already wrote for the same
    // source (bench/verify call per query; bucketing is a one-time
    // cost). Validity check reads table properties only — no scan, no
    // driver-blocking count (a full count per call defeats the point
    // of caching at 100 TB).
    val sourceTag = s"$sfDir#$buckets"
    def tagged(t: String): Boolean =
      spark.catalog.tableExists(t) &&
        spark.sql(s"SHOW TBLPROPERTIES $t").collect()
          .exists(r => r.getString(0) == "graft.source" && r.getString(1) == sourceTag)
    if (tagged("graft_lineitem_bucketed") && tagged("graft_orders_bucketed")) {
      return
    }
    // In-memory catalogs don't know about tables a previous session left
    // in the warehouse dir — drop both the entry and the location.
    Seq("graft_lineitem_bucketed", "graft_orders_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.isDirectory(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    graft.Tables.lineitem(spark, sfDir).write.mode("overwrite")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_lineitem_bucketed")
    graft.Tables.orders(spark, sfDir).write.mode("overwrite")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_orders_bucketed")
    spark.sql(s"ALTER TABLE graft_lineitem_bucketed SET TBLPROPERTIES ('graft.source'='$sourceTag')")
    spark.sql(s"ALTER TABLE graft_orders_bucketed SET TBLPROPERTIES ('graft.source'='$sourceTag')")
  }

  /** The q4 join over the bucketed tables: same result, no Exchange in
    * the physical plan (asserted in BucketedJoinSpec). */
  def bucketedJoin(spark: SparkSession): DataFrame =
    spark.table("graft_lineitem_bucketed")
      .join(spark.table("graft_orders_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(Relational.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))

  /** Salted aggregation for skewed keys: two-phase — aggregate on
    * (key, salt) to split a hot key across `salts` reducers, then
    * re-aggregate partials on the key alone. Exact same result as a
    * direct groupBy; the skew never lands on one reducer. */
  def saltedAgg(events: DataFrame, salts: Int = 16): DataFrame =
    events
      .withColumn("salt", pmod(col("event_id"), lit(salts)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("pv"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n_events"), round(sum(col("pv")), 2).as("sum_value"))
      .orderBy(col("event_type"))

  /** Salted broadcast join against a replicated small side: the skewed
    * fact key is salted and the dim is exploded across the salt range,
    * so one hot key spreads over `salts` tasks. Equivalent rows to the
    * unsalted join. */
  def saltedJoin(events: DataFrame, salts: Int = 8): DataFrame = {
    val dim = events.sparkSession.createDataFrame(Seq(
      ("view", 1.0), ("click", 2.0), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0)))
      .toDF("event_type", "weight")
    val saltedDim = dim.withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    events
      .withColumn("salt", pmod(col("event_id"), lit(salts)).cast("int"))
      .join(broadcast(saltedDim), Seq("event_type", "salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value") * col("weight")), 2).as("weighted"))
      .orderBy(col("event_type"))
  }

  /** Stratified sampling: per-stratum fractions without a shuffle
    * (seeded Bernoulli per row → deterministic, reproducible splits —
    * the train/eval split primitive of a data pipeline). */
  def stratifiedSample(documents: DataFrame, fractions: Map[String, Double],
                       seed: Long = 42L): DataFrame =
    documents.stat.sampleBy("lang", fractions, seed)

  /** Deterministic train/val/test split by key hash — stable across
    * runs, cluster sizes and engines (md5-derived bucket, not RNG). */
  def hashSplit(documents: DataFrame, valPct: Int = 10, testPct: Int = 10): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    documents.withColumn("split",
      when(bucket < valPct, "val")
        .when(bucket < valPct + testPct, "test")
        .otherwise("train"))
  }

  /** Data-layout half of the scale toolkit: writes `orders` to a
    * month-partitioned directory layout, sorted by order date within
    * partitions (clustered row groups → tight parquet min/max). At
    * 100 TB a time-filtered scan then reads only the overlapping
    * partitions — pruning happens at PLANNING time (PartitionFilters),
    * before any file is opened. One-time cost per layout, amortized
    * over every subsequent query (the parquet-native analog of a
    * table-format clustering key). */
  def writePartitionedLayout(spark: SparkSession, sfDir: String): String = {
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_orders_by_month").toString
    val tag = java.nio.file.Paths.get(dir, "_graft_source")
    if (java.nio.file.Files.exists(tag) &&
        new String(java.nio.file.Files.readAllBytes(tag)) == sfDir) {
      return dir
    }
    graft.Tables.orders(spark, sfDir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .repartition(col("o_month"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode("overwrite").partitionBy("o_month").parquet(dir)
    java.nio.file.Files.write(tag, sfDir.getBytes)
    dir
  }

  /** Two-dimensional data layout: orders clustered by the Z-order
    * (Morton) interleave of (customer key, order date) —
    * `repartitionByRange` on the Z key plus a within-partition sort
    * gives every output file a bounded range in BOTH dimensions, so
    * parquet min/max statistics prune scans filtered on either or both
    * (a one-dimensional sort only tightens one). The per-file
    * two-dimensional tightness is spec-asserted. */
  def writeZorderLayout(spark: SparkSession, sfDir: String, files: Int = 8): String = {
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_orders_zorder").toString
    val tag = java.nio.file.Paths.get(dir, "_graft_source")
    if (java.nio.file.Files.exists(tag) &&
        new String(java.nio.file.Files.readAllBytes(tag)) == s"$sfDir#$files") {
      return dir
    }
    // Normalize both dimensions to the full bit range before
    // interleaving — with raw values the wider dimension owns all the
    // high z-bits and the narrow one never gets split (its per-file
    // range stays full). One min/max agg per layout write: metadata-
    // scale work, amortized like the write itself.
    val orders = graft.Tables.orders(spark, sfDir)
    val day = datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("long")
    val b = orders.agg(min(col("o_custkey")), max(col("o_custkey")), min(day), max(day)).head()
    val (c0, c1, d0, d1) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val full = (1L << 16) - 1
    def norm(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      ((c - lit(lo)) * lit(full) / lit(math.max(hi - lo, 1L))).cast("long")
    val zkey = graft.functions.F.zorder2(
      norm(col("o_custkey"), c0, c1), norm(day, d0, d1), 16)
    orders
      .withColumn("zkey", zkey)
      .repartitionByRange(files, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .drop("zkey")
      .write.mode("overwrite").parquet(dir)
    java.nio.file.Files.write(tag, s"$sfDir#$files".getBytes)
    dir
  }

  /** A box query over the Z-ordered layout: customer range x date
    * range, the access pattern the layout exists for. */
  def zorderBoxScan(spark: SparkSession, layoutDir: String): DataFrame =
    spark.read.parquet(layoutDir)
      .filter(col("o_custkey") >= 1000 && col("o_custkey") < 2000 &&
        col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), Relational.moneySum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))

  /** Monthly revenue over one year, served by the partitioned layout:
    * the month predicate is a PartitionFilter (planning-time directory
    * pruning, asserted in the spec) and the within-partition sort keeps
    * row groups tight for the residual date range. */
  def partitionPrunedScan(spark: SparkSession, layoutDir: String,
                          fromMonth: String = "1995-01",
                          toMonth: String = "1995-12"): DataFrame =
    spark.read.parquet(layoutDir)
      .filter(col("o_month") >= fromMonth && col("o_month") <= toMonth)
      .groupBy(col("o_month"))
      .agg(Relational.moneySum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy(col("o_month"))

  /** Sketch-based distinct: HyperLogLog++ approximate counts next to
    * exact ones. At 100 TB the approx pass is one scan with tiny fixed
    * state; rsd controls the memory/accuracy trade. Output carries the
    * exact counts plus within-tolerance booleans (|approx-exact|/exact
    * <= 3*rsd) so an exact-SQL oracle can gate the sketch: the oracle
    * emits the same exact counts and literal TRUE. */
  def approxDistinct(lineitem: DataFrame, rsd: Double = 0.02): DataFrame =
    lineitem.agg(
      approx_count_distinct(col("l_partkey"), rsd).as("ap"),
      countDistinct(col("l_partkey")).as("exact_parts"),
      approx_count_distinct(col("l_suppkey"), rsd).as("asu"),
      countDistinct(col("l_suppkey")).as("exact_supps"))
    .select(col("exact_parts"), col("exact_supps"),
      (abs(col("ap") - col("exact_parts")).cast("double") / col("exact_parts")
        <= lit(3 * rsd)).as("parts_within_tol"),
      (abs(col("asu") - col("exact_supps")).cast("double") / col("exact_supps")
        <= lit(3 * rsd)).as("supps_within_tol"))

  /** Equi-width histogram over integer cents — the quantile member of
    * the sketch trio (counts → count-min, distincts → HLL, quantiles →
    * here): one corpus scan buckets each value with an exact integer
    * div, the groupBy is bounded by range/width buckets, count is the
    * map-side combiner, and histogram MERGE IS cell-wise sum (the CMS
    * rule — spec-proven on halves and stream epochs). */
  private[graft] def histTable(orders: DataFrame, widthCents: Long = 200000L): DataFrame =
    orders.select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .select(expr(s"cents div $widthCents").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  /** Quantile estimates from the histogram next to the exact order
    * statistics — the audit face: for each requested percentile the
    * rank is the exact ceil(q·n/100), the estimate is the half-open
    * [bucket·w, bucket·w + w) bucket whose cumulative count first
    * reaches that rank, and `contains_exact` re-checks the sketch
    * theorem (the rank-th value MUST lie in that bucket) in both
    * engines. Every output is an exact integer or a theorem boolean —
    * no doubles anywhere. The exact side needs NO global sort (r12):
    * the candidate bucket + in-bucket offset selection bounds every
    * window at bucket granularity; at 100 TB the histogram (cum table
    * ≤ range/width rows, broadcast) answers quantile queries alone,
    * which is the point of the sketch. */
  def histQuantiles(orders: DataFrame, widthCents: Long = 200000L,
                    qs: Seq[Int] = Seq(25, 50, 75, 95, 99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tiny-table windows/sorts: the histogram is bucket-bounded
    val cum = histTable(orders, widthCents)
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val quants = orders.agg(count(lit(1)).as("n"))
      .select(explode(array(qs.map(q => lit(q.toLong)): _*)).as("q_pct"), col("n"))
      .select(col("q_pct"), expr("(q_pct * n + 99) div 100").as("rank"))
    val est = quants.join(broadcast(cum), col("cum") >= col("rank"))
      .groupBy(col("q_pct"), col("rank")).agg(min(col("bucket")).as("b"))
    // exact order statistic WITHOUT a global sort (r12): the estimate
    // already names the candidate bucket, and the cum table knows how
    // many rows precede it — so the rank-th value is the offset-th
    // smallest INSIDE that one bucket. Only candidate-bucket rows are
    // ranked (per-q_pct window over ≤ widthCents distinct values), the
    // kllQuantileReportGrouped selection idiom — the corpus-wide
    // row_number this replaces was the audit's documented 100 TB trade.
    val cand = est.join(broadcast(cum), col("b") === col("bucket"))
      .select(col("q_pct"), col("rank"), col("b"), col("b").as("bucket"),
        (col("rank") - (col("cum") - col("cnt"))).as("offset"))
    val exact = orders
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .withColumn("bucket", expr(s"cents div $widthCents"))
      .join(broadcast(cand), "bucket")
      .groupBy(col("q_pct"), col("rank"), col("b"), col("offset"), col("cents"))
      .agg(count(lit(1)).as("c"))
      .withColumn("icum", sum(col("c")).over(
        Window.partitionBy(col("q_pct")).orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("icum") >= col("offset"))
      .groupBy(col("q_pct"), col("rank"), col("b"))
      .agg(min(col("cents")).as("cents"))
    exact
      .select(col("q_pct"), col("rank"),
        (col("b") * widthCents).as("est_lo_cents"),
        (col("b") * widthCents + widthCents).as("est_hi_cents"),
        col("cents").as("exact_cents"),
        (col("cents") >= col("b") * widthCents &&
          col("cents") < col("b") * widthCents + widthCents).as("contains_exact"))
      .orderBy(col("q_pct"))
  }

  /** Quantile binning — the histogram sketch reused as a FEATURE
    * TRANSFORMER (the ML-preprocessing face of [[histQuantiles]]):
    * bucket-boundary thresholds at the exact ceil-rank quartile
    * targets broadcast as ≤ nBins−1 values, and every row bins itself
    * ROW-LOCALLY against them (an aggregate() fold — order-free, so
    * the unordered collect_list is safe). The corpus pays one
    * histogram scan + one binning scan; no sort, no shuffle beyond
    * the bucket-bounded histogram agg. Bin populations are
    * quantile-balanced up to bucket-width granularity — the
    * histogram's documented resolution trade. */
  def quantileBins(orders: DataFrame, widthCents: Long = 200000L,
                   nBins: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = orders.select(round(col("o_totalprice") * 100, 0)
      .cast("long").as("cents"))
    val cum = histTable(orders, widthCents)
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val quants = orders.agg(count(lit(1)).as("n"))
      .select(explode(array((1 until nBins).map(q => lit(q.toLong)): _*)).as("q"), col("n"))
      .select(col("q"), expr(s"(q * n + ${nBins - 1}) div $nBins").as("rank"))
    val thrs = quants.join(broadcast(cum), col("cum") >= col("rank"))
      .groupBy(col("q"))
      .agg((min(col("bucket")) * widthCents + widthCents).as("thr"))
      .agg(collect_list(col("thr")).as("thrs"))
    cents.crossJoin(broadcast(thrs))
      .withColumn("bin", lit(1L) + expr(
        "aggregate(thrs, 0L, (a, t) -> a + CASE WHEN cents >= t THEN 1L ELSE 0L END)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"), min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy(col("bin"))
  }

  /** Ingest-time histogram maintenance — per-epoch delta bucket
    * tables, merge = cell-wise sum, replay-idempotent by overwrite.
    * Same ownership contract as [[countMinStream]]. */
  def histStream(orders: DataFrame, sketchDir: String, widthCents: Long = 200000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    orders.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // skip no-data micro-batches: an empty epoch writes _SUCCESS
      // with no parquet files and bricks later reads (the pq/ivf fix)
      if (!batch.isEmpty) histTable(batch, widthCents)
        .write.mode("overwrite").parquet(s"$sketchDir/delta-b$batchId")
    }

  /** Merged histogram over every ingested epoch: bucket-wise sum. */
  def histMerged(spark: SparkSession, sketchDir: String): DataFrame = {
    val deltas = StoredArtifacts.listEpochs(spark, sketchDir)
    require(deltas.nonEmpty, s"no delta histograms under $sketchDir")
    spark.read.parquet(deltas: _*)
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
  }

  /** Referential-integrity audit — the constraint checks a warehouse
    * runs on every load (orphan facts, childless parents, domain
    * violations), reported as exact violation counts. ONE scan per
    * table (the r7 verdict's 3×-orders/4×-lineitem fold): lineitem
    * collapses to a per-orderkey aggregate carrying its row-local
    * domain-violation counts (nonpositive qty; the NULL-key rows form
    * their own group), orders joins it full-outer at orderkey grain
    * (o_orderkey is unique, so the orders side needs no pre-agg and
    * o_custkey rides along), customer contributes its key set on the
    * same pass, and ALL FIVE checks fall out of one aggregate over the
    * joined frame — presence/absence of each side classifies the row.
    * A stack() unpivot reshapes the 1-row result into the same
    * (check, n_bad) report (oracle unchanged). At 100 TB the one
    * orderkey shuffle rides AQE; the violating classes are counted,
    * never materialized. */
  def integrityAudit(orders: DataFrame, lineitem: DataFrame,
                     customer: DataFrame): DataFrame = {
    val lgrp = lineitem
      .groupBy(col("l_orderkey").as("lkey"))
      .agg(count(lit(1)).as("lcnt"),
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("npq"))
    val ckeys = customer.select(col("c_custkey")).distinct()
      .withColumn("c_present", lit(1))
    // customer membership resolves at orders ROW grain, THEN orders
    // collapses to orderkey grain — so the presence join below is 1:1
    // even if the o_orderkey "primary key" is itself violated (an
    // integrity auditor must not assume the integrity it audits):
    // every check stays exact row-count semantics under duplicates
    val ogrp = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(ckeys, col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("o_orderkey").as("okey"))
      .agg(count(lit(1)).as("ocnt"),
        sum(when(col("c_present").isNull, 1L).otherwise(0L)).as("o_nocust"))
    ogrp
      .join(lgrp, col("okey") === col("lkey"), "full_outer")
      .agg(
        coalesce(sum(when(col("lcnt").isNull, col("ocnt"))), lit(0L))
          .as("childless_order"),
        coalesce(sum(col("npq")), lit(0L)).as("nonpositive_qty"),
        // the NULL-key lineitem group never equality-matches an order:
        // it surfaces as (okey null, lkey null) — same rows the old
        // left-anti counted under both checks
        coalesce(sum(when(col("lkey").isNull && col("lcnt").isNotNull,
          col("lcnt"))), lit(0L)).as("null_lineitem_key"),
        coalesce(sum(when(col("okey").isNull, col("lcnt"))), lit(0L))
          .as("orphan_lineitem"),
        coalesce(sum(col("o_nocust")), lit(0L)).as("orphan_order_customer"))
      .select(expr("stack(5, " +
        "'childless_order', childless_order, " +
        "'nonpositive_qty', nonpositive_qty, " +
        "'null_lineitem_key', null_lineitem_key, " +
        "'orphan_lineitem', orphan_lineitem, " +
        "'orphan_order_customer', orphan_order_customer" +
        ") as (check, n_bad)"))
      .orderBy(col("check"))
  }

  /** One-pass column profiler — the data-quality audit every 100 TB
    * ingest runs before anything else (the Deequ/profiling niche):
    * per-column row/null/distinct counts, native-typed min/max
    * (rendered to strings so one schema fits every column type), and
    * total string length. ONE scan of the table: all per-column
    * aggregates ride a single agg node (the distinct counts expand the
    * scan internally — Catalyst's Expand — but the input is still read
    * once), then a stack() unpivot reshapes the 1-row result to a
    * row-per-column report. Output is corpus-size-independent
    * (|columns| rows). */
  def profile(documents: DataFrame,
              cols: Seq[String] = Seq("doc_id", "lang", "n_chars", "source", "text"))
      : DataFrame = {
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__n"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
      countDistinct(col(c)).as(s"${c}__nd"),
      min(col(c)).cast("string").as(s"${c}__mn"),
      max(col(c)).cast("string").as(s"${c}__mx"),
      sum(length(col(c).cast("string")).cast("long")).as(s"${c}__tl"))
    }
    val one = documents.agg(aggs.head, aggs.tail: _*)
    val stackExpr = s"stack(${cols.length}, " + cols.map(c =>
      s"'$c', ${c}__n, ${c}__nn, ${c}__nd, ${c}__mn, ${c}__mx, ${c}__tl")
      .mkString(", ") +
      ") as (col_name, n_values, n_null, n_distinct, min_str, max_str, total_strlen)"
    one.select(expr(stackExpr)).orderBy(col("col_name"))
  }

  /** Key-skew diagnostics — the pre-flight a 100 TB engineer runs
    * BEFORE picking a join/agg strategy (broadcast? salt? AQE skew
    * split?), reported as exact integers: row/key counts, the hottest
    * key's count, exact p50/p99 of the per-key distribution
    * (ceil-rank order statistics), max-to-average ratio ×100, and the
    * top-10 keys' share of all rows in basis points (tie-invariant:
    * equal-count keys contribute equal sums whichever is picked).
    *
    * Scale shape: the corpus is touched once by the per-key count agg
    * (map-side combinable); everything after runs on the REDUCED
    * key-count table — the top-10 rides a graft_topk heap with
    * partials, and the percentiles come from the count-of-counts
    * cumulative (≤ √(2·n_rows) distinct count values — r12; never a
    * sort of the key domain itself). */
  def skewReport(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perKey = materializedKeys(events)
    val base = perKey.agg(
        sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_cnt"),
        graft.functions.F.topk(col("cnt").cast("double"), col("user_id"), 10).as("top"))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        expr("aggregate(top, 0L, (a, x) -> a + CAST(x.score AS LONG))").as("top10_rows"),
        expr("(50 * n_keys + 99) div 100").as("r50"),
        expr("(99 * n_keys + 99) div 100").as("r99"))
    // exact p50/p99 from the COUNT-OF-COUNTS table (r12): the rank-r
    // key's cnt equals min{c : ccum(c) >= r}, and distinct count
    // values are <= sqrt(2·n_rows) — the keys-sized row_number window
    // this replaces was a single-partition sort of the whole key
    // domain at 100 TB. The user_id tiebreak never changes the cnt
    // value at a given rank, so the outputs are identical.
    val coc = perKey.groupBy(col("cnt")).agg(count(lit(1)).as("k"))
      .withColumn("ccum", sum(col("k")).over(Window.orderBy(col("cnt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // the trailing isNotNull keeps the empty-input contract: zero rows
    // out (a bare global agg would emit one null row where the old
    // rank-equality join emitted none)
    val p50 = coc.join(broadcast(base.select(col("r50"))), col("ccum") >= col("r50"))
      .agg(min(col("cnt")).as("p50_cnt")).where(col("p50_cnt").isNotNull)
    val p99 = coc.join(broadcast(base.select(col("r99"))), col("ccum") >= col("r99"))
      .agg(min(col("cnt")).as("p99_cnt")).where(col("p99_cnt").isNotNull)
    base.crossJoin(p50).crossJoin(p99)
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        col("p50_cnt"), col("p99_cnt"),
        expr("(100 * max_cnt * n_keys) div n_rows").as("maxavg_x100"),
        expr("(10000 * top10_rows) div n_rows").as("top10_share_bp"))
  }

  /** The persisted per-key count table [[skewReport]] reads three
    * times (stats agg, rank window, percentile joins). */
  private def materializedKeys(events: DataFrame): DataFrame =
    Dedup.materialized(
      events.groupBy(col("user_id")).agg(count(lit(1)).as("cnt")))

  /** INGEST-time profile maintenance — the mergeable face of
    * [[profile]] for a corpus that arrives in epochs: the additive
    * stats (row/null/strlen counts) and order stats (min/max strings)
    * merge trivially, and the one NON-mergeable column —
    * countDistinct — is replaced by per-column HLL REGISTER tables
    * (47d's artifact), because distinct-count mergeability is exactly
    * what HLL exists for. Each epoch writes `delta-b<id>/{stats,regs}`
    * (replay-idempotent overwrite); the merged profile is exact on
    * every field except distinct, which carries the HLL estimate. */
  def profileStream(df: DataFrame, profDir: String,
                    cols: Seq[String] = Seq("doc_id", "lang", "n_chars", "source", "text"))
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // skip no-data micro-batches: the regs table is a groupBy, so an
      // empty epoch writes _SUCCESS with no parquet files under regs/
      // and bricks profileMerged (the pq/ivf fix)
      if (!batch.isEmpty) {
        val aggs = cols.flatMap { c => Seq(
          count(col(c)).as(s"${c}__n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
          min(col(c)).cast("string").as(s"${c}__mn"),
          max(col(c)).cast("string").as(s"${c}__mx"),
          sum(length(col(c).cast("string")).cast("long")).as(s"${c}__tl"))
        }
        val stackExpr = s"stack(${cols.length}, " + cols.map(c =>
          s"'$c', ${c}__n, ${c}__nn, ${c}__mn, ${c}__mx, ${c}__tl").mkString(", ") +
          ") as (col_name, n_values, n_null, min_str, max_str, total_strlen)"
        batch.agg(aggs.head, aggs.tail: _*).select(expr(stackExpr))
          .write.mode("overwrite").parquet(s"$profDir/delta-b$batchId/stats")
        cols.map { c =>
          hllTable(batch.select(col(c).as("k")), keyCol = "k")
            .select(lit(c).as("col_name"), col("reg"), col("m_reg"))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$profDir/delta-b$batchId/regs")
      }
    }

  /** The merged profile over every ingested epoch: exact sums/min/max
    * plus the HLL distinct estimate per column. */
  def profileMerged(spark: SparkSession, profDir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val deltas = StoredArtifacts.listEpochs(spark, profDir,
      subTables = Seq("stats", "regs"))
    require(deltas.nonEmpty, s"no profile deltas under $profDir")
    val stats = spark.read.parquet(deltas.map(d => s"$d/stats"): _*)
      .groupBy(col("col_name"))
      .agg(sum(col("n_values")).as("n_values"), sum(col("n_null")).as("n_null"),
        min(col("min_str")).as("min_str"), max(col("max_str")).as("max_str"),
        sum(col("total_strlen")).as("total_strlen"))
    val regRows = spark.read.parquet(deltas.map(d => s"$d/regs"): _*)
      .groupBy(col("col_name"), col("reg")).agg(max(col("m_reg")).as("m_reg"))
      .collect()  // ≤ columns × m rows — metadata-scale
    val ests = regRows.groupBy(_.getString(0)).map { case (c, rows) =>
      (c, hllEstimate(rows.map(_.getLong(2)).toSeq))
    }
    val estDf = stats.sparkSession.createDataFrame(
      ests.toSeq.map { case (c, e) => org.apache.spark.sql.Row(c, e) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("col_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("est_distinct",
          org.apache.spark.sql.types.LongType))))
    stats.join(broadcast(estDf), "col_name").orderBy(col("col_name"))
  }

  /** Bloom-filter bit cell `i` for a key: portable 60-bit md5, mod the
    * bit-array size — the cmCell idiom with the filter's own salt. */
  private def bloomCell(key: org.apache.spark.sql.Column, i: Int, mBits: Int) =
    pmod(conv(substring(md5(concat(key, lit(s":bf$i"))), 1, 15), 16, 10)
      .cast("long"), lit(mBits.toLong))

  /** Bloom filter as a RELATIONAL artifact — the membership member of
    * the sketch family (counts → CMS, distincts → HLL, quantiles →
    * histogram, membership → here) and the relational twin of the
    * Catalyst-injected runtime bloom join pruning (§2e-49b): the bit
    * array is a sparse (cell) table — one scan fans each key into `k`
    * cells, distinct bounds the table by mBits, and Bloom MERGE IS
    * set union (idempotent like HLL's max — replay cannot
    * double-set a bit). */
  private[graft] def bloomTable(keys: DataFrame, mBits: Int = 131072,
                                k: Int = 3): DataFrame =
    keys.filter(col("key").isNotNull)
      .select(posexplode(array((0 until k).map(i =>
        bloomCell(col("key").cast("string"), i, mBits)): _*)).as(Seq("i", "cell")))
      .select(col("cell")).distinct()

  /** The Bloom membership audit: build the filter over the customer
    * key set, then probe (a) every set key — `no_false_negatives`
    * re-checks the Bloom theorem in both engines — and (b) an
    * equal-sized guaranteed-absent key set, measuring the false-
    * positive count against the standard (1−e^{−kn/m})^k expectation
    * (the one double, feeding only the tolerance boolean). Every
    * count is an exact integer. Scale: the filter is SMALL BY DESIGN
    * (≤ mBits cells — that is the point of a Bloom filter), so the
    * probe join broadcasts it; probes fan row-locally into k cells
    * and reduce with a combinable per-key count. */
  def bloomAudit(customer: DataFrame, mBits: Int = 131072, k: Int = 3): DataFrame = {
    val keys = Dedup.materialized(customer.select(col("c_custkey").as("key")))
    val cells = bloomTable(keys, mBits, k)
    def probe(p: DataFrame): DataFrame =
      p.select(col("key"), posexplode(array((0 until k).map(i =>
          bloomCell(col("key").cast("string"), i, mBits)): _*)).as(Seq("i", "cell")))
        .join(broadcast(cells.withColumn("hit", lit(1L))), Seq("cell"), "left")
        .groupBy(col("key"))
        .agg((sum(coalesce(col("hit"), lit(0L))) === k).cast("long").as("member"))
    val inStats = probe(keys)
      .agg(count(lit(1)).as("n_in"), sum(col("member")).as("n_in_found"))
    // guaranteed-absent probe keys: key + max(key) + 1 — derived from
    // the data, so the probe set stays disjoint from the member set at
    // ANY scale factor (a fixed +10M offset overlaps once keys reach
    // 10M, silently voiding n_false_pos; keys is materialized, so the
    // 1-row max does not rescan customer)
    val maxKey = keys.agg(max(col("key")).as("mx"))
    val outStats = probe(keys.crossJoin(broadcast(maxKey))
        .select((col("key") + col("mx") + 1L).as("key")))
      .agg(count(lit(1)).as("n_out"), sum(col("member")).as("n_false_pos"))
    val nCells = cells.agg(count(lit(1)).as("n_cells_set"))
    inStats.crossJoin(outStats).crossJoin(nCells)
      .select(lit(mBits.toLong).as("m_bits"), lit(k.toLong).as("k"),
        col("n_in").as("n_set"), col("n_cells_set"),
        col("n_in_found"), (col("n_in_found") === col("n_in")).as("no_false_negatives"),
        col("n_out"), col("n_false_pos"),
        (col("n_false_pos").cast("double") <=
          lit(2.0) * pow(lit(1.0) - exp(lit(-k.toDouble) * col("n_in") / lit(mBits.toDouble)), lit(k.toDouble))
            * col("n_out") + lit(10.0)).as("fp_within_tol"))
  }

  /** Ingest-time Bloom maintenance — per-epoch delta cell sets,
    * merge = union (idempotent), replay-idempotent by overwrite.
    * Same ownership contract as [[countMinStream]]. */
  def bloomStream(keys: DataFrame, bloomDir: String, mBits: Int = 131072,
                  k: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    keys.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) bloomTable(batch, mBits, k)
        .write.mode("overwrite").parquet(s"$bloomDir/delta-b$batchId")
    }

  /** Merged filter over every ingested epoch: the union of set cells. */
  def bloomMerged(spark: SparkSession, bloomDir: String): DataFrame = {
    val deltas = StoredArtifacts.listEpochs(spark, bloomDir)
    require(deltas.nonEmpty, s"no bloom deltas under $bloomDir")
    spark.read.parquet(deltas: _*)
      .distinct()
  }

  /** The COMPLETE sketch-maintenance stack as ONE ingest stream — the
    * §2e capstone: every micro-batch writes its count-min, HLL,
    * histogram and Bloom deltas in a single foreachBatch pass, each
    * under the family's replay-idempotent delta-b<epoch> contract, so
    * one stream keeps frequency, distinct, quantile and membership
    * summaries of the corpus current at once (what a real ingest
    * pipeline actually deploys — four summaries, one read of the
    * batch). Merged views come from the per-family merge functions;
    * the spec proves every one equals its whole-corpus build after
    * two epochs AND after an epoch replay. */
  def sketchStream(events: DataFrame, baseDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // skip no-data micro-batches: an empty epoch writes _SUCCESS
      // with no parquet files and bricks later reads (the pq/ivf fix)
      if (!batch.isEmpty) {
        countMinTable(batch)
          .write.mode("overwrite").parquet(s"$baseDir/cms/delta-b$batchId")
        hllTable(batch)
          .write.mode("overwrite").parquet(s"$baseDir/hll/delta-b$batchId")
        histTable(batch.select(col("value").as("o_totalprice")))
          .write.mode("overwrite").parquet(s"$baseDir/hist/delta-b$batchId")
        bloomTable(batch.select(col("user_id").as("key")))
          .write.mode("overwrite").parquet(s"$baseDir/bloom/delta-b$batchId")
      }
    }

  /** Count-min cell for hash row `r`: portable 60-bit md5 hash of the
    * key salted with the row index, mod `width`. The md5 derivation is
    * the repo-wide portable idiom, so a SQL oracle replays the whole
    * sketch bit-for-bit. */
  private def cmCell(key: org.apache.spark.sql.Column, r: Int, width: Int) =
    pmod(conv(substring(md5(concat(key, lit(s":cm$r"))), 1, 15), 16, 10)
      .cast("long"), lit(width.toLong))

  /** Count-min sketch as a RELATIONAL artifact: the depth×width counter
    * array is a sparse (row, cell, cnt) table — one corpus scan fans
    * each key into `depth` cells and the groupBy is bounded by
    * depth·width keys, so map-side combine collapses every partition's
    * contribution to ≤ depth·width partial rows no matter the corpus
    * size (the mergeability of CMS IS the combinability of sum — a
    * spec proves half-corpus sketches sum to the full one). The sketch
    * (≤ depth·width rows) then broadcasts back onto the exact top-K
    * heavy hitters; est = min over the key's `depth` cells. CMS can
    * only overestimate, so `never_underestimates` is a theorem the
    * oracle re-checks, and the estimate itself is deterministic
    * (counter sums are order-free) and hash-matched exactly. */
  def countMin(events: DataFrame, depth: Int = 4, width: Int = 512,
               topK: Int = 20): DataFrame = {
    val keyed = events.select(col("user_id").cast("string").as("k"))
    val cells = (r: org.apache.spark.sql.Column) =>
      array((0 until depth).map(i => cmCell(r, i, width)): _*)
    val cms = countMinTable(events, depth, width)
    val top = keyed.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("k")).limit(topK)
    top
      .select(col("k"), col("exact_cnt"), posexplode(cells(col("k"))).as(Seq("row", "cell")))
      .join(broadcast(cms), Seq("row", "cell"))
      .groupBy(col("k"), col("exact_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
      .select(col("k").as("user_id"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") >= col("exact_cnt")).as("never_underestimates"))
      .orderBy(col("exact_cnt").desc, col("user_id"))
  }

  /** The raw sparse sketch for `events` — exposed so the mergeability
    * spec can sum two half-corpus sketches and compare to the full
    * one. */
  private[graft] def countMinTable(events: DataFrame, depth: Int = 4,
                                   width: Int = 512): DataFrame =
    cmTableOf(events.select(col("user_id").cast("string").as("k")),
      depth, width)

  /** The sparse CM table of an arbitrary key frame (string column
    * `k`): one scan, ≤ depth·width groups, map-side combinable. */
  private[graft] def cmTableOf(keys: DataFrame, depth: Int,
                               width: Int): DataFrame =
    keys
      .select(posexplode(array((0 until depth).map(i =>
          cmCell(col("k"), i, width)): _*)).as(Seq("row", "cell")))
      .groupBy(col("row"), col("cell"))
      .agg(count(lit(1)).as("cnt"))

  /** JOIN-SIZE ESTIMATION FROM SKETCHES — |A ⋈ B| via the count-min
    * inner product (Cormode & Muthukrishnan '05; the AGMS idea on CM
    * structure): est = min over sketch rows r of Σ_cell
    * cmA[r,c]·cmB[r,c]. Collisions only ADD cross terms, so the
    * estimate NEVER underestimates — a deterministic one-sided
    * theorem re-checked in the output, like scale_countmin's. The
    * 100 TB companion to 47j's exact preflight: the exact identity
    * Σ_k cA(k)·cB(k) costs a key-grain aggregate of BOTH tables per
    * question, while the sketches are ≤ depth·width rows each,
    * maintained per ingest epoch ([[countMinStream]]'s contract —
    * inner products of stored sketches answer join-size questions
    * for ANY table pair without touching either corpus). Both the
    * estimate and the exact audit are pure integers on the portable
    * md5 hash, so every column hash-matches the oracle. Width is the
    * accuracy/overflow knob: cross terms grow as |A|·|B|/width, so a
    * 100 TB deployment widens the sketch (cell counts and products
    * stay far under 2^63 once width tracks corpus scale).
    *
    * READ THE ESTIMATE AS A CERTIFIED UPPER BOUND: on near-unique
    * keys (this orderkey join) the collision noise ~|A|·|B|/width
    * dominates a small true size, so est answers "can this join
    * explode?" (admission control — the only question a planner asks
    * at sketch cost), not "how big exactly"; on the skewed joins
    * that DO explode, the true Σ cA·cB dominates the noise and the
    * estimate tightens (spec-planted). `noise_budget` states the
    * expected collision mass so the report reads honestly. */
  def joinEstimate(orders: DataFrame, lineitem: DataFrame,
                   depth: Int = 4, width: Int = 512): DataFrame = {
    // each side feeds its sketch, the exact-identity audit and the
    // size count — materialize so each source parquet scans ONCE
    val a = Dedup.materialized(orders
      .select(col("o_orderkey").cast("string").as("k"))
      .filter(col("k").isNotNull))
    val b = Dedup.materialized(lineitem
      .select(col("l_orderkey").cast("string").as("k"))
      .filter(col("k").isNotNull))
    val est = cmInnerProductEst(cmTableOf(a, depth, width),
      cmTableOf(b, depth, width), depth)
    // ALL products in DECIMAL(38,0) (round 12, the collocation-lift
    // discipline): per-key count products (ca·cb at 10¹²-row sides →
    // 10²⁴), the noise-budget product n_a·n_b, and the overshoot
    // scaling all pass 2⁶³ exactly at the corpus sizes admission
    // exists for — so every INTERMEDIATE stays exact, and the query
    // survives wherever the FINAL value fits the declared BIGINT
    // schema (width tracking corpus scale keeps it there — the
    // standing knob). A final that genuinely exceeds 2⁶³ fails the
    // ANSI cast LOUDLY (spec-pinned) — never a wrapped negative
    // masquerading as a small join.
    val exact = a.groupBy(col("k")).agg(count(lit(1)).as("ca"))
      .join(b.groupBy(col("k")).agg(count(lit(1)).as("cb")), "k")
      .agg(coalesce(sum(expr("CAST(ca AS DECIMAL(38,0)) * cb")),
        lit(0).cast("decimal(38,0)")).cast("bigint").as("exact_join_rows"))
    a.agg(count(lit(1)).as("n_a"))
      .crossJoin(b.agg(count(lit(1)).as("n_b")))
      .crossJoin(broadcast(est)).crossJoin(broadcast(exact))
      .select(col("n_a"), col("n_b"),
        col("exact_join_rows"), col("est_join_rows"),
        (col("est_join_rows") >= col("exact_join_rows")).as("never_underestimates"),
        expr("CASE WHEN exact_join_rows > 0 THEN " +
          "CAST((CAST(est_join_rows - exact_join_rows AS DECIMAL(38,0)) " +
          "* 10000) div exact_join_rows AS BIGINT) END")
          .as("overshoot_bp"),
        expr(s"CAST(n_a AS DECIMAL(38,0)) * n_b div $width").as("noise_budget"),
        expr("CAST(est_join_rows - exact_join_rows AS DECIMAL(38,0)) <= " +
          s"CAST(3 AS DECIMAL(38,0)) * (CAST(n_a AS DECIMAL(38,0)) * n_b div $width)")
          .as("within_noise"))
  }

  /** min over sketch rows of the cell-wise inner product — the shared
    * estimate core of [[joinEstimate]] and [[joinEstimateStored]].
    * The min folds over the FULL row domain 0..depth−1 (a generated
    * frame, not the join's surviving rows): a sketch row with no
    * matching cells has inner product 0, and since a key present in
    * BOTH inputs collides with itself in EVERY row, an empty row
    * proves the true join is empty — dropping it (the pre-fix inner
    * join) returned NULL instead of the correct upper bound 0 on
    * key-disjoint inputs. */
  private[graft] def cmInnerProductEst(ca: DataFrame, cb: DataFrame,
                                       depth: Int): DataFrame = {
    // cell products in DECIMAL(38,0): cells hold ~n/width counts, so
    // a 10¹²-row side at width 512 has ~2·10⁹-count cells whose
    // products (~4·10¹⁸) brush 2⁶³ and whose row-sum passes it —
    // LONG arithmetic here dies mid-sum (ANSI) or wraps a certified
    // upper bound into a small negative lie (legacy mode) at exactly
    // the corpus sizes the sketch substrate exists for; the decimal
    // sum is exact, the min picks the tightest row, and only a FINAL
    // estimate past 2⁶³ fails the cast (loudly, spec-pinned — widen
    // `width` so the estimate domain fits, the standing knob)
    val ips = ca
      .join(cb.withColumnRenamed("cnt", "cnt_b"), Seq("row", "cell"))
      .groupBy(col("row"))
      .agg(sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt_b")).as("ip"))
    ca.sparkSession.range(depth)
      .select(col("id").cast("int").as("row"))
      .join(ips, Seq("row"), "left")
      .agg(min(coalesce(col("ip"), lit(0).cast("decimal(38,0)"))).as("est_dec"))
      .select(col("est_dec").cast("bigint").as("est_join_rows"))
  }

  /** Build-if-absent CM sketch EPOCH FAMILY from a batch key frame —
    * the batch twin of [[countMinStream]] for the stored-admission
    * face: the corpus splits into `nEpochs` disjoint hash slices,
    * each written as its own `delta-b<i>` table (CMS merge is
    * cell-wise sum, so the merged view equals the whole-corpus
    * sketch EXACTLY — merge-equals-whole by construction, the
    * property the spec pins). The last epoch's `_SUCCESS` is the
    * completed-build sentinel; a torn build rewrites every slice. */
  def ensureCmSketch(keys: DataFrame, sketchDir: String, depth: Int = 4,
                     width: Int = 512, nEpochs: Int = 3): String =
    StoredArtifacts.ensureBuilt(keys.sparkSession, sketchDir,
      s"delta-b${nEpochs - 1}") {
      (0 until nEpochs).foreach { i =>
        cmTableOf(keys.filter(pmod(xxhash64(col("k")), lit(nEpochs)) === i),
          depth, width)
          .write.mode("overwrite").parquet(s"$sketchDir/delta-b$i")
      }
    }

  def defaultCmSketchDir(keys: DataFrame, sfKey: String, side: String,
                         depth: Int = 4, width: Int = 512,
                         nEpochs: Int = 3): String =
    // nEpochs is part of the key (r11 advice): the build sentinel is
    // delta-b{nEpochs-1}/_SUCCESS, so a torn PRIOR build with more
    // slices (b0..b2 of a 4-slice build) would satisfy a later
    // 3-slice call's sentinel and serve a sketch missing a hash slice
    // — silently breaking the never-underestimates certificate. With
    // the slice count in the dir name, different nEpochs never share
    // a dir; the torn build is orphaned, not served.
    StoredArtifacts.contentKeyedDir("graft-cm-sketch", keys, sfKey,
      s"-$side-d$depth-w$width-e$nEpochs")

  /** JOIN ADMISSION FROM STORED SKETCHES — the corpus-free face
    * [[joinEstimate]]'s contract promises: both operands are
    * ≤ depth·width-row merged sketches read from [[countMinStream]] /
    * [[ensureCmSketch]] epoch families; the corpus is never touched.
    * Even the row counts come from the sketches — every ingested key
    * adds exactly one cell per sketch row, so Σ cnt over row 0 IS the
    * ingested row count — which is what makes the noise budget
    * (n_a·n_b/width) computable from stored state too. Output:
    * (n_a, n_b, est_join_rows, noise_budget); est is the same
    * certified upper bound as the in-query face (CM merge is exact,
    * so sketches assembled from ANY epoch split estimate identically).
    * This is the planner's admission primitive at 100 TB: maintain one
    * sketch dir per table at ingest, answer "can A ⋈ B explode?" for
    * ANY table pair from metadata-scale reads. */
  def joinEstimateStored(spark: SparkSession, sketchDirA: String,
                         sketchDirB: String, depth: Int = 4,
                         width: Int = 512): DataFrame = {
    val ma = Dedup.materialized(countMinMerged(spark, sketchDirA))
    val mb = Dedup.materialized(countMinMerged(spark, sketchDirB))
    val est = cmInnerProductEst(ma, mb, depth)
    val na = ma.filter(col("row") === 0)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_a"))
    val nb = mb.filter(col("row") === 0)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_b"))
    na.crossJoin(broadcast(nb)).crossJoin(broadcast(est))
      .select(col("n_a"), col("n_b"), col("est_join_rows"),
        expr(s"CAST(n_a AS DECIMAL(38,0)) * n_b div $width").as("noise_budget"))
  }

  /** [[joinEstimateStored]] composed with the exact-identity audit —
    * the driver-gated face: the estimate side reads ONLY the two
    * stored sketch dirs (same plan as production admission), the
    * corpus scans exist solely to prove it right (exact_join_rows and
    * the two theorems), and the output is column-identical to
    * [[joinEstimate]] so both faces gate on ONE oracle. */
  def joinEstimateStoredAudited(orders: DataFrame, lineitem: DataFrame,
                                sketchDirA: String, sketchDirB: String,
                                depth: Int = 4, width: Int = 512): DataFrame =
    joinEstimateStoredAuditedKeys(
      orders.select(col("o_orderkey").cast("string").as("k"))
        .filter(col("k").isNotNull),
      lineitem.select(col("l_orderkey").cast("string").as("k"))
        .filter(col("k").isNotNull),
      sketchDirA, sketchDirB, depth, width)

  /** The audited stored estimate over EXPLICIT key frames (column
    * `k`) — what lets [[joinAdmissionFace]] ask the same certified
    * question of ANY (table, key) pair. */
  def joinEstimateStoredAuditedKeys(a: DataFrame, b: DataFrame,
                                    sketchDirA: String, sketchDirB: String,
                                    depth: Int = 4, width: Int = 512): DataFrame = {
    val spark = a.sparkSession
    val stored = joinEstimateStored(spark, sketchDirA, sketchDirB, depth, width)
    val exact = a.groupBy(col("k")).agg(count(lit(1)).as("ca"))
      .join(b.groupBy(col("k")).agg(count(lit(1)).as("cb")), "k")
      .agg(coalesce(sum(expr("CAST(ca AS DECIMAL(38,0)) * cb")),
        lit(0).cast("decimal(38,0)")).cast("bigint").as("exact_join_rows"))
    stored.crossJoin(broadcast(exact))
      .select(col("n_a"), col("n_b"),
        col("exact_join_rows"), col("est_join_rows"),
        (col("est_join_rows") >= col("exact_join_rows")).as("never_underestimates"),
        expr("CASE WHEN exact_join_rows > 0 THEN " +
          "CAST((CAST(est_join_rows - exact_join_rows AS DECIMAL(38,0)) " +
          "* 10000) div exact_join_rows AS BIGINT) END")
          .as("overshoot_bp"),
        col("noise_budget"),
        expr("CAST(est_join_rows - exact_join_rows AS DECIMAL(38,0)) <= " +
          "CAST(3 AS DECIMAL(38,0)) * noise_budget")
          .as("within_noise"))
  }

  /** [[countMin]] answered from a STORED sketch dir — the point-
    * estimate twin of [[joinEstimateStored]], closing the CMS
    * lifecycle's read side as a GATED query (the write side is
    * [[countMinStream]]/[[ensureCmSketch]]; [[countMinEstimate]] is
    * the probe core): the top-k keys' estimates come from the merged
    * ≤ depth·width-row sketch (broadcast to the probe — the corpus is
    * never re-sketched), the exact counts exist only as the audit,
    * and because CMS merge is cell-wise sum the stored estimates are
    * IDENTICAL to the in-query face's — one oracle gates both. */
  def countMinStored(events: DataFrame, sketchDir: String, depth: Int = 4,
                     width: Int = 512, topK: Int = 20): DataFrame = {
    val keyed = events.select(col("user_id").cast("string").as("k"))
    val top = keyed.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("k")).limit(topK)
    countMinEstimate(top.select(col("k")), sketchDir, depth, width)
      .join(top, "k")
      .select(col("k").as("user_id"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") >= col("exact_cnt")).as("never_underestimates"))
      .orderBy(col("exact_cnt").desc, col("user_id"))
  }

  /** The registered face of [[countMinStored]]: content-keyed
    * build-if-absent sketch dir over the events keys, then the
    * audited stored probe. */
  def countMinStoredFace(events: DataFrame, sfKey: String): DataFrame = {
    val keys = events.select(col("user_id").cast("string").as("k"))
      .filter(col("k").isNotNull)
    val dir = ensureCmSketch(keys, defaultCmSketchDir(keys, sfKey, "events-user"))
    countMinStored(events, dir)
  }

  /** The registered stored-admission face: build-if-absent one sketch
    * dir per side (content-keyed — a regenerated corpus rebuilds, a
    * cached one serves), then the audited stored estimate. */
  def joinEstimateStoredFace(orders: DataFrame, lineitem: DataFrame,
                             sfKey: String): DataFrame = {
    val a = orders.select(col("o_orderkey").cast("string").as("k"))
      .filter(col("k").isNotNull)
    val b = lineitem.select(col("l_orderkey").cast("string").as("k"))
      .filter(col("k").isNotNull)
    val dirA = ensureCmSketch(a, defaultCmSketchDir(a, sfKey, "orders"))
    val dirB = ensureCmSketch(b, defaultCmSketchDir(b, sfKey, "lineitem"))
    joinEstimateStoredAudited(orders, lineitem, dirA, dirB)
  }

  /** MULTI-PAIR JOIN ADMISSION — the planner story [[joinEstimateStored]]
    * exists for, demonstrated across the schema: ONE sketch dir per
    * (table, join key) — six here, each maintained independently at
    * ingest — answers the admission question for EVERY join pair a
    * workload asks about (three here: orders⋈lineitem on orderkey,
    * customer⋈orders on custkey, part⋈lineitem on partkey) from
    * metadata-scale reads; the corpus scans exist only for the
    * per-pair exact-identity audit. A real planner consults this
    * BEFORE choosing join order — no ranking column is emitted
    * because near-tied true sizes (part⋈lineitem and orders⋈lineitem
    * both equal |lineitem| by FK-ness) would make a rank
    * noise-ordered; the certified per-pair bounds ARE the planner
    * input.
    *
    * THIS face is the GATE: it re-reads each key frame for the
    * per-pair exact-identity audit BY DESIGN (three corpus scans that
    * exist to prove the estimates right). The production admission
    * call is [[joinAdmissionFastFace]] / [[joinEstimateStored]] —
    * sketch reads only. */
  def joinAdmissionFace(orders: DataFrame, lineitem: DataFrame,
                        customer: DataFrame, part: DataFrame,
                        sfKey: String): DataFrame = {
    val pairs = admissionPairs(orders, lineitem, customer, part, sfKey)
    pairs.map { case (label, a, dirA, b, dirB) =>
      joinEstimateStoredAuditedKeys(a, b, dirA, dirB)
        .select(lit(label).as("pair"), col("*"))
    }.reduce(_ unionByName _).orderBy(col("pair"))
  }

  /** The six (key frame, sketch dir) sides of the three admission
    * pairs — ensure-built once, shared by the audited gate face and
    * the sketch-only production face. */
  private def admissionPairs(orders: DataFrame, lineitem: DataFrame,
                             customer: DataFrame, part: DataFrame,
                             sfKey: String)
      : Seq[(String, DataFrame, String, DataFrame, String)] = {
    def keys(df: DataFrame, c: String): DataFrame =
      df.select(col(c).cast("string").as("k")).filter(col("k").isNotNull)
    def sketch(df: DataFrame, c: String, tag: String): String = {
      val k = keys(df, c)
      ensureCmSketch(k, defaultCmSketchDir(k, sfKey, tag))
    }
    Seq(
      ("customer_orders", keys(customer, "c_custkey"),
        sketch(customer, "c_custkey", "customer-ck"),
        keys(orders, "o_custkey"), sketch(orders, "o_custkey", "orders-ck")),
      ("orders_lineitem", keys(orders, "o_orderkey"),
        sketch(orders, "o_orderkey", "orders"),
        keys(lineitem, "l_orderkey"), sketch(lineitem, "l_orderkey", "lineitem")),
      ("part_lineitem", keys(part, "p_partkey"),
        sketch(part, "p_partkey", "part-pk"),
        keys(lineitem, "l_partkey"), sketch(lineitem, "l_partkey", "lineitem-pk")))
  }

  /** THE PRODUCTION ADMISSION CALL, registered as its own query
    * (round 12): all three pair estimates answered from the six
    * stored sketch dirs ALONE — after the build-if-absent guard finds
    * its sentinels, no plan branch touches a corpus table; each
    * operand is a ≤ depth·width-row merged sketch read. This is what
    * the bench should measure as admission latency; the exact-identity
    * audits live in the separately registered [[joinAdmissionFace]].
    * Gated on the estimate columns alone (n_a/n_b derive from sketch
    * row-0 sums — exactly count(keys) since every ingested key adds
    * one cell per row). */
  def joinAdmissionFastFace(orders: DataFrame, lineitem: DataFrame,
                            customer: DataFrame, part: DataFrame,
                            sfKey: String): DataFrame = {
    val spark = orders.sparkSession
    val pairs = admissionPairs(orders, lineitem, customer, part, sfKey)
    pairs.map { case (label, _, dirA, _, dirB) =>
      joinEstimateStored(spark, dirA, dirB)
        .select(lit(label).as("pair"), col("*"))
    }.reduce(_ unionByName _).orderBy(col("pair"))
  }

  /** SKETCH-ONLY JOIN ROUTING — the planner loop closed: 47j's advice
    * rules driven by STORED-SKETCH inputs instead of per-question
    * corpus scans. For each admission pair, the route comes from
    * exactly what the sketches serve — n_a, n_b, the certified upper
    * bound est_join_rows and its noise budget — through deterministic
    * integer rules:
    *   - `broadcast` when the smaller side fits the broadcast budget
    *     (row counts come from sketch row-0 sums);
    *   - `salt` when the bound certifies join mass beyond collision
    *     noise: est − 3·noise > 4·(n_a + n_b) — only TRUE mass can
    *     put est that far above the noise floor (collisions
    *     contribute ≤ noise in expectation, 3× is the working band),
    *     and 4× input size is the blow-up threshold a shuffle should
    *     not absorb un-salted;
    *   - `shuffle` otherwise (noise-dominated bound = no certified
    *     explosion — FK-shaped joins land here).
    * Decision arithmetic rides the same DECIMAL(38,0) discipline as
    * the estimates. This is the call a planner makes per candidate
    * join order at 100 TB: metadata-scale reads, corpus never
    * touched; [[joinPreflight]] stays the exact (corpus-priced)
    * second opinion for the pairs this face flags. */
  def joinRouteFace(orders: DataFrame, lineitem: DataFrame,
                    customer: DataFrame, part: DataFrame, sfKey: String,
                    broadcastMax: Long = 100000L): DataFrame = {
    val spark = orders.sparkSession
    val pairs = admissionPairs(orders, lineitem, customer, part, sfKey)
    pairs.map { case (label, _, dirA, _, dirB) =>
      joinRouteFromSketches(spark, dirA, dirB, broadcastMax)
        .select(lit(label).as("pair"), col("*"))
    }.reduce(_ unionByName _).orderBy(col("pair"))
  }

  /** One pair's route from its two sketch dirs — the reusable core. */
  def joinRouteFromSketches(spark: SparkSession, sketchDirA: String,
                            sketchDirB: String, broadcastMax: Long,
                            depth: Int = 4, width: Int = 512): DataFrame =
    joinEstimateStored(spark, sketchDirA, sketchDirB, depth, width)
      .select(col("n_a"), col("n_b"), col("est_join_rows"),
        col("noise_budget"),
        when(least(col("n_a"), col("n_b")) <= broadcastMax, "broadcast")
          .when(expr("CAST(est_join_rows AS DECIMAL(38,0)) " +
            "- CAST(3 AS DECIMAL(38,0)) * noise_budget") >
            expr("CAST(4 AS DECIMAL(38,0)) * (CAST(n_a AS DECIMAL(38,0)) + n_b)"),
            "salt")
          .otherwise("shuffle").as("route"))

  /** Ingest-time SKETCH MAINTENANCE — the stream half of the CMS
    * lifecycle: each micro-batch's ≤ depth·width-row delta sketch is
    * written as `delta-b<epoch>`; a replayed epoch OVERWRITES its own
    * delta dir (the dedupIncrementalStream replay-idempotency rule),
    * and because CMS merge IS cell-wise sum, the merged view over all
    * epochs equals the sketch of the full corpus — no read-modify-
    * write of shared state, each epoch is an independent append.
    * OWNERSHIP CONTRACT: delta dirs are keyed by the stream's batchId
    * — one logical stream (one checkpoint) per sketchDir. */
  def countMinStream(events: DataFrame, sketchDir: String, depth: Int = 4,
                     width: Int = 512)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) countMinTable(batch, depth, width)
        .write.mode("overwrite").parquet(s"$sketchDir/delta-b$batchId")
    }

  /** The merged sketch: cell-wise sum over every ingested delta epoch
    * — ≤ depth·width rows regardless of corpus size or epoch count. */
  def countMinMerged(spark: SparkSession, sketchDir: String): DataFrame = {
    val deltas = StoredArtifacts.listEpochs(spark, sketchDir)
    require(deltas.nonEmpty, s"no delta sketches under $sketchDir")
    spark.read.parquet(deltas: _*)
      .groupBy(col("row"), col("cell"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** HyperLogLog register table as a RELATIONAL artifact — the
    * distinct-count sibling of [[countMinTable]]: one corpus scan
    * hashes each key with the portable 60-bit md5 idiom, splits it
    * into (register = h mod m, rest = h div m), and keeps per-register
    * max rank, where rank = trailing-zero count of `rest` + 1 (a
    * geometric variable, like the classic leading-zero rank). The
    * groupBy is bounded by m rows, max is the map-side combiner, and
    * HLL MERGE IS per-register max — idempotent AND commutative, so
    * replayed epochs can't even double-count (stronger than CMS's
    * sum). The rank extraction is engine-portable with no CASE chain:
    * `rest & -rest` isolates the lowest set bit exactly, and
    * round(log2(2^t)) recovers t through a <1e-10 error — never near
    * the .5 boundary. */
  private[graft] def hllTable(events: DataFrame, p: Int = 9,
                              keyCol: String = "user_id"): DataFrame = {
    val m = 1L << p
    val h = conv(substring(md5(concat(col(keyCol).cast("string"),
      lit(":hll"))), 1, 15), 16, 10).cast("long")
    events.filter(col(keyCol).isNotNull).select(h.as("h"))
      .select(expr(s"h % $m").as("reg"), expr(s"h div $m").as("rest"))
      .select(col("reg"),
        when(col("rest") === 0L, lit(49L))
          .otherwise(round(log2(expr("rest & (-rest)"))).cast("long") + 1L).as("rho"))
      .groupBy(col("reg")).agg(max(col("rho")).as("m_reg"))
  }

  /** The register → estimate step of [[hllDistinct]] factored for
    * reuse: given (m_reg) rows, the double estimate with the standard
    * linear-counting small-range correction. Driver-side on ≤ m
    * values — callers hold the registers already. */
  private[graft] def hllEstimate(regs: Seq[Long], p: Int = 9): Long = {
    val m = 1L << p
    val nZero = m - regs.length
    val s2 = regs.map(r => 1L << (49 - r).toInt).sum + nZero * (1L << 49)
    val raw = (0.7213 / (1.0 + 1.079 / m)) * m * m * 562949953421312.0 / s2
    val est = if (nZero > 0 && raw <= 2.5 * m) m * math.log(m.toDouble / nZero)
      else raw
    math.round(est)
  }

  /** The HLL distinct estimate next to the exact count — the
    * [[approxDistinct]] idiom with the sketch OWNED by the library
    * instead of Spark's opaque HLL++ buffer: every exact quantity
    * (register sum S2 = Σ 2^(49−M_j) scaled to integers, zero-register
    * count, exact distinct) is hash-matched bit-for-bit, and the
    * Flajolet estimate — raw harmonic mean, or linear counting when
    * the raw estimate is under 2.5m with empty registers (the standard
    * small-range correction) — feeds only a within-tolerance BOOLEAN,
    * because its ln/division chain is the one place doubles appear.
    * At 100 TB the register table is the stored artifact
    * ([[hllStream]] maintains it per ingest epoch); this query is the
    * audit face. */
  def hllDistinct(events: DataFrame, p: Int = 9, tol: Double = 0.15): DataFrame =
    hllReport(hllTable(events, p), events, p, tol)

  /** [[hllDistinct]] answered from a STORED register dir — the
    * distinct-count sibling of [[countMinStored]]/[[joinEstimateStored]],
    * closing the HLL lifecycle's read side as a gated query: registers
    * come from the merged ≤ m-row table ([[hllStream]] epoch families
    * or [[ensureHllSketch]]'s batch hash-slice epochs), the corpus is
    * touched only for the exact audit, and because HLL merge is
    * per-register max (idempotent AND commutative) the merged
    * registers are IDENTICAL to the whole-corpus table — one oracle
    * gates both faces. */
  def hllDistinctStored(events: DataFrame, sketchDir: String, p: Int = 9,
                        tol: Double = 0.15): DataFrame =
    hllReport(hllMerged(events.sparkSession, sketchDir), events, p, tol)

  /** Build-if-absent HLL register EPOCH FAMILY from a batch table —
    * the batch twin of [[hllStream]]: `nEpochs` disjoint hash slices,
    * each its own delta register table; per-register max over slices
    * equals the whole-corpus registers exactly. */
  def ensureHllSketch(events: DataFrame, sketchDir: String, p: Int = 9,
                      nEpochs: Int = 3): String =
    StoredArtifacts.ensureBuilt(events.sparkSession, sketchDir,
      s"delta-b${nEpochs - 1}") {
      (0 until nEpochs).foreach { i =>
        hllTable(events.filter(
          pmod(xxhash64(col("user_id").cast("string")), lit(nEpochs)) === i))
          .write.mode("overwrite").parquet(s"$sketchDir/delta-b$i")
      }
    }

  /** The registered face of [[hllDistinctStored]]: content-keyed
    * build-if-absent register dir, then the audited stored estimate. */
  def hllStoredFace(events: DataFrame, sfKey: String): DataFrame = {
    val keys = events.select(col("user_id").cast("string").as("k"))
      .filter(col("k").isNotNull)
    // -e3: slice count in the key, like defaultCmSketchDir (a torn
    // larger-nEpochs build must never satisfy this call's sentinel)
    val dir = StoredArtifacts.contentKeyedDir("graft-hll-sketch", keys,
      sfKey, "-events-user-p9-e3")
    ensureHllSketch(events, dir)
    hllDistinctStored(events, dir)
  }

  /** The estimate/audit tail both distinct faces share: fold a
    * (reg, m_reg) register frame to the report row. */
  private def hllReport(regs: DataFrame, events: DataFrame, p: Int,
                        tol: Double): DataFrame = {
    val m = 1L << p
    val stats = regs.agg(
      count(lit(1)).as("n_hit"),
      sum(expr("shiftleft(1L, CAST(49 - m_reg AS INT))")).as("s2_hit"))
    val exact = events.agg(countDistinct(col("user_id")).as("exact_distinct"))
    stats.crossJoin(exact)
      .select(lit(m).as("m"), (lit(m) - col("n_hit")).as("n_zero_regs"),
        (col("s2_hit") + (lit(m) - col("n_hit")) * lit(1L << 49)).as("s2"),
        col("exact_distinct"))
      .withColumn("raw_est",
        expr(s"(0.7213 / (1.0 + 1.079 / $m)) * $m * $m * 562949953421312.0 / s2"))
      .withColumn("used_linear_counting",
        col("n_zero_regs") > 0L && col("raw_est") <= lit(2.5 * m))
      .withColumn("est",
        when(col("used_linear_counting"),
          lit(m.toDouble) * log(lit(m.toDouble) / col("n_zero_regs")))
          .otherwise(col("raw_est")))
      .select(col("m"), col("n_zero_regs"), col("s2"), col("exact_distinct"),
        col("used_linear_counting"),
        (abs(col("est") - col("exact_distinct")) / col("exact_distinct")
          <= lit(tol)).as("within_tol"))
  }

  /** GROUPED HLL — distinct users per event_type, the per-dimension
    * form every real dashboard asks for ("distinct X by Y"): register
    * tables keyed by (group, reg) — ≤ groups·m rows, max still the
    * map-side combiner and the merge operator. Same audit shape as
    * [[hllDistinct]], one row per group; the exact countDistinct
    * column exists only for the gate. */
  def hllGrouped(events: DataFrame, p: Int = 9, tol: Double = 0.15): DataFrame = {
    val m = 1L << p
    val h = conv(substring(md5(concat(col("user_id").cast("string"),
      lit(":hll"))), 1, 15), 16, 10).cast("long")
    val regs = events
      // same null-key filter as hllTable: a null user must hash into
      // NO register in both the grouped and ungrouped faces (and in
      // the oracle), or the two diverge on data with null keys
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), h.as("h"))
      .select(col("event_type"), expr(s"h % $m").as("reg"), expr(s"h div $m").as("rest"))
      .select(col("event_type"), col("reg"),
        when(col("rest") === 0L, lit(49L))
          .otherwise(round(log2(expr("rest & (-rest)"))).cast("long") + 1L).as("rho"))
      .groupBy(col("event_type"), col("reg")).agg(max(col("rho")).as("m_reg"))
    val stats = regs.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_hit"),
      sum(expr("shiftleft(1L, CAST(49 - m_reg AS INT))")).as("s2_hit"))
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    stats.join(exact, "event_type")
      .select(col("event_type"), (lit(m) - col("n_hit")).as("n_zero_regs"),
        (col("s2_hit") + (lit(m) - col("n_hit")) * lit(1L << 49)).as("s2"),
        col("exact_distinct"))
      .withColumn("raw_est",
        expr(s"(0.7213 / (1.0 + 1.079 / $m)) * $m * $m * 562949953421312.0 / s2"))
      .withColumn("used_linear_counting",
        col("n_zero_regs") > 0L && col("raw_est") <= lit(2.5 * m))
      .withColumn("est",
        when(col("used_linear_counting"),
          lit(m.toDouble) * log(lit(m.toDouble) / col("n_zero_regs")))
          .otherwise(col("raw_est")))
      .select(col("event_type"), col("n_zero_regs"), col("s2"),
        col("exact_distinct"), col("used_linear_counting"),
        (abs(col("est") - col("exact_distinct")) / col("exact_distinct")
          <= lit(tol)).as("within_tol"))
      .orderBy(col("event_type"))
  }

  /** SLIDING-WINDOW HLL — rolling `windowDays`-day distinct users per
    * day from DAILY register sketches, the scale-path twin of the
    * exact WAU grid join (q26): each day contributes one ≤ m-row
    * register table (the stored artifact [[hllStream]] maintains),
    * and a trailing window merges by per-register max — so the
    * rolling distinct costs days·m rows instead of re-touching the
    * (day, user) grid per anchor. At 100 TB the daily sketches are
    * written once at ingest; this query's raw-events pass exists only
    * because it is self-contained, and the exact-WAU column exists
    * only for the audit gate (same convention as [[hllDistinct]]:
    * every integer — S2, zero registers, exact WAU — hash-matches,
    * the double estimate feeds only the tolerance boolean). */
  def hllSliding(events: DataFrame, p: Int = 9, windowDays: Int = 7,
                 tol: Double = 0.15): DataFrame = {
    val m = 1L << p
    val h = conv(substring(md5(concat(col("user_id").cast("string"),
      lit(":hll"))), 1, 15), 16, 10).cast("long")
    // daily register tables — ≤ m rows per day regardless of volume;
    // materialized because the anchor list and the window merge both
    // read it (the corpus is register-reduced exactly once)
    val daily = Dedup.materialized(events.filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("day"), h.as("h"))
      .select(col("day"), expr(s"h % $m").as("reg"), expr(s"h div $m").as("rest"))
      .select(col("day"), col("reg"),
        when(col("rest") === 0L, lit(49L))
          .otherwise(round(log2(expr("rest & (-rest)"))).cast("long") + 1L).as("rho"))
      .groupBy(col("day"), col("reg")).agg(max(col("rho")).as("m_reg")))
    val anchors = daily.select(col("day").as("anchor")).distinct()
    // trailing-window register merge: days·m rows join the tiny
    // broadcast anchor list, max per (anchor, reg) — the HLL union
    val win = daily.join(broadcast(anchors),
        col("day") <= col("anchor") &&
          col("day") >= date_sub(col("anchor"), windowDays - 1))
      .groupBy(col("anchor"), col("reg")).agg(max(col("m_reg")).as("m_reg"))
    val st = win.groupBy(col("anchor")).agg(
      count(lit(1)).as("n_hit"),
      sum(expr("shiftleft(1L, CAST(49 - m_reg AS INT))")).as("s2_hit"))
    // exact rolling distinct — the AUDIT side only (at 100 TB this is
    // the cost the sketch path exists to avoid)
    val grid = events.filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val exact = grid.join(broadcast(anchors),
        col("day") <= col("anchor") &&
          col("day") >= date_sub(col("anchor"), windowDays - 1))
      .groupBy(col("anchor")).agg(countDistinct(col("user_id")).as("exact_wau"))
    st.join(exact, "anchor")
      .select(col("anchor").as("day"),
        (lit(m) - col("n_hit")).as("n_zero_regs"),
        (col("s2_hit") + (lit(m) - col("n_hit")) * lit(1L << 49)).as("s2"),
        col("exact_wau"))
      .withColumn("raw_est",
        expr(s"(0.7213 / (1.0 + 1.079 / $m)) * $m * $m * 562949953421312.0 / s2"))
      .withColumn("used_linear_counting",
        col("n_zero_regs") > 0L && col("raw_est") <= lit(2.5 * m))
      .withColumn("est",
        when(col("used_linear_counting"),
          lit(m.toDouble) * log(lit(m.toDouble) / col("n_zero_regs")))
          .otherwise(col("raw_est")))
      .select(col("day"), col("n_zero_regs"), col("s2"), col("exact_wau"),
        col("used_linear_counting"),
        (abs(col("est") - col("exact_wau")) / col("exact_wau") <= lit(tol))
          .as("within_tol"))
      .orderBy(col("day"))
  }

  /** Ingest-time HLL maintenance — per-epoch delta register tables,
    * replay-idempotent by overwrite (and by max itself). Same
    * ownership contract as [[countMinStream]]: delta dirs keyed by the
    * stream's batchId, one logical stream per sketchDir. */
  def hllStream(events: DataFrame, sketchDir: String, p: Int = 9)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) hllTable(batch, p)
        .write.mode("overwrite").parquet(s"$sketchDir/delta-b$batchId")
    }

  /** Merged register table over every ingested epoch: per-register max
    * — ≤ m rows regardless of corpus size or epoch count. */
  def hllMerged(spark: SparkSession, sketchDir: String): DataFrame = {
    val deltas = StoredArtifacts.listEpochs(spark, sketchDir)
    require(deltas.nonEmpty, s"no delta sketches under $sketchDir")
    spark.read.parquet(deltas: _*)
      .groupBy(col("reg")).agg(max(col("m_reg")).as("m_reg"))
  }

  /** Point estimates against the stored sketch: keys fan to their
    * `depth` cells row-locally, the ≤ depth·width-row merged sketch
    * broadcasts, est = min over cells (0 for never-seen keys — an
    * absent cell is an exact zero counter, hence the left join). */
  def countMinEstimate(keys: DataFrame, sketchDir: String, depth: Int = 4,
                       width: Int = 512): DataFrame = {
    val merged = countMinMerged(keys.sparkSession, sketchDir)
    keys.select(col("k").cast("string").as("k"))
      .select(col("k"), posexplode(array((0 until depth).map(i =>
          cmCell(col("k"), i, width)): _*)).as(Seq("row", "cell")))
      .join(broadcast(merged), Seq("row", "cell"), "left")
      .groupBy(col("k"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  /** PROFILE DIFF — schema-stats drift between two corpus epochs, the
    * audit a pipeline publishes when a refresh changes the SHAPE of
    * the data rather than its rows (a source starts emitting nulls, a
    * language column collapses to one value, text lengths halve): per
    * column, both epochs' row/null/distinct/strlen counts, the exact
    * integer rate shifts in basis points, whether the min/max moved,
    * and a drift verdict. Pure composition of two [[profile]] passes
    * (epoch stand-ins = doc_id parity halves, the embedding_drift
    * convention; production passes two real snapshots) joined on
    * col_name — output is columns-sized regardless of corpus.
    * Shifts divide non-negative operands only (engine-portable). */
  def profileDiff(documents: DataFrame,
                  cols: Seq[String] = Seq("doc_id", "lang", "n_chars", "source", "text"),
                  driftBp: Long = 500L): DataFrame = {
    val a = profile(documents.filter(col("doc_id") % 2 === 0), cols)
      .select(col("col_name"), col("n_values").as("n_a"),
        col("n_null").as("null_a"), col("n_distinct").as("d_a"),
        col("min_str").as("min_a"), col("max_str").as("max_a"),
        col("total_strlen").as("len_a"))
    val b = profile(documents.filter(col("doc_id") % 2 =!= 0), cols)
      .select(col("col_name"), col("n_values").as("n_b"),
        col("n_null").as("null_b"), col("n_distinct").as("d_b"),
        col("min_str").as("min_b"), col("max_str").as("max_b"),
        col("total_strlen").as("len_b"))
    a.join(b, "col_name")
      .select(col("col_name"), col("n_a"), col("n_b"),
        col("d_a"), col("d_b"), col("null_a"), col("null_b"),
        expr("(10000 * d_b) div n_b - (10000 * d_a) div n_a").as("distinct_shift_bp"),
        expr("(10000 * len_b) div n_b - (10000 * len_a) div n_a").as("strlen_shift_bp"),
        (col("min_a") =!= col("min_b") || col("max_a") =!= col("max_b"))
          .as("minmax_moved"))
      .withColumn("drifted", abs(col("distinct_shift_bp")) > lit(driftBp))
      .orderBy(col("col_name"))
  }

  /** Deterministic PER-KEY SAMPLE — k rows per key selected by the
    * portable md5 rank (hash-ordered "reservoir": stable across runs,
    * partitionings and engines, unlike rand()-based sampling): the
    * balanced debugging/eyeballing sample every key gets exactly
    * min(k, its rows) of. The rank hash is 48-bit (12 hex chars) so
    * its negation is exact in the top-k heap's double score, and ties
    * break by event_id — the graft_topk tie order, mirrored by the
    * oracle's (h ASC, id ASC). Scale shape: ONE map-side-combinable
    * top-k aggregate (partitions × keys × k rows shuffle), never a
    * per-key sort. */
  def sampleKeyed(events: DataFrame, k: Int = 3): DataFrame = {
    val h = conv(substring(md5(concat(col("event_id").cast("string"),
      lit(":ks"))), 1, 12), 16, 10).cast("long")
    events.select(col("user_id"), col("event_id"), h.as("h"))
      .groupBy(col("user_id"))
      .agg(graft.functions.F.topk((-col("h")).cast("double"),
        col("event_id"), k).as("picks"))
      .select(col("user_id"), posexplode(col("picks")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("sample_rank"),
        col("col.id").as("event_id"))
      .orderBy(col("user_id"), col("sample_rank"))
  }

  /** JOIN PRE-FLIGHT — exact output cardinality and skew profile of an
    * equi-join BEFORE running it, from per-key count tables alone:
    * |A ⋈ B| = Σ_k cA(k)·cB(k), the identity every cost-based
    * optimizer estimates and this operator computes EXACTLY. The
    * 100 TB companion to [[skewReport]]: two single-column scans (one
    * per side, map-side combinable) and a keys-sized join decide the
    * strategy — broadcast the small side, salt the hot key, or accept
    * the shuffle — before committing a cluster to a join that
    * explodes. Reported: exact join rows, matched/left-only/
    * right-only key counts, the hottest key's contribution, its share
    * of the output in basis points, and the advice verdict from exact
    * integer inequalities (hot key > 20 % of output → salt; build
    * side under `broadcastMax` rows → broadcast; else shuffle). */
  def joinPreflight(left: DataFrame, leftKey: String,
                    right: DataFrame, rightKey: String,
                    broadcastMax: Long = 1000000L): DataFrame = {
    val a = left.groupBy(col(leftKey).as("key")).agg(count(lit(1)).as("ca"))
    val b = right.groupBy(col(rightKey).as("key")).agg(count(lit(1)).as("cb"))
    val matched = col("ca").isNotNull && col("cb").isNotNull
    // per-key products and their sum in DECIMAL(38,0) (round 12): the
    // exploding joins this operator exists to catch are exactly the
    // ones whose Σ ca·cb passes 2⁶³ — LONG arithmetic would wrap the
    // explosion into a plausible small number and advise "shuffle"
    val prod = expr("CAST(ca AS DECIMAL(38,0)) * cb")
    a.join(b, Seq("key"), "full_outer")
      .agg(
        sum(when(matched, prod).otherwise(lit(0).cast("decimal(38,0)")))
          .cast("bigint").as("join_rows"),
        sum(when(matched, lit(1L)).otherwise(0L)).as("matched_keys"),
        sum(when(col("cb").isNull, lit(1L)).otherwise(0L)).as("left_only_keys"),
        sum(when(col("ca").isNull, lit(1L)).otherwise(0L)).as("right_only_keys"),
        coalesce(max(when(matched, prod)), lit(0).cast("decimal(38,0)"))
          .cast("bigint").as("hot_key_rows"),
        sum(coalesce(col("cb"), lit(0L))).as("right_rows"))
      .select(col("join_rows"), col("matched_keys"),
        col("left_only_keys"), col("right_only_keys"), col("hot_key_rows"),
        when(col("join_rows") > 0L,
          expr("CAST((CAST(hot_key_rows AS DECIMAL(38,0)) * 10000) " +
            "div join_rows AS BIGINT)")).otherwise(0L)
          .as("hot_share_bp"),
        when(col("right_rows") <= broadcastMax, "broadcast")
          .when(expr("CAST(hot_key_rows AS DECIMAL(38,0)) * 5") > col("join_rows"),
            "salt")
          .otherwise("shuffle").as("advice"))
  }

  /** K-ANONYMITY audit over quasi-identifiers — the privacy pre-flight
    * a pipeline runs before exporting user-adjacent rows: every
    * (nation, market segment, account-balance band) combination is an
    * equivalence class, and any class smaller than k re-identifies its
    * members by intersection with outside knowledge. One groupBy at
    * quasi-identifier grain (classes, not rows, shuffle — bounded by
    * the attribute-domain product regardless of corpus size), then the
    * rows-at-risk share from an unpartitioned window over the
    * class-sized table. Production either suppresses the flagged
    * classes or widens the generalization (coarser bands) until the
    * share is acceptable; this is the measurement face. */
  def kAnonymity(customer: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val classes = customer.groupBy(
        col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("mktsegment"),
        floor(col("c_acctbal") / 2000.0).cast("long").as("acctbal_band"))
      .agg(count(lit(1)).as("n_rows"))
    val all = Window.partitionBy()
    classes
      .withColumn("k_anonymous", col("n_rows") >= k.toLong)
      .withColumn("at_risk_rows",
        sum(when(col("n_rows") < k.toLong, col("n_rows")).otherwise(0L)).over(all))
      .withColumn("total_rows", sum(col("n_rows")).over(all))
      .withColumn("at_risk_share_bp", expr("(10000 * at_risk_rows) div total_rows"))
      .drop("at_risk_rows", "total_rows")
      .orderBy(col("nationkey"), col("mktsegment"), col("acctbal_band"))
  }

  /** WINDOW PRE-FLIGHT — the keyed-window sibling of [[joinPreflight]]:
    * exact per-key row counts decide BEFORE a keyed-window job
    * (sessionization, as-of, per-key batching) whether a hot key would
    * serialize a stage. Every `Window.partitionBy(key)` operator sorts
    * each key's rows in ONE task; a pathologically hot key (a bot
    * account, a null-ish default id) turns that task into the job's
    * wall clock. One map-side-combinable count per key and a one-row
    * rollup report: total rows, key count, the hottest key and its row
    * count, its output share in basis points, how many keys exceed the
    * threshold, and the verdict — `salt` (route to the two-phase
    * salted operators, [[sessionsSalted]]/[[asofSalted]]) when any key
    * crosses `hotThreshold`, else `window`. Exact integers only.
    * `keyCol` must be numeric (the id-grain keys every keyed-window
    * operator here partitions on); hash a string key to 64 bits
    * (xxhash64) before calling — the report needs only identity. */
  def windowPreflight(df: DataFrame, keyCol: String,
                      hotThreshold: Long = 1000000L): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("long").as("key"))
      .agg(count(lit(1)).as("cnt"))
    counts.agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_key_rows"),
        // hottest key, smallest id on ties: lexicographic struct MIN
        // over (-cnt, key) — negating the count (>= 1, can't overflow)
        // instead of the key keeps Long.MinValue keys legal under ANSI
        min(struct((-col("cnt")).as("nc"), col("key"))).as("hot"),
        sum(when(col("cnt") >= hotThreshold, 1L).otherwise(0L)).as("hot_keys"))
      .select(col("n_rows"), col("n_keys"), col("max_key_rows"),
        col("hot.key").as("hot_key"), col("hot_keys"),
        expr("(10000 * max_key_rows) div n_rows").as("hot_share_bp"),
        when(col("max_key_rows") >= hotThreshold, "salt")
          .otherwise("window").as("advice"))
  }

  /** The preflight→mitigation router, closing the loop the two
    * operators above leave to the caller: ONE metadata-scale
    * [[windowPreflight]] pass decides whether q32's single-window
    * sessionization is safe or the key distribution needs
    * [[sessionsSalted]]'s two-phase re-plan. Identical output either
    * way (both faces share q32's oracle), so the routing is purely a
    * physical-plan decision — the same contract as AQE picking a join
    * strategy, one level up. The preflight costs two jobs before the
    * real one; at 100 TB that is noise next to a serialized hot-key
    * stage, and a caller who already knows the distribution calls the
    * chosen face directly. */
  def sessionsAuto(events: DataFrame, gapMinutes: Int = 30,
                   hotThreshold: Long = 1000000L,
                   bucketMinutes: Int = 1440): DataFrame = {
    val verdict = windowPreflight(
      events.select(col("user_id"), col("event_id"), col("ts")), "user_id",
      hotThreshold).select(col("advice")).head().getString(0)
    if (verdict == "salt") sessionsSalted(events, gapMinutes, bucketMinutes)
    else Relational.q32Sessions(events, gapMinutes)
  }

  /** [[sessionsAuto]]'s as-of sibling: routes q63's enrichment on the
    * preflight verdict over the UNION key distribution — the salted
    * re-plan windows events and probes together on `k`, so the hot-key
    * risk is the combined per-key row count, not either side's alone.
    * Identical output either way (both faces share q63's oracle). */
  def asofAuto(events: DataFrame, orders: DataFrame,
               hotThreshold: Long = 1000000L,
               bucketMinutes: Int = 1440): DataFrame = {
    val keys = events.select(col("user_id").as("k"))
      .unionByName(orders.select(col("o_custkey").as("k")))
    val verdict = windowPreflight(keys, "k", hotThreshold)
      .select(col("advice")).head().getString(0)
    if (verdict == "salt") asofSalted(events, orders, bucketMinutes)
    else Relational.q63AsofJoin(events, orders)
  }

  /** SALTED TWO-PHASE SESSIONIZATION — the hot-key mitigation for
    * q32_sessions' single `Window.partitionBy(user_id)`: identical
    * output (same oracle), but no task ever sorts more than one
    * (key, time-bucket) slice. Phase 1 windows on (user_id, bucket) —
    * the salt is the event's own time bucket, so a hot key's rows
    * spread across as many tasks as buckets it spans — and collapses
    * each bucket-local gaps-and-islands run to one row per LOCAL
    * session. Phase 2 re-windows on user_id alone, but at SESSION
    * grain: a bucket-boundary session pair glues when the gap between
    * them is within `gapMinutes`, via the same gaps-and-islands idiom
    * over (start_us, end_us) — a key with N events but S sessions
    * costs the phase-2 task O(S + buckets), not O(N).
    *
    * Correctness is structural, not approximate: local sessions within
    * a bucket are separated by > gap (so phase 2 never re-merges
    * them), buckets partition the time axis (so cross-bucket session
    * ordering by start_us is total and phase 2's lag sees exactly the
    * chronologically previous local session), and the running-sum
    * numbering reproduces q32's session_seq. `bucketMinutes` is the
    * salt width knob: smaller = more parallelism, more phase-2 rows. */
  def sessionsSalted(events: DataFrame, gapMinutes: Int = 30,
                     bucketMinutes: Int = 1440): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60L * 1000000L
    val bucketUs = bucketMinutes * 60L * 1000000L
    val byUB = Window.partitionBy(col("user_id"), col("bkt"))
      .orderBy(col("ts"), col("event_id"))
    val local = events
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"))
      .withColumn("bkt", expr(s"us div $bucketUs"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUB))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("ls", sum(col("new_s")).over(byUB))
      .groupBy(col("user_id"), col("bkt"), col("ls"))
      .agg(count(lit(1)).as("n"), min(col("us")).as("s_us"), max(col("us")).as("e_us"))
    glueLocalSessions(local, gapMinutes)
  }

  /** PHASE 2 of the salted sessionization, factored out because the
    * STREAMING salted face shares it
    * ([[graft.streaming.Streams.sessionizeStreamingSalted]] emits the
    * same bucket-local session rows from watermark-finalized state):
    * re-window on user_id alone at SESSION grain — a bucket-boundary
    * session pair glues when the gap between them is within
    * `gapMinutes` — so a key with N events but S sessions costs
    * O(S + buckets), not O(N). Input: (user_id, n, s_us, e_us) rows,
    * any extra columns ignored. */
  private[graft] def glueLocalSessions(local: DataFrame,
                                       gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60L * 1000000L
    val byU = Window.partitionBy(col("user_id")).orderBy(col("s_us"))
    local
      .withColumn("prev_e", lag(col("e_us"), 1).over(byU))
      .withColumn("new_g",
        when(col("prev_e").isNull || col("s_us") - col("prev_e") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_g")).over(byU))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(sum(col("n")).as("n_events"),
        min(col("s_us")).as("start_us"), max(col("e_us")).as("end_us"))
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("start_us"), col("end_us"),
        expr("(end_us - start_us) div 1000000").as("duration_sec"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** SALTED TWO-PHASE AS-OF JOIN — the hot-key mitigation for
    * q63_asof_join's union-window (identical output, same oracle).
    * Phase 1 runs the running struct-max on (key, time-bucket) — a hot
    * key's window work spreads across its buckets. Phase 2 computes
    * each bucket's LAST event struct (one row per (key, bucket) —
    * map-side combinable) and prefix-maxes it across buckets at bucket
    * grain, giving every bucket its carry-in: the latest event of all
    * earlier buckets. The carry joins back on (key, bucket) — the
    * exchange phase 1 already created, bucket-grain-sized — and each
    * probe resolves `greatest(local running max, carry-in)` row-
    * locally. Struct max is associative, so the split running max
    * equals q63's single-window max exactly. */
  def asofSalted(events: DataFrame, orders: DataFrame,
                 bucketMinutes: Int = 1440): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketUs = bucketMinutes * 60L * 1000000L
    val e = events.select(col("user_id").as("k"),
      unix_micros(col("ts")).as("us"), lit(0L).as("is_probe"),
      col("event_id"), col("event_type"), lit(null).cast("long").as("o_orderkey"))
    val p = orders.select(col("o_custkey").as("k"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("us"), lit(1L).as("is_probe"),
      lit(null).cast("long").as("event_id"),
      lit(null).cast("string").as("event_type"), col("o_orderkey"))
    // both phases consume the tagged union (phase-1 window + the
    // bucket-grain carry aggregate): materialize so events/orders
    // parquet scan ONCE (the annIvfPq multi-consumer discipline;
    // cache lifecycle is caller-owned, see Dedup.materialized)
    val u = Dedup.materialized(
      e.unionByName(p).withColumn("bkt", expr(s"us div $bucketUs")))
    val byKB = Window.partitionBy(col("k"), col("bkt"))
      .orderBy(col("us"), col("is_probe"), coalesce(col("event_id"), col("o_orderkey")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val evStruct = when(col("is_probe") === 0L,
      struct(col("us").as("e_us"), col("event_id").as("e_id"),
        col("event_type").as("e_type")))
    val local = u.withColumn("local_last", max(evStruct).over(byKB))
    // bucket-grain carry: each (k, bkt)'s latest event, prefix-maxed
    // over all EARLIER buckets of the key
    val byKPrev = Window.partitionBy(col("k")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = u.groupBy(col("k"), col("bkt"))
      .agg(max(evStruct).as("b_last"))
      .withColumn("carry_in", max(col("b_last")).over(byKPrev))
      .select(col("k"), col("bkt"), col("carry_in"))
    // NULL-SAFE join keys: a NULL key (or NULL-instant row, bkt null)
    // is a row q63's single window still processes in its NULL
    // partition — a plain equi-join would silently drop it
    local.join(carry.withColumnRenamed("k", "__ck").withColumnRenamed("bkt", "__cb"),
        col("k") <=> col("__ck") && col("bkt") <=> col("__cb"))
      .withColumn("last_ev", greatest(col("local_last"), col("carry_in")))
      .filter(col("is_probe") === 1L)
      .select(col("o_orderkey"), col("k").as("o_custkey"),
        col("us").as("order_us"),
        col("last_ev.e_id").as("last_event_id"),
        col("last_ev.e_type").as("last_event_type"),
        (col("us") - col("last_ev.e_us")).as("staleness_us"))
      .orderBy(col("o_orderkey"))
  }

  /** Per-customer order aggregate at the INCREMENTALLY-MAINTAINABLE
    * grain: every measure is a commutative monoid (count, integer-cent
    * sum, min/max epoch-us), so part-aggregates built over disjoint
    * slices of the corpus merge exactly via [[aggMerge]]. The unit of
    * [[aggDelta]]'s stored-aggregate refresh story. */
  def orderAggTable(orders: DataFrame): DataFrame =
    orders
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"),
        min(col("us")).as("min_us"), max(col("us")).as("max_us"))

  /** Merges part-aggregates at [[orderAggTable]]'s grain by
    * re-aggregation: union the agg tables and fold each measure with
    * its own combine (sum of counts/sums, min of mins, max of maxs).
    * One shuffle of AGG-SIZED tables — the base corpus is never
    * rescanned, which is the whole point of maintaining a stored
    * aggregate under append-only ingest at 100 TB. Exact for
    * append-only streams (every measure is associative+commutative);
    * deletes would need a rescan of the affected groups — the
    * documented boundary of the monoid trick. NULL group keys ride
    * the union+groupBy untouched (no join to drop them). */
  def aggMerge(parts: Seq[DataFrame]): DataFrame =
    parts.reduce(_.unionByName(_))
      .groupBy(col("o_custkey"))
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("min_us")).as("min_us"), max(col("max_us")).as("max_us"))

  /** INCREMENTAL AGGREGATE MAINTENANCE, self-contained for the oracle:
    * splits orders into a simulated stored base (orderkeys outside the
    * batch residue) and an append batch, builds each side's
    * part-aggregate, and refreshes via [[aggMerge]] — equal to the
    * full recompute by the monoid argument, which is exactly what the
    * DuckDB oracle checks (a plain GROUP BY over ALL orders). Built as
    * ONE corpus scan: the split lives inside the first groupBy's key
    * (o_custkey, is_batch), so the two part-aggregates come off one
    * shuffle yet are genuinely built from disjoint row sets. */
  def aggDelta(orders: DataFrame, batchMod: Int = 10,
               batchRes: Int = 9): DataFrame = {
    val parts = orders
      .select(col("o_custkey"),
        (pmod(col("o_orderkey"), lit(batchMod)) === batchRes).as("is_batch"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"))
      .groupBy(col("o_custkey"), col("is_batch"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"),
        min(col("us")).as("min_us"), max(col("us")).as("max_us"))
      .drop("is_batch")
    aggMerge(Seq(parts)).orderBy(col("o_custkey"))
  }

  /** The revenue-per-priority JOIN view at its maintainable grain —
    * the unit [[joinDelta]] refreshes. Every measure is a commutative
    * monoid over the JOINED row set (count, integer-cent sum, integer
    * quantity sum), so part-views built from disjoint slices of the
    * fact side fold exactly via union + re-aggregate. */
  private def joinViewAgg(joined: DataFrame): DataFrame =
    joined.groupBy(col("o_orderpriority"))
      .agg(sum(col("n_items")).as("n_items"),
        sum(col("rev_cents")).as("rev_cents"),
        sum(col("sum_qty")).as("sum_qty"))

  /** INCREMENTAL JOIN-VIEW MAINTENANCE (the differential-dataflow step
    * for a two-table view), self-contained for the oracle: the view is
    * revenue per order priority over orders ⋈ lineitem; lineitem is
    * split into a simulated stored base (orderkeys outside the batch
    * residue) and an append batch. The base part-view simulates what a
    * 100 TB deployment reads back from storage; the DELTA path is the
    * only work a refresh actually pays: the batch joins a KEY-PRUNED
    * read of the dimension side — the batch's distinct join keys
    * broadcast as a semi-join filter (the local analog of a runtime
    * Bloom/DPP prune), so a 0.1%-of-corpus batch touches 0.1% of
    * orders, not all of it. Fold = union + re-aggregate at view grain
    * (agg-sized shuffle; neither base fact nor full dimension is
    * rescanned). Exact for append-only ingest by the monoid argument —
    * deletes would need the affected groups rebuilt, the same boundary
    * [[aggMerge]] documents. A NULL l_orderkey row is dropped by BOTH
    * the maintenance paths (NULL residue fails both filters) and the
    * full-recompute oracle (inner join never matches NULL) — the two
    * agree by construction. */
  def joinDelta(orders: DataFrame, lineitem: DataFrame,
                batchMod: Int = 10, batchRes: Int = 9): DataFrame = {
    val pri = orders.select(col("o_orderkey"), col("o_orderpriority"))
    val li = lineitem.select(col("l_orderkey").as("o_orderkey"),
      (pmod(col("l_orderkey"), lit(batchMod)) === batchRes).as("is_batch"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"),
      col("l_quantity").cast("long").as("qty"))
    def partView(rows: DataFrame, dim: DataFrame): DataFrame =
      rows.join(dim, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("rev_cents"),
          sum(col("qty")).as("sum_qty"))
    val base = partView(li.filter(!col("is_batch")), pri)
    val batch = li.filter(col("is_batch"))
    val prunedDim = pri.join(
      broadcast(batch.select(col("o_orderkey")).distinct()),
      Seq("o_orderkey"), "left_semi")
    val delta = partView(batch, broadcast(prunedDim))
    joinViewAgg(base.unionByName(delta)).orderBy(col("o_orderpriority"))
  }

  /** Deterministic synthesized CDC log over orders — full-row-image
    * ops (Debezium-style "after" state), seq strictly increasing per
    * key: every order INSERTs its price at seq 1; keys ≡ 0 (mod 3)
    * UPDATE to price + 10.00 at seq 2; keys ≡ 0 (mod 7) DELETE at
    * seq 3. Built row-locally (one array explode, no shuffle). */
  def cdcLog(orders: DataFrame): DataFrame = {
    val ops = array(
      struct(lit(1L).as("seq"), lit("I").as("op"), col("cents0").as("cents")),
      when(pmod(col("pk"), lit(3)) === 0,
        struct(lit(2L).as("seq"), lit("U").as("op"),
          (col("cents0") + 1000L).as("cents"))),
      when(pmod(col("pk"), lit(7)) === 0,
        struct(lit(3L).as("seq"), lit("D").as("op"),
          lit(null).cast("long").as("cents"))))
    orders
      .select(col("o_orderkey").as("pk"),
        round(col("o_totalprice") * 100).cast("long").as("cents0"))
      .select(col("pk"), explode(filter(ops, e => e.isNotNull)).as("e"))
      .select(col("pk"), col("e.seq").as("seq"), col("e.op").as("op"),
        col("e.cents").as("cents"))
  }

  /** CDC LOG APPLICATION — the lakehouse ingestion primitive: fold an
    * ordered insert/update/delete log of full-row images to the latest
    * snapshot. Last-writer-wins per key via ONE aggregate
    * (`max_by(struct, seq)` — map-side combinable partial agg, a
    * single key-shuffle, no window sort over the log), then delete
    * tombstones drop. Because ops carry full row state and seq is
    * strictly monotone per key, the fold is associative: applying a
    * log in epoch slices (or on top of a prior snapshot whose rows
    * re-enter as pseudo-inserts at their last_seq — [[cdcMerge]])
    * equals applying the whole log at once, which is exactly what the
    * DuckDB oracle recomputes. At 100 TB the log is append-only
    * partitioned storage and each refresh shuffles only new epochs
    * plus the snapshot — never the historical log. */
  def cdcApply(log: DataFrame): DataFrame =
    log.groupBy(col("pk"))
      .agg(max_by(struct(col("seq"), col("op"), col("cents")),
        col("seq")).as("last"))
      .filter(col("last.op") =!= "D")
      .select(col("pk").as("o_orderkey"), col("last.seq").as("last_seq"),
        col("last.cents").as("cents"))
      .orderBy(col("o_orderkey"))

  /** Incremental refresh face of [[cdcApply]]: apply `newLog` on top
    * of an existing snapshot WITHOUT rescanning the historical log —
    * snapshot rows re-enter the fold as pseudo-inserts at their
    * last_seq (full-row images make this lossless), so the same
    * aggregate produces the post-ingest snapshot. Precondition: every
    * seq in `newLog` exceeds the snapshot's (append-only, monotone
    * CDC stream). A key whose history ended in a tombstone is absent
    * from the snapshot and correctly resurrects only if `newLog`
    * carries a later op for it. */
  def cdcMerge(snapshot: DataFrame, newLog: DataFrame): DataFrame =
    cdcApply(
      snapshot.select(col("o_orderkey").as("pk"),
          col("last_seq").as("seq"), lit("I").as("op"), col("cents"))
        .unionByName(newLog))

  /** Streaming face of the CDC family: micro-batches of log ops land
    * as replay-idempotent append epochs (no-data batches skipped — a
    * part-file-less _SUCCESS dir bricks naive readers; see
    * [[StoredArtifacts.readableEpoch]]). */
  def cdcStream(log: DataFrame, logDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    log.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) batch
        .write.mode("overwrite").parquet(s"$logDir/delta-b$batchId")
    }

  /** Snapshot over every ingested CDC epoch: union the readable
    * epochs, one [[cdcApply]] fold. Epoch slicing is invisible by the
    * associativity argument. */
  def cdcSnapshot(spark: SparkSession, logDir: String): DataFrame = {
    val deltas = StoredArtifacts.listEpochs(spark, logDir)
    require(deltas.nonEmpty, s"no CDC epochs under $logDir")
    cdcApply(spark.read.parquet(deltas: _*))
  }

  /** Bottom-k (KMV) sketch table for segmented key sets: one corpus
    * scan hashes each key row-locally with the portable 48-bit md5
    * idiom and keeps each side's k SMALLEST DISTINCT hash values via
    * the `graft_kmv` aggregate ([[graft.functions.KmvSketch]]) —
    * dedup happens inside the O(k) buffer, so duplicated raw rows
    * stream straight in with NO key-grain distinct exchange, and the
    * shuffle carries partitions·k longs. Output: ≤ sides·k (side, h)
    * rows — the stored sketch artifact. */
  private[graft] def kmvTable(sideKeys: DataFrame, k: Int): DataFrame = {
    val h = conv(substring(md5(concat(col("key").cast("string"),
      lit(":kmv"))), 1, 12), 16, 10).cast("long")
    // ONE bounded aggregate, dedup inside the O(k) buffer — raw
    // (duplicated) rows stream straight in, no key-grain distinct
    // exchange precedes the sketch (the production KMV shape; the
    // original distinct + topk composition paid a distinct-grain
    // shuffle the sketch never needed)
    sideKeys.select(col("side"), h.as("h"))
      .groupBy(col("side"))
      .agg(graft.functions.F.kmvSketch(col("h"), k).as("hs"))
      .select(col("side"), explode(col("hs")).as("h"))
  }

  /** KMV SET OPERATIONS — distinct-count estimates for UNION and
    * INTERSECTION across two segments from bottom-k sketches, the set
    * algebra HLL registers cannot express (HLL unions, but its
    * intersection needs inclusion–exclusion with compounding error;
    * KMV reads the Jaccard estimate straight off the sketches —
    * Beyer et al., "On Synopses for Distinct-Value Estimation Under
    * Multiset Operations", SIGMOD'07). Segments here: customers with
    * 1-URGENT orders vs customers with 2-HIGH orders (audience
    * overlap, the classic KMV question).
    *
    * Sketch algebra: S(A∪B) = bottom-k(S(A) ∪ S(B)) — closed under
    * union, so merging is re-sketching 2k values; Jaccard ρ =
    * |S(A∪B) ∩ S(A) ∩ S(B)| / |S(A∪B)|, intersection ≈ ρ·|A∪B|.
    * When a sketch holds fewer than k values it IS the exact distinct
    * hash set and every estimate collapses to the exact count (the
    * standard small-set branch — exercised at sf0.001 where sides
    * have ~130 distinct keys).
    *
    * Determinism contract (the [[hllDistinct]] convention): every
    * integer — sketch sizes, k-th minimum hashes, sketch overlap,
    * exact distincts — hash-matches the oracle bit-for-bit; the
    * double estimates (k−1)·2⁴⁸/h₍ₖ₎ feed only within-tolerance
    * booleans computed with identical arithmetic in both engines.
    *
    * Scale shape: the corpus is reduced ONCE to (side, key) distinct
    * grain (the cost any exact countDistinct already pays; at 100 TB
    * [[kmvStream]] maintains the sketch per ingest epoch and this
    * corpus pass never re-runs); everything downstream — union
    * sketch, overlap, estimates — runs on ≤ 2k rows. The exact
    * union/intersection columns are the AUDIT side only. */
  def kmvSetOps(orders: DataFrame, k: Int = 512,
                tol: Double = 0.12): DataFrame = {
    val hSpace = (k - 1).toLong * (1L << 48)
    val base = Dedup.materialized(orders
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        col("o_custkey").isNotNull)
      .select(when(col("o_orderpriority") === "1-URGENT", lit("a"))
        .otherwise(lit("b")).as("side"), col("o_custkey").as("key"))
      .distinct())
    val sk = Dedup.materialized(kmvTable(base, k))
    // union sketch = bottom-k of the two sketches' distinct values —
    // the closure property that makes KMV mergeable
    val unionSk = Dedup.materialized(sk.select(col("h")).distinct()
      .agg(graft.functions.F.topk((-col("h")).cast("double"), col("h"), k)
        .as("picks"))
      .select(explode(col("picks")).as("p"))
      .select(col("p.id").as("h")))
    val est = s"CAST($hSpace AS DOUBLE) / "
    def side(s: String) = sk.filter(col("side") === s).agg(
      count(lit(1)).as(s"n_sk_$s"), max(col("h")).as(s"kth_$s"))
    val uStats = unionSk.agg(count(lit(1)).as("n_sk_union"),
      max(col("h")).as("kth_union"))
    // sketch overlap: union-sketch values present in BOTH side sketches
    val inBoth = sk.groupBy(col("h"))
      .agg(countDistinct(col("side")).as("ns"))
    val overlap = unionSk.join(inBoth, "h")
      .agg(coalesce(sum(when(col("ns") === 2, 1L).otherwise(0L)), lit(0L))
        .as("overlap_k"))
    // exact audit at key grain — present-in-which-sides per key
    val exact = base.groupBy(col("key"))
      .agg(countDistinct(col("side")).as("ns"))
      .agg(count(lit(1)).as("exact_union"),
        coalesce(sum(when(col("ns") === 2, 1L).otherwise(0L)), lit(0L))
          .as("exact_inter"))
    val exactSides = base.groupBy(col("side")).agg(count(lit(1)).as("n"))
    val ea = exactSides.filter(col("side") === "a")
      .select(col("n").as("exact_a"))
    val eb = exactSides.filter(col("side") === "b")
      .select(col("n").as("exact_b"))
    val out = side("a").crossJoin(side("b")).crossJoin(uStats)
      .crossJoin(overlap).crossJoin(ea).crossJoin(eb).crossJoin(exact)
      .withColumn("est_a", when(col("n_sk_a") < k,
        col("n_sk_a").cast("double")).otherwise(expr(est + "kth_a")))
      .withColumn("est_b", when(col("n_sk_b") < k,
        col("n_sk_b").cast("double")).otherwise(expr(est + "kth_b")))
      .withColumn("est_union", when(col("n_sk_union") < k,
        col("n_sk_union").cast("double")).otherwise(expr(est + "kth_union")))
      .withColumn("est_inter", when(col("n_sk_union") < k,
        col("overlap_k").cast("double"))
        .otherwise(expr("(CAST(overlap_k AS DOUBLE) * est_union) / n_sk_union")))
    def tolOk(e: String, x: String) =
      when(col(x) === 0L, col(e) === 0.0)
        .otherwise(abs(col(e) - col(x)) / col(x) <= lit(tol))
    out.select(lit(k.toLong).as("k"),
      col("n_sk_a"), col("n_sk_b"), col("n_sk_union"),
      col("kth_a"), col("kth_b"), col("kth_union"), col("overlap_k"),
      col("exact_a"), col("exact_b"), col("exact_union"), col("exact_inter"),
      tolOk("est_a", "exact_a").as("a_within_tol"),
      tolOk("est_b", "exact_b").as("b_within_tol"),
      tolOk("est_union", "exact_union").as("union_within_tol"),
      tolOk("est_inter", "exact_inter").as("inter_within_tol"))
  }

  /** Misra–Gries candidate pass: one `mapPartitions` sweep keeps an
    * s-counter summary per partition (the classic decrement-all
    * eviction — Misra & Gries 1982, the FREQUENT algorithm), emitting
    * each partition's surviving (token, residual) pairs plus one
    * row-count marker row (tok = NULL). Guarantee, for ANY partition
    * layout: a key with global count > N/(s+1) must exceed
    * n_p/(s+1) in at least one partition (pigeonhole over
    * Σn_p = N), and a key over a partition's 1/(s+1) share always
    * survives that partition's summary — so the union of summaries is
    * a SUPERSET of the true heavy hitters. Bounded state: s counters
    * per partition at all times, ≤ partitions·(s+1) rows out. One of
    * the rare genuinely-imperative per-partition kernels (the
    * eviction couples all s counters per input row — no relational
    * decomposition); everything around it stays declarative. */
  private[graft] def mgCandidates(toks: org.apache.spark.sql.Dataset[String],
                                  s: Int): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    toks.mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { t =>
        n += 1
        counts.get(t) match {
          case Some(c) => counts.update(t, c + 1)
          case None if counts.size < s => counts.update(t, 1L)
          case None =>
            // decrement-all over a key SNAPSHOT: mutating a HashMap
            // while iterating it (even value-only) is
            // implementation-defined — the array copy is O(s), the
            // same bound the eviction already pays
            val ks = counts.keysIterator.toArray
            var i = 0
            while (i < ks.length) {
              val c = counts(ks(i))
              if (c == 1L) counts.remove(ks(i)) else counts.update(ks(i), c - 1L)
              i += 1
            }
        }
      }
      counts.iterator.map { case (k, c) => (Option(k), c) } ++
        Iterator.single((Option.empty[String], n))
    }.toDF("tok", "cnt")
  }

  /** HEAVY HITTERS — every token whose corpus share strictly exceeds
    * 1/(s+1), with EXACT counts, by the production two-pass shape for
    * keys too numerous to groupBy whole (urls, tokens, user agents):
    * pass 1 is the [[mgCandidates]] Misra–Gries sweep (bounded state,
    * ≤ partitions·s candidate rows shuffled — never the key-grain
    * exchange), pass 2 re-scans the corpus restricted to the
    * broadcast candidate set and counts exactly (map-side combinable
    * over ≤ |candidates| keys). The candidate SET varies with the
    * partition layout; the OUTPUT does not — MG's superset guarantee
    * holds for any layout, and the final filter
    * `cnt·(s+1) > N` is exact integer arithmetic, so the result is
    * deterministic and engine-portable (the oracle is a plain
    * GROUP BY/HAVING — at test scale the exact recompute is cheap;
    * at 100 TB it is exactly what this operator exists to avoid).
    * share_bp = floor(10⁴·cnt/N) rides the same integer idiom. */
  def heavyHitters(documents: DataFrame, s: Int = 30): DataFrame = {
    val toks = docTokens(documents)
    exactHeavyTail(toks, Dedup.materialized(mgSummary(toks, col("tok"), s)), s)
  }

  /** Merged Misra–Gries summary of a frame as (tok, cnt) rows plus the
    * NULL-tok total marker — ONE `graft_mg` aggregate (native map-side
    * partials, ≤ s+1 rows out vs the mapPartitions kernel's
    * partitions·(s+1); on 20M rows over a 5M-key domain the aggregate
    * two-pass measured 4.6× faster than the kernel and 2.7× faster than
    * the naive groupBy).
    * Partial-merge order varies run to run, so the summary's COUNTER
    * values are not replay-deterministic — fine for the batch
    * operators (the exact second pass immunizes the output; the
    * superset guarantee holds for any merge tree) but exactly why the
    * STREAM faces keep [[mgCandidates]]' per-partition summaries,
    * whose bytes replay deterministically. */
  private[graft] def mgSummary(rows: DataFrame, key: org.apache.spark.sql.Column,
                               s: Int,
                               w: org.apache.spark.sql.Column = lit(1L)): DataFrame =
    rows.agg(graft.functions.F.mgSketch(key, w, s).as("sk"))
      .select(explode(col("sk")).as("c"))
      .select(col("c.tok").as("tok"), col("c.cnt").as("cnt"))

  /** The whitespace token stream [[heavyHitters]] counts over. */
  private def docTokens(documents: DataFrame): DataFrame =
    documents.filter(col("text").isNotNull)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")

  /** The exact pass shared by the self-contained and stored faces:
    * count only the candidate set (broadcast semi-join + map-side
    * combinable agg), read N from the summaries' marker rows, keep
    * strict cnt·(s+1) > N. */
  private def exactHeavyTail(toks: DataFrame, summary: DataFrame,
                             s: Int): DataFrame = {
    val total = summary.filter(col("tok").isNull)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_total"))
    val candidates = summary.filter(col("tok").isNotNull)
      .select(col("tok")).distinct()
    toks.join(broadcast(candidates), "tok")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .crossJoin(total)
      .filter(col("cnt") * (s + 1) > col("n_total"))
      .select(col("tok"), col("cnt"),
        expr("(10000 * cnt) div n_total").as("share_bp"))
      .orderBy(col("tok"))
  }

  /** WEIGHTED Misra–Gries candidate pass — the frequency sweep
    * generalized to weight mass: each arriving (key, w) either feeds
    * its counter, claims a free one, or triggers a decrement-all by
    * m = min(w, smallest counter) with the incoming key kept at
    * w − m when it out-weighs the evicted minimum. Every eviction
    * burns m·(s+1) weight (s counters + the arrival), so total
    * decrement ≤ W_p/(s+1) per partition and any key with partition
    * weight share over 1/(s+1) survives — the [[mgCandidates]]
    * pigeonhole then lifts it to any layout. Non-positive weights
    * are undrawable (the [[ppsSample]] rule). */
  private[graft] def mgWeightedCandidates(
      rows: org.apache.spark.sql.Dataset[(String, Long)], s: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var wTotal = 0L
      it.foreach { case (t, w) =>
        if (w > 0L) {
          wTotal += w
          counts.get(t) match {
            case Some(c) => counts.update(t, c + w)
            case None if counts.size < s => counts.update(t, w)
            case None =>
              val m = math.min(w, counts.valuesIterator.min)
              val ks = counts.keysIterator.toArray
              var i = 0
              while (i < ks.length) {
                val c = counts(ks(i))
                if (c <= m) counts.remove(ks(i)) else counts.update(ks(i), c - m)
                i += 1
              }
              if (w > m) counts.update(t, w - m)
          }
        }
      }
      counts.iterator.map { case (k, c) => (Option(k), c) } ++
        Iterator.single((Option.empty[String], wTotal))
    }.toDF("tok", "cnt")
  }

  /** HEAVY EARNERS — the weight-mass twin of [[heavyHitters]]: every
    * language whose CHARACTER share strictly exceeds 1/(s+1) of the
    * corpus, with exact weight sums — "which segments dominate the
    * byte budget", the question a training-data mixer asks before
    * rebalancing. Same two-pass shape: the weighted [[mgSummary]]
    * aggregate prunes (O(s) state, map-side partials;
    * [[mgWeightedCandidates]] remains the stream faces' kernel), the
    * exact pass sums only the broadcast candidate set; output
    * layout-deterministic by the weighted superset guarantee. */
  def heavyEarners(documents: DataFrame, s: Int = 6): DataFrame = {
    val rows = documents
      .filter(col("lang").isNotNull && col("n_chars").isNotNull &&
        col("n_chars") > 0)
      .select(col("lang"), col("n_chars").cast("long").as("w"))
    val summary = Dedup.materialized(
      mgSummary(rows, col("lang"), s, col("w")))
    val total = summary.filter(col("tok").isNull)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("w_total"))
    val candidates = summary.filter(col("tok").isNotNull)
      .select(col("tok").as("lang")).distinct()
    rows.join(broadcast(candidates), "lang")
      .groupBy(col("lang")).agg(sum(col("w")).as("w"))
      .crossJoin(total)
      .filter(col("w") * (s + 1) > col("w_total"))
      .select(col("lang"), col("w"),
        expr("(10000 * w) div w_total").as("share_bp"))
      .orderBy(col("lang"))
  }

  /** Ingest-time Misra–Gries maintenance — per-epoch delta summaries
    * (candidates + the epoch's row-count marker), the [[hllStream]]
    * ownership contract. The cross-epoch superset guarantee is the
    * same pigeonhole as the per-partition one: a key over the global
    * 1/(s+1) share exceeds it within at least one epoch (Σn_e = N),
    * and within that epoch survives some partition's summary — so
    * the UNION of epoch candidate sets still covers every true heavy
    * hitter, for any epoch slicing. Replay-idempotent by overwrite. */
  def mgStream(toks: DataFrame, summaryDir: String, s: Int = 30)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    toks.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        import batch.sparkSession.implicits._
        mgCandidates(batch.select(col("tok")).as[String], s)
          .write.mode("overwrite").parquet(s"$summaryDir/delta-b$batchId")
      }
    }

  /** CERTIFIED TOP-K — the most frequent k tokens from the
    * [[mgCandidates]] sweep with a SELF-CERTIFYING exactness bound:
    * Misra–Gries guarantees every key OUTSIDE the candidate set has
    * true count ≤ N/(s+1) (each partition's decrement-all burns an
    * evicted key's mass at ≤ n_p/(s+1)), so whenever the k-th kept
    * count strictly exceeds N/(s+1), no unseen key can displace any
    * kept row and the report is PROVABLY the exact top-k — computed
    * without ever shuffling the full key domain. The `certified`
    * column carries the bound's verdict; a false means "widen s or
    * fall back to the full groupBy", and the spec plants exactly that
    * case. Here s = 30, k = 10 certifies at every SF (the 10th token
    * sits well above N/31). Ranking ties break by token asc —
    * deterministic, engine-portable. */
  def topkCertified(documents: DataFrame, k: Int = 10,
                    s: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docTokens(documents)
    val summary = Dedup.materialized(mgSummary(toks, col("tok"), s))
    val total = summary.filter(col("tok").isNull)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_total"))
    val candidates = summary.filter(col("tok").isNotNull)
      .select(col("tok")).distinct()
    val counted = toks.join(broadcast(candidates), "tok")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // rank over the candidate-sized table (≤ partitions·s rows — the
    // window is metadata-scale, never the key domain)
    val ranked = counted
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("tok").asc)).cast("long"))
      .filter(col("rank") <= k)
    val kth = ranked.agg(min(col("cnt")).as("kth_cnt"))
    ranked.crossJoin(total).crossJoin(kth)
      .select(col("rank"), col("tok"), col("cnt"),
        expr("(10000 * cnt) div n_total").as("share_bp"),
        (col("kth_cnt") * (s + 1) > col("n_total")).as("certified"))
      .orderBy(col("rank"))
  }

  /** GROUPED HEAVY HITTERS — frequent tokens per LANGUAGE in one
    * aggregate pass: the `graft_mg` mergeable Misra–Gries aggregate
    * (a [[graft.functions.MgSketch]] TypedImperativeAggregate — O(s)
    * state per group at every aggregation stage, native map-side
    * partials, no Dataset ser/deser hop) sketches each language's
    * token distribution in ONE groupBy, then the exact pass counts
    * only the broadcast (lang, token) candidate pairs. The mergeable-
    * summaries bound (Agarwal et al., PODS'12) holds under Spark's
    * arbitrary partial-merge trees, so candidates per group superset
    * the true per-group hitters for any layout and the output is
    * layout-deterministic. share_bp is WITHIN the language. */
  def heavyHittersGrouped(documents: DataFrame, s: Int = 30): DataFrame = {
    val toks = documents
      .filter(col("text").isNotNull && col("lang").isNotNull)
      .select(col("lang"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val sketch = Dedup.materialized(toks.groupBy(col("lang"))
      .agg(graft.functions.F.mgSketch(col("tok"), lit(1L), s).as("sk"))
      .select(col("lang"), explode(col("sk")).as("c"))
      .select(col("lang"), col("c.tok").as("tok"), col("c.cnt").as("cnt")))
    val totals = sketch.filter(col("tok").isNull)
      .select(col("lang"), col("cnt").as("n_total"))
    val cands = sketch.filter(col("tok").isNotNull)
      .select(col("lang"), col("tok")).distinct()
    toks.join(broadcast(cands), Seq("lang", "tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), "lang")
      .filter(col("cnt") * (s + 1) > col("n_total"))
      .select(col("lang"), col("tok"), col("cnt"),
        expr("(10000 * cnt) div n_total").as("share_bp"))
      .orderBy(col("lang"), col("tok"))
  }

  /** Ingest-time WEIGHTED Misra–Gries maintenance — [[mgStream]] with
    * weight-mass counters; the same cross-epoch pigeonhole (a key over
    * the global 1/(s+1) WEIGHT share is over it within some epoch)
    * keeps the union of epoch candidates a superset of the true heavy
    * earners for any epoch slicing. */
  def mgWeightedStream(rows: DataFrame, summaryDir: String, s: Int = 6)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        import batch.sparkSession.implicits._
        mgWeightedCandidates(
          batch.select(col("lang"), col("w")).as[(String, Long)], s)
          .write.mode("overwrite").parquet(s"$summaryDir/delta-b$batchId")
      }
    }

  /** Heavy earners from the STORED weighted epoch summaries — the
    * [[heavyHittersStored]] shape with weight sums: candidates and W
    * from the summaries, the corpus touched only for the exact
    * verify pass. */
  def heavyEarnersStored(rows: DataFrame, summaryDir: String,
                         s: Int = 6): DataFrame = {
    val spark = rows.sparkSession
    val deltas = StoredArtifacts.listEpochs(spark, summaryDir)
    require(deltas.nonEmpty, s"no weighted MG summaries under $summaryDir")
    val summary = spark.read.parquet(deltas: _*)
    val total = summary.filter(col("tok").isNull)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("w_total"))
    val candidates = summary.filter(col("tok").isNotNull)
      .select(col("tok").as("lang")).distinct()
    rows.filter(col("w") > 0)
      .join(broadcast(candidates), "lang")
      .groupBy(col("lang")).agg(sum(col("w")).as("w"))
      .crossJoin(total)
      .filter(col("w") * (s + 1) > col("w_total"))
      .select(col("lang"), col("w"),
        expr("(10000 * w) div w_total").as("share_bp"))
      .orderBy(col("lang"))
  }

  /** Heavy hitters from the STORED epoch summaries: candidates and N
    * come from the ≤ epochs·partitions·(s+1)-row summary tables; the
    * corpus is touched ONLY for the exact verify pass over the
    * broadcast candidate set — the report a 100 TB deployment runs
    * per day against summaries its ingest stream already wrote. */
  def heavyHittersStored(toks: DataFrame, summaryDir: String,
                         s: Int = 30): DataFrame = {
    val spark = toks.sparkSession
    val deltas = StoredArtifacts.listEpochs(spark, summaryDir)
    require(deltas.nonEmpty, s"no MG summaries under $summaryDir")
    exactHeavyTail(toks,
      spark.read.parquet(deltas: _*), s)
  }

  /** KMV OVERLAP MATRIX — every pairwise segment overlap from
    * sketches built ONCE: the capability that justifies storing KMV
    * sketches at all (an audience-analytics deployment precomputes
    * one bottom-k sketch per segment at ingest, then answers ALL
    * C(sides,2) union/intersection questions from the ≤ sides·k-row
    * sketch table — the corpus is never re-touched per pair). Here:
    * the 5 order priorities → 10 customer-overlap rows. Same
    * determinism contract as [[kmvSetOps]] (exact integers
    * hash-match; doubles only feed within-tol booleans), with
    * exact_union derived by inclusion–exclusion from the exact pair
    * intersection — integer arithmetic, no third count pass. The
    * exact columns are the AUDIT side: one key-grain self-join whose
    * cost is exactly what the sketch path avoids. */
  def kmvMatrix(orders: DataFrame, k: Int = 512,
                tol: Double = 0.12): DataFrame = {
    val base = Dedup.materialized(kmvMatrixBase(orders))
    kmvMatrixFrom(kmvTable(base, k), base, k, tol)
  }

  /** The (side, key)-distinct grain the matrix's EXACT audit columns
    * need — the sketch path itself never requires it. */
  private def kmvMatrixBase(orders: DataFrame): DataFrame =
    orders
      .filter(col("o_custkey").isNotNull && col("o_orderpriority").isNotNull)
      .select(col("o_orderpriority").as("side"), col("o_custkey").as("key"))
      .distinct()

  /** [[kmvMatrix]] with the sketch supplied — shared by the
    * self-contained face and [[kmvMatrixStored]] (stored sketch
    * content is deterministic, so both faces are bit-identical and
    * gate on the same oracle — the ann_*_probe convention). */
  private def kmvMatrixFrom(sketch: DataFrame, base: DataFrame,
                            k: Int, tol: Double): DataFrame = {
    val hSpace = (k - 1).toLong * (1L << 48)
    val sk = Dedup.materialized(sketch)
    val stats = sk.groupBy(col("side"))
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("kth"))
    val sides = sk.select(col("side")).distinct()
    val pairs = sides.select(col("side").as("side_a"))
      .crossJoin(sides.select(col("side").as("side_b")))
      .filter(col("side_a") < col("side_b"))
    // per-pair union sketch: bottom-k of the two sides' merged values
    val uni = Dedup.materialized(broadcast(pairs)
      .join(sk, col("side") === col("side_a") || col("side") === col("side_b"))
      .select(col("side_a"), col("side_b"), col("h")).distinct()
      .groupBy(col("side_a"), col("side_b"))
      .agg(graft.functions.F.topk((-col("h")).cast("double"), col("h"), k)
        .as("picks"))
      .select(col("side_a"), col("side_b"), explode(col("picks")).as("p"))
      .select(col("side_a"), col("side_b"), col("p.id").as("h")))
    val uStats = uni.groupBy(col("side_a"), col("side_b"))
      .agg(count(lit(1)).as("n_sk_union"), max(col("h")).as("kth_union"))
    val overlap = uni
      .join(sk.select(col("side").as("side_a"), col("h")), Seq("side_a", "h"),
        "left_semi")
      .join(sk.select(col("side").as("side_b"), col("h")), Seq("side_b", "h"),
        "left_semi")
      .groupBy(col("side_a"), col("side_b"))
      .agg(count(lit(1)).as("overlap_k"))
    // exact audit: side counts + one key-grain self-join for pair
    // intersections; unions by inclusion–exclusion
    val cnts = base.groupBy(col("side")).agg(count(lit(1)).as("n"))
    val inter = base.as("p")
      .join(base.as("q"),
        col("p.key") === col("q.key") && col("p.side") < col("q.side"))
      .groupBy(col("p.side").as("side_a"), col("q.side").as("side_b"))
      .agg(count(lit(1)).as("exact_inter"))
    val est = s"CAST($hSpace AS DOUBLE) / kth_union"
    pairs
      .join(stats.select(col("side").as("side_a"), col("n_sk").as("n_sk_a")),
        "side_a")
      .join(stats.select(col("side").as("side_b"), col("n_sk").as("n_sk_b")),
        "side_b")
      .join(uStats, Seq("side_a", "side_b"))
      .join(overlap, Seq("side_a", "side_b"), "left")
      .join(cnts.select(col("side").as("side_a"), col("n").as("exact_a")),
        "side_a")
      .join(cnts.select(col("side").as("side_b"), col("n").as("exact_b")),
        "side_b")
      .join(inter, Seq("side_a", "side_b"), "left")
      .withColumn("overlap_k", coalesce(col("overlap_k"), lit(0L)))
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
      .withColumn("exact_union",
        col("exact_a") + col("exact_b") - col("exact_inter"))
      .withColumn("est_union", when(col("n_sk_union") < k,
        col("n_sk_union").cast("double")).otherwise(expr(est)))
      .withColumn("est_inter", when(col("n_sk_union") < k,
        col("overlap_k").cast("double"))
        .otherwise(expr("(CAST(overlap_k AS DOUBLE) * est_union) / n_sk_union")))
      .select(col("side_a"), col("side_b"),
        col("n_sk_a"), col("n_sk_b"), col("n_sk_union"), col("kth_union"),
        col("overlap_k"), col("exact_a"), col("exact_b"),
        col("exact_union"), col("exact_inter"),
        when(col("exact_union") === 0L, col("est_union") === 0.0)
          .otherwise(abs(col("est_union") - col("exact_union"))
            / col("exact_union") <= lit(tol)).as("union_within_tol"),
        when(col("exact_inter") === 0L, col("est_inter") === 0.0)
          .otherwise(abs(col("est_inter") - col("exact_inter"))
            / col("exact_inter") <= lit(tol)).as("inter_within_tol"))
      .orderBy(col("side_a"), col("side_b"))
  }

  /** Persist the per-side KMV sketch table — the written-once artifact
    * the overlap matrix reads at 100 TB (sketch `_SUCCESS` is the
    * completed-build sentinel; sketch content is a pure function of
    * the key sets, so a rebuild is bit-identical). */
  def buildKmvSketches(orders: DataFrame, dir: String, k: Int = 512): Unit = {
    // k rides the _META sidecar (before the sketch sentinel): the
    // stored probe's set algebra keys on the BUILD-time k (the kth
    // statistic, the union re-sketch width) — a caller-supplied
    // mismatch would silently shift every estimate
    StoredArtifacts.writeMeta(orders.sparkSession, dir, s"k=$k\n")
    kmvTable(orders
      .filter(col("o_custkey").isNotNull && col("o_orderpriority").isNotNull)
      .select(col("o_orderpriority").as("side"), col("o_custkey").as("key")), k)
      .write.mode("overwrite").parquet(s"$dir/sketch")
  }

  /** Build-if-absent guard for [[buildKmvSketches]]. */
  def ensureKmvSketches(orders: DataFrame, dir: String, k: Int = 512): String =
    StoredArtifacts.ensureBuilt(orders.sparkSession, dir,
      "sketch")(buildKmvSketches(orders, dir, k))

  /** Content-keyed default location for a corpus's KMV sketch table. */
  def defaultKmvSketchDir(orders: DataFrame, sfKey: String,
                          k: Int = 512): String =
    StoredArtifacts.contentKeyedDirOn("graft-kmv-sketch", orders, "o_custkey", sfKey, s"-k$k")

  /** The overlap matrix over the STORED sketch table: the per-pair
    * set algebra never touches the corpus — the corpus pass here
    * exists only for the exact AUDIT columns (the annBinaryProbe
    * convention: the stored artifact serves the production answer,
    * the raw data backs the audit). Bit-identical to [[kmvMatrix]]
    * (deterministic sketch content), so it gates on the same oracle. */
  def kmvMatrixStored(orders: DataFrame, indexDir: String, k: Int = 512,
                      tol: Double = 0.12): DataFrame =
    kmvMatrixFrom(orders.sparkSession.read.parquet(s"$indexDir/sketch"),
      Dedup.materialized(kmvMatrixBase(orders)),
      // build-time k from _META, never the caller's word for it
      StoredArtifacts.metaInt(orders.sparkSession, indexDir, "k", k), tol)

  /** Ingest-time KMV maintenance — per-epoch delta sketches, the
    * [[hllStream]] ownership contract (delta dirs keyed by batchId,
    * one logical stream per sketchDir). Replay-idempotent by
    * overwrite AND by algebra: bottom-k of a multiset union ignores
    * duplicates, so a replayed epoch cannot move the sketch. */
  def kmvStream(sideKeys: DataFrame, sketchDir: String, k: Int = 512)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    sideKeys.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) kmvTable(batch, k)
        .write.mode("overwrite").parquet(s"$sketchDir/delta-b$batchId")
    }

  /** Merged KMV sketch over every ingested epoch: per-side bottom-k of
    * the union of delta sketches — ≤ sides·k rows read per epoch,
    * ≤ sides·k rows out, the closure property in code. Equals the
    * whole-corpus sketch exactly (spec-pinned). */
  def kmvMerged(spark: SparkSession, sketchDir: String, k: Int = 512): DataFrame = {
    val deltas = StoredArtifacts.listEpochs(spark, sketchDir)
    require(deltas.nonEmpty, s"no KMV sketches under $sketchDir")
    spark.read.parquet(deltas: _*)
      .select(col("side"), col("h")).distinct()
      .groupBy(col("side"))
      .agg(graft.functions.F.topk((-col("h")).cast("double"), col("h"), k)
        .as("picks"))
      .select(col("side"), explode(col("picks")).as("p"))
      .select(col("side"), col("p.id").as("h"))
  }

  /** QUANTILE SKETCH — rank/quantile estimation from the `graft_kll`
    * mergeable summary ([[graft.functions.KllSketch]]), certified
    * against exact corpus ranks. The registered face of the sketch
    * stack's missing member (counts: count-min; distincts: HLL/KMV;
    * heavy keys: MG; quantiles: THIS).
    *
    * Output is fully DETERMINISTIC even though Spark's final-merge
    * order is not: the sketch's estimate never appears raw. Instead
    * each target quantile reports (n, target_rank, bound_rank,
    * exact_value, within_bound) where bound_rank is the sketch's
    * integer-exact WORST-CASE rank-error bound (H+2)·n/(k−1),
    * H = floor(log2(max(n/(k−1),1))) — valid under ANY merge tree
    * (see KllSketch's accounting) — exact_value is the true order
    * statistic at target_rank (two-phase selection, the quantileBins
    * shape), and within_bound certifies the estimate's exact rank
    * (one audit scan) against the bound: TRUE by mathematics, so the
    * DuckDB oracle can assert it as a literal.
    *
    * Scale path: the sketch aggregate is map-side combinable (O(k·log)
    * state partials, no row shuffle); the histogram shuffle carries
    * #buckets rows; phase-2 selection only scans candidate buckets;
    * the audit pass is one conditional aggregate over a broadcast of
    * five rows. Driver-side windows touch only metadata-scale frames
    * (summary entries, bucket histogram). */
  def quantileSketch(orders: DataFrame, k: Int = 256): DataFrame = {
    val cents = orders.select(round(col("o_totalprice") * 100, 0)
      .cast("long").as("cents"))
    val entries = cents
      .agg(graft.functions.F.kllSketch(col("cents"), k).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.lvl").as("lvl"), col("e.v").as("v"))
    kllQuantileReport(cents, entries, k)
  }

  /** The DOUBLE face of [[quantileSketch]] — certified quantiles over
    * a genuinely fractional column (events.value) with NO unit
    * convention to hide behind (price-in-cents is exact for money;
    * a general double is not): the column rides the sketch through
    * the ORDER-PRESERVING BITS mapping (F.doubleSortableBits — the
    * IEEE sign-flip trick: x ≤ y ⇔ bits(x) ≤ bits(y)), so rank
    * estimation, the two-phase exact selection and the audit scan all
    * run on longs, their theorems transfer verbatim (order statistics
    * commute with a monotone bijection), and the reported exact_value
    * maps back through the exact inverse — the SELECTED input double,
    * bit-for-bit, never arithmetic on doubles. Bucket width for the
    * selection histogram is 2^44 (sign/exponent/top-8-mantissa
    * granularity — value-adaptive the way exponents are, bounded like
    * the cents buckets). */
  def quantileSketchDouble(events: DataFrame, k: Int = 256): DataFrame = {
    val bits = Dedup.materialized(events
      .filter(col("value").isNotNull)
      .select(graft.functions.F.doubleSortableBits(col("value")).as("cents")))
    val entries = bits
      .agg(graft.functions.F.kllSketch(col("cents"), k).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.lvl").as("lvl"), col("e.v").as("v"))
    kllQuantileReport(bits, entries, k, bucketW = 1L << 44)
      .withColumn("exact_value",
        graft.functions.F.sortableBitsToDouble(col("exact_value")))
  }

  /** Shared certification core over (lvl, v) summary entries — used by
    * the in-query face above and the stored/stream face ([[kllMerged]];
    * a UNION of epoch summaries is itself a valid summary: compaction
    * errors are additive across disjoint epochs and Σ_e (H_e+1)·n_e ≤
    * (H+1)·n, so the same bound formula on total n certifies it).
    * Delegates to the grouped core with one constant group. */
  private[graft] def kllQuantileReport(cents: DataFrame, entries: DataFrame,
                                       k: Int,
                                       bucketW: Long = 200000L): DataFrame =
    kllQuantileReportGrouped(
      cents.withColumn("grp", lit("all")),
      entries.withColumn("grp", lit("all")), k, bucketW).drop("grp")

  /** PER-GROUP quantile certification from per-group `graft_kll`
    * summaries — the grouped core both faces share. Input: `cents` as
    * (grp, cents) rows, `entries` as (grp, lvl, v) summary rows. Every
    * window partitions by grp (summary/histogram grain — metadata
    * scale per group); the candidate/estimate joins are broadcasts of
    * summary-sized frames with an equi key on grp; the audit pass is
    * one corpus scan fanned ×targets by a broadcast join on grp.
    * Groups with NULL grp are not supported (the equi joins would
    * drop them) — callers pass non-null group keys. */
  private[graft] def kllQuantileReportGrouped(cents: DataFrame,
                                              entries: DataFrame,
                                              k: Int,
                                              bucketW: Long = 200000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = cents.sparkSession
    import spark.implicits._
    val cum = entries
      .select(col("grp"), col("v"),
        expr("shiftleft(CAST(1 AS BIGINT), lvl)").as("w"))
      .groupBy(col("grp"), col("v")).agg(sum(col("w")).as("w"))
      .withColumn("cum", sum(col("w")).over(
        Window.partitionBy(col("grp")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // n rides each group's summary exactly: compaction preserves weight
    val stats = cum.groupBy(col("grp")).agg(sum(col("w")).as("n"))
      .withColumn("bound", expr(
        s"((length(bin(greatest(n div ${k - 1}, 1))) + 1) * n + ${k - 2}) div ${k - 1}"))
    val targets = Seq(("p25", 1L, 4L), ("p50", 2L, 4L), ("p75", 3L, 4L),
      ("p90", 9L, 10L), ("p99", 99L, 100L)).toDF("q_label", "num", "den")
    val t = stats.crossJoin(broadcast(targets))
      .withColumn("target_rank", expr("(num * n + den - 1) div den"))
    // estimate: min summary value whose est cum weight reaches target
    val est = t.join(
        broadcast(cum.select(col("grp").as("__g"), col("v"), col("cum"))),
        col("grp") === col("__g") && col("cum") >= col("target_rank"))
      .groupBy(col("grp"), col("q_label"), col("n"), col("bound"),
        col("target_rank"))
      .agg(min(col("v")).as("est_v"))
    // exact order statistic at target_rank: per-group bucket histogram
    // → candidate bucket + in-bucket offset → selection over candidate
    // buckets only
    // bucket width: truncating `div` is monotone for either sign, so
    // (bucket asc ⇒ value asc) holds on negative keys too (the
    // sortable-bits face feeds negatives for negative doubles)
    val w = bucketW
    val hcum = cents.groupBy(col("grp"), expr(s"cents div $w").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("grp")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val cand = t.join(
        broadcast(hcum.select(col("grp").as("__g"), col("bucket"),
          col("cnt"), col("cum"))),
        col("grp") === col("__g") && col("cum") >= col("target_rank"))
      .groupBy(col("grp"), col("q_label"), col("target_rank"))
      .agg(min_by(struct(col("bucket"), (col("cum") - col("cnt")).as("prev")),
        col("bucket")).as("cb"))
      .select(col("grp"), col("q_label"), col("cb.bucket").as("bucket"),
        (col("target_rank") - col("cb.prev")).as("offset"))
    val exact = cents.withColumn("bucket", expr(s"cents div $w"))
      .join(broadcast(cand), Seq("grp", "bucket"))
      .groupBy(col("grp"), col("q_label"), col("offset"), col("cents"))
      .agg(count(lit(1)).as("c"))
      .withColumn("icum", sum(col("c")).over(
        Window.partitionBy(col("grp"), col("q_label")).orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("icum") >= col("offset"))
      .groupBy(col("grp"), col("q_label")).agg(min(col("cents")).as("exact_value"))
    // audit scan: the estimate's EXACT rank must sit inside the bound —
    // certified by the sketch's worst-case analysis, so deterministic
    val audit = cents.join(broadcast(est), "grp")
      .groupBy(col("grp"), col("q_label"), col("n"), col("bound"),
        col("target_rank"))
      .agg(sum(when(col("cents") <= col("est_v"), 1L).otherwise(0L)).as("cnt_le"),
        sum(when(col("cents") < col("est_v"), 1L).otherwise(0L)).as("cnt_lt"))
    audit.join(broadcast(exact), Seq("grp", "q_label"))
      .select(col("grp"), col("q_label"), col("n"), col("target_rank"),
        col("bound").as("bound_rank"), col("exact_value"),
        (col("cnt_le") >= col("target_rank") - col("bound") &&
          col("cnt_lt") <= col("target_rank") + col("bound")).as("within_bound"))
      .orderBy(col("grp"), col("q_label"))
  }

  /** The GROUPED face of [[quantileSketch]] — per-priority price
    * quantiles from ONE `graft_kll` aggregate over the corpus (the
    * hllGrouped/mgGrouped composition argument applied to rank
    * queries): each group's summary is O(k·log) state at every
    * aggregation stage, the shuffle carries groups·|summary| rows,
    * and the certification runs per group on the shared grouped core.
    * What a 100 TB deployment actually asks ("p99 latency BY
    * service") — per-key sort-based percentiles pay a full sort per
    * group; this pays one combinable aggregate. */
  def quantileSketchGrouped(orders: DataFrame, k: Int = 256): DataFrame = {
    val cents = orders.select(col("o_orderpriority").as("grp"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val entries = cents.groupBy(col("grp"))
      .agg(graft.functions.F.kllSketch(col("cents"), k).as("sk"))
      .select(col("grp"), explode(col("sk")).as("e"))
      .select(col("grp"), col("e.lvl").as("lvl"), col("e.v").as("v"))
    kllQuantileReportGrouped(cents, entries, k)
  }

  /** SLIDING-WINDOW QUANTILES from stored daily summaries — the
    * [[hllSliding]] shape on the rank axis ("rolling weekly p99 of
    * event value", the latency/SLO report every ops deployment runs):
    * per-day `graft_kll` summaries (≤ k·log rows/day, written once at
    * ingest — [[kllStream]] at daily epochs IS this table), each
    * trailing window's summary = the UNION of its days' summaries
    * (zero re-compaction error, the kllMerged argument), certified
    * per window by the shared grouped core against the bound on the
    * WINDOW's n. The per-window exact order statistics are the AUDIT
    * side only — at 100 TB that ×windowDays fan-out is the cost the
    * sketch path exists to avoid; production reads the daily summary
    * table and answers every window from ≤ windowDays·k·log rows. */
  def quantileSliding(events: DataFrame, k: Int = 128,
                      windowDays: Int = 7): DataFrame = {
    val vals = Dedup.materialized(events
      .select(to_date(col("ts")).as("day"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("cents"))
      .filter(col("cents").isNotNull && col("day").isNotNull))
    val daily = vals.groupBy(col("day"))
      .agg(graft.functions.F.kllSketch(col("cents"), k).as("sk"))
      .select(col("day"), explode(col("sk")).as("e"))
      .select(col("day"), col("e.lvl").as("lvl"), col("e.v").as("v"))
    val anchors = daily.select(col("day").as("anchor")).distinct()
    val inWindow = col("day") <= col("anchor") &&
      col("day") >= date_sub(col("anchor"), windowDays - 1)
    val entries = daily.join(broadcast(anchors), inWindow)
      .select(col("anchor").as("grp"), col("lvl"), col("v"))
    val cents = vals.join(broadcast(anchors), inWindow)
      .select(col("anchor").as("grp"), col("cents"))
    kllQuantileReportGrouped(cents, entries, k)
      .withColumnRenamed("grp", "day")
  }

  /** [[quantileSketch]] answered from a STORED summary dir — the rank
    * sibling of [[countMinStored]]/[[hllDistinctStored]], and the one
    * where "stored ≡ in-query" is the WRONG contract: a union of
    * epoch summaries is a DIFFERENT (valid) summary than the
    * whole-corpus compaction, so the raw estimate differs — but the
    * raw estimate never appears in gated output. Every reported
    * column is summary-independent (n rides the weights exactly,
    * bound_rank is a formula on n, exact_value is the corpus order
    * statistic) except within_bound, which the kllMerged additivity
    * argument certifies for ANY epoch union — so the in-query face's
    * oracle still gates this one, through the theorem rather than
    * bit-identity. */
  def quantileSketchStored(orders: DataFrame, sketchDir: String,
                           k: Int = 256): DataFrame = {
    val cents = orders.select(round(col("o_totalprice") * 100, 0)
      .cast("long").as("cents"))
    kllQuantileReport(cents, kllMerged(orders.sparkSession, sketchDir), k)
  }

  /** Build-if-absent KLL summary EPOCH FAMILY — the batch twin of
    * [[kllStream]]: `nEpochs` disjoint hash slices, one summary delta
    * each. Slice errors are additive across disjoint inputs and
    * Σ (H_e+2)·n_e ≤ (H+2)·n, so the whole-corpus bound formula
    * certifies the union (the kllMerged argument). */
  def ensureKllSketch(orders: DataFrame, sketchDir: String, k: Int = 256,
                      nEpochs: Int = 3): String =
    StoredArtifacts.ensureBuilt(orders.sparkSession, sketchDir,
      s"delta-b${nEpochs - 1}") {
      (0 until nEpochs).foreach { i =>
        kllTable(orders.filter(pmod(xxhash64(col("o_orderkey")), lit(nEpochs)) === i)
          .select(round(col("o_totalprice") * 100, 0).cast("long").as("v")), k)
          .write.mode("overwrite").parquet(s"$sketchDir/delta-b$i")
      }
    }

  /** The registered face of [[quantileSketchStored]]: content-keyed
    * build-if-absent summary dir, then the certified stored report. */
  def quantileStoredFace(orders: DataFrame, sfKey: String): DataFrame = {
    // fingerprint the SKETCHED column (price), not the key: a
    // regenerated corpus with identical orderkeys but new prices must
    // rebuild, not serve a stale summary (the r6 staleness hazard)
    val dir = StoredArtifacts.contentKeyedDir("graft-kll-sketch",
      orders.select(col("o_totalprice")), sfKey, "-orders-price-k256-e3")
    ensureKllSketch(orders, dir)
    quantileSketchStored(orders, dir)
  }

  /** One micro-batch's KLL summary as (lvl, v) rows. */
  def kllTable(vals: DataFrame, k: Int = 256): DataFrame =
    vals.agg(graft.functions.F.kllSketch(col("v"), k).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.lvl").as("lvl"), col("e.v").as("v"))

  /** Ingest-time quantile maintenance — per-epoch delta summaries, the
    * [[kmvStream]] ownership contract (delta dirs keyed by batchId, one
    * logical stream per sketchDir; replay-idempotent by overwrite). */
  def kllStream(vals: DataFrame, sketchDir: String, k: Int = 256)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vals.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) kllTable(batch, k)
        .write.mode("overwrite").parquet(s"$sketchDir/delta-b$batchId")
    }

  /** Merged summary over every ingested epoch: the plain UNION of
    * epoch summaries — no re-compaction, so it introduces ZERO extra
    * error and the per-epoch errors add to at most the whole-corpus
    * bound (disjoint inputs). ≤ epochs·k·levels rows. */
  def kllMerged(spark: SparkSession, sketchDir: String): DataFrame = {
    val deltas = StoredArtifacts.listEpochs(spark, sketchDir)
    require(deltas.nonEmpty, s"no KLL summaries under $sketchDir")
    spark.read.parquet(deltas: _*)
  }

  /** ZONE MAPS — block-level min/max data-skipping stats, the
    * file/row-group-level complement of directory-level
    * [[partitionPrunedScan]] and the reason lakehouses sort on write:
    * blocks tile the clustering key (here `blockDays`-day shipdate
    * tiles — value-tiled, NOT rank-tiled, so the map builds in ONE
    * map-side-combinable pass with no global sort; at 100 TB the
    * physical layout already exists and the writer emits these stats
    * per row group for free), each block records min/max for the
    * clustered column AND an uncorrelated one, and two predicates get
    * their skip verdicts: the date range skips every non-overlapping
    * block (clustering works), the orderkey range skips almost
    * nothing (zone maps are useless on uncorrelated columns — the
    * quantified "sort your data" lesson, spec-pinned). Output is the
    * zonemap itself: one row per touched block, exact integers and
    * dates only. */
  def zonemapPrune(lineitem: DataFrame, blockDays: Int = 30,
                   dFrom: String = "1996-01-01", dTo: String = "1996-07-01",
                   kFrom: Long = 1000L, kTo: Long = 2000L): DataFrame =
    // FLOOR block division, not `div`: a date before the 1992 epoch
    // gives a negative day count, where Spark's `div` truncates
    // toward zero but the oracle's `//` floors — zonemapTable pins
    // (x − pmod(x,b))/b, floor for either sign in exact integers
    zonemapTable(lineitem, blockDays)
      .withColumn("skip_date",
        col("max_ship") < lit(dFrom).cast("date") ||
          col("min_ship") >= lit(dTo).cast("date"))
      .withColumn("skip_okey",
        col("max_okey") < kFrom || col("min_okey") >= kTo)
      .orderBy(col("block_id"))

  /** The raw per-block stats half of [[zonemapPrune]] — no predicate
    * verdicts, just the mergeable map. Min/max/count make the zonemap
    * a mergeable summary: epoch maps fold by per-block (min, max,
    * sum), so ingest can maintain it incrementally like every other
    * sketch here. */
  private[graft] def zonemapTable(lineitem: DataFrame,
                                  blockDays: Int = 30): DataFrame =
    lineitem.select(to_date(col("l_shipdate")).as("d"), col("l_orderkey"))
      .withColumn("dd", expr("CAST(datediff(d, DATE'1992-01-01') AS LONG)"))
      .withColumn("block_id",
        expr(s"(dd - pmod(dd, $blockDays)) div $blockDays"))
      .groupBy(col("block_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("d")).as("min_ship"), max(col("d")).as("max_ship"),
        min(col("l_orderkey")).as("min_okey"),
        max(col("l_orderkey")).as("max_okey"))

  /** Ingest-time zonemap maintenance — per-epoch delta block tables,
    * the [[hllStream]] ownership contract. At 100 TB this is the
    * writer's row-group stats file, one per commit. */
  def zonemapStream(lineitem: DataFrame, mapDir: String, blockDays: Int = 30)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    lineitem.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) zonemapTable(batch, blockDays)
        .write.mode("overwrite").parquet(s"$mapDir/delta-b$batchId")
    }

  /** The merged zonemap over every ingested epoch: per-block
    * (min, max, sum) fold — ≤ blocks rows read per epoch, ≤ blocks
    * out. NOT replay-idempotent by algebra (counts sum), so replay
    * safety rests on the per-epoch overwrite, like [[countMinStream]]. */
  def zonemapMerged(spark: SparkSession, mapDir: String): DataFrame = {
    val deltas = StoredArtifacts.listEpochs(spark, mapDir)
    require(deltas.nonEmpty, s"no zonemap epochs under $mapDir")
    spark.read.parquet(deltas: _*)
      .groupBy(col("block_id"))
      .agg(sum(col("n_rows")).as("n_rows"),
        min(col("min_ship")).as("min_ship"), max(col("max_ship")).as("max_ship"),
        min(col("min_okey")).as("min_okey"), max(col("max_okey")).as("max_okey"))
  }

  /** M4 DOWNSAMPLING — the error-free line-chart reduction (Jugel et
    * al., VLDB'14): per (series, time bucket) keep exactly four
    * points — FIRST and LAST by time, MIN and MAX by value — which
    * provably preserve a line rendering at bucket resolution while
    * reducing a 100 TB series to 4·buckets rows. Everything rides
    * ONE map-side-combinable aggregate of lexicographic struct
    * min/max (no window, no sort, no per-bucket shuffle beyond the
    * agg's own): the tie order inside each struct (micros, event_id
    * for time; value_bp, micros, event_id for value) makes every
    * selected point deterministic and engine-portable. Values travel
    * as bp integers and instants as epoch micros — selection-only,
    * no float arithmetic anywhere. */
  def m4Downsample(events: DataFrame): DataFrame = {
    val base = events
      .filter(col("ts").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type").as("series"), to_date(col("ts")).as("bucket"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        expr("CAST(round(value * 1e4) AS BIGINT)").as("v_bp"))
    base.groupBy(col("series"), col("bucket"))
      .agg(count(lit(1)).as("n_points"),
        min(struct(col("us"), col("event_id"), col("v_bp"))).as("f"),
        max(struct(col("us"), col("event_id"), col("v_bp"))).as("l"),
        min(struct(col("v_bp"), col("us"), col("event_id"))).as("mn"),
        max(struct(col("v_bp"), col("us"), col("event_id"))).as("mx"))
      .select(col("series"), col("bucket"), col("n_points"),
        col("f.us").as("first_us"), col("f.event_id").as("first_id"),
        col("f.v_bp").as("first_bp"),
        col("l.us").as("last_us"), col("l.event_id").as("last_id"),
        col("l.v_bp").as("last_bp"),
        col("mn.v_bp").as("min_bp"), col("mn.us").as("min_us"),
        col("mn.event_id").as("min_id"),
        col("mx.v_bp").as("max_bp"), col("mx.us").as("max_us"),
        col("mx.event_id").as("max_id"))
      .orderBy(col("series"), col("bucket"))
  }

  /** Ingest-time M4 maintenance — per-epoch delta M4 tables, the
    * [[hllStream]] ownership contract. M4 is mergeable: first/min
    * fold by struct-min, last/max by struct-max, counts sum — so the
    * dashboard's bucket table maintains incrementally and the raw
    * series is never rescanned. */
  def m4Stream(events: DataFrame, mapDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) m4Downsample(batch)
        .write.mode("overwrite").parquet(s"$mapDir/delta-b$batchId")
    }

  /** The merged M4 table over every ingested epoch: counts sum (replay
    * safety rests on the per-epoch overwrite, like [[zonemapMerged]]),
    * the four points re-minimize/maximize under the SAME lexicographic
    * orders the batch face uses — the carried event ids make the tie
    * order identical, so merged-equals-whole holds even when epochs
    * split a bucket across equal instants or equal values.
    * ≤ series·buckets rows per epoch. */
  def m4Merged(spark: SparkSession, mapDir: String): DataFrame = {
    val deltas = StoredArtifacts.listEpochs(spark, mapDir)
    require(deltas.nonEmpty, s"no M4 epochs under $mapDir")
    spark.read.parquet(deltas: _*)
      .groupBy(col("series"), col("bucket"))
      .agg(sum(col("n_points")).as("n_points"),
        min(struct(col("first_us"), col("first_id"), col("first_bp"))).as("f"),
        max(struct(col("last_us"), col("last_id"), col("last_bp"))).as("l"),
        min(struct(col("min_bp"), col("min_us"), col("min_id"))).as("mn"),
        max(struct(col("max_bp"), col("max_us"), col("max_id"))).as("mx"))
      .select(col("series"), col("bucket"), col("n_points"),
        col("f.first_us"), col("f.first_id"), col("f.first_bp"),
        col("l.last_us"), col("l.last_id"), col("l.last_bp"),
        col("mn.min_bp"), col("mn.min_us"), col("mn.min_id"),
        col("mx.max_bp"), col("mx.max_us"), col("mx.max_id"))
  }

  /** PPS SYSTEMATIC SAMPLE — probability-proportional-to-size
    * sampling, the weighted counterpart of [[sampleKeyed]]: shoot k
    * evenly-spaced arrows into each stratum's cumulative-weight line
    * and keep every row an arrow lands in (a training-data mixer
    * drawing per-language exemplars proportional to document length).
    * ENTIRELY integer arithmetic — a row is picked
    * `floor(k·cw/W) − floor(k·(cw−w)/W)` times (its weight-interval's
    * multiple-of-W/k count), so Spark and the SQL oracle agree
    * bit-for-bit and the arrow count telescopes to exactly k per
    * stratum (no float inverse-CDF, no libm). Rows with NULL or
    * non-positive weight can't be drawn (documented; they'd make the
    * interval empty). Scale shape: ONE shuffle on the stratum key +
    * a per-stratum running sum — the q32 keyed-window family; when a
    * stratum concentrates, [[ppsSampleSalted]] is the two-phase
    * prefix-sum re-plan and [[ppsAuto]] routes on the preflight. */
  def ppsSample(documents: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("lang"))
    documents
      .select(col("lang"), col("doc_id"), col("n_chars").cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("cw", sum(col("w")).over(byLang))
      .withColumn("tw", sum(col("w")).over(whole))
      .withColumn("picks",
        expr(s"(cw * $k) div tw - ((cw - w) * $k) div tw"))
      .filter(col("picks") >= 1)
      .select(col("lang"), col("doc_id"), col("w"), col("picks"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** TWO-PHASE PREFIX-SUM PPS — the hot-stratum mitigation for
    * [[ppsSample]] (r9 verdict missing #4), identical output (gated
    * on 47u's own oracle): the single per-stratum running sum becomes
    * (1) a local running sum per (stratum, doc_id-range bucket) —
    * a hot stratum's cumsum work spreads across its buckets — and
    * (2) a bucket-grain carry: per-bucket weight totals prefix-sum
    * across buckets at BUCKET grain (metadata-scale window) and join
    * back on (stratum, bucket), the exchange phase 1 already created
    * — [[asofSalted]]'s carry pattern applied to a prefix sum. The
    * split running sum telescopes to the single-window cw exactly
    * (addition is associative), so picks are bit-identical. Buckets
    * are doc_id ranges because cw's order IS doc_id order — the salt
    * must refine the cumsum order, not cut across it. NULL-safe join
    * keys (the asofSalted rule): a NULL doc_id rides its stratum's
    * NULL bucket rather than dropping. */
  def ppsSampleSalted(documents: DataFrame, k: Int = 10,
                      bucketIds: Long = 8192L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Dedup.materialized(documents
      .select(col("lang"), col("doc_id"), col("n_chars").cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("bkt", expr(s"doc_id div $bucketIds")))
    val byLB = Window.partitionBy(col("lang"), col("bkt"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byLPrev = Window.partitionBy(col("lang")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy(col("lang"))
    val offsets = base.groupBy(col("lang"), col("bkt"))
      .agg(sum(col("w")).as("bw"))
      .withColumn("carry", coalesce(sum(col("bw")).over(byLPrev), lit(0L)))
      .withColumn("tw", sum(col("bw")).over(whole))
      .select(col("lang").as("__l"), col("bkt").as("__b"),
        col("carry"), col("tw"))
    base
      .withColumn("lcw", sum(col("w")).over(byLB))
      .join(offsets, col("lang") <=> col("__l") && col("bkt") <=> col("__b"))
      .withColumn("cw", col("lcw") + col("carry"))
      .withColumn("picks",
        expr(s"(cw * $k) div tw - ((cw - w) * $k) div tw"))
      .filter(col("picks") >= 1)
      .select(col("lang"), col("doc_id"), col("w"), col("picks"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** The preflight→mitigation router for PPS — [[sessionsAuto]]'s
    * contract on the sampling family: one metadata-scale
    * [[windowPreflight]] pass over the hashed stratum keys (strata
    * are strings; the preflight groups numeric keys) decides whether
    * the single-window cumsum is safe or a stratum concentrates
    * enough to need [[ppsSampleSalted]]'s two-phase re-plan.
    * Identical output either way. */
  def ppsAuto(documents: DataFrame, k: Int = 10,
              hotThreshold: Long = 1000000L,
              bucketIds: Long = 8192L): DataFrame = {
    val verdict = windowPreflight(
      documents.filter(col("n_chars") > 0)
        .select(xxhash64(col("lang")).as("k")), "k", hotThreshold)
      .select(col("advice")).head().getString(0)
    if (verdict == "salt") ppsSampleSalted(documents, k, bucketIds)
    else ppsSample(documents, k)
  }
}
