package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Relational, ScaleOps}

class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed join produces the q4 result with no shuffle exchange") {
    ScaleOps.writeBucketed(spark, TestSpark.sf, buckets = 4)
    val bucketed = ScaleOps.bucketedJoin(spark)
    val expected = Relational.q4JoinShuffle(
      Tables.lineitem(spark, TestSpark.sf), Tables.orders(spark, TestSpark.sf))
    assert(bucketed.collect().toSeq == expected.collect().toSeq)
    val p = bucketed.queryExecution.executedPlan.toString
    // the join itself must not exchange: both sides are bucket-local.
    // (the final orderBy may still range-partition — ignore after Sort)
    val joinPart = p.split("Sort ").last
    assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey"))
    assert(!joinPart.contains("Exchange hashpartitioning(o_orderkey"))
  }

  test("salted aggregation equals direct aggregation") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, TestSpark.sf)
    val direct = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type")).collect().toSeq
    val salted = ScaleOps.saltedAgg(events).collect().toSeq
    assert(salted == direct)
  }

  test("salted broadcast join equals unsalted join") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, TestSpark.sf)
    val dim = spark.createDataFrame(Seq(
      ("view", 1.0), ("click", 2.0), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0)))
      .toDF("event_type", "weight")
    val direct = events.join(dim, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value") * col("weight")), 2).as("weighted"))
      .orderBy(col("event_type")).collect().toSeq
    assert(ScaleOps.saltedJoin(events).collect().toSeq == direct)
  }

  test("approx distinct lands within the configured error of exact") {
    val r = ScaleOps.approxDistinct(Tables.lineitem(spark, TestSpark.sf)).head()
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
    assert(r.getBoolean(2), "parts sketch outside 3*rsd tolerance")
    assert(r.getBoolean(3), "supps sketch outside 3*rsd tolerance")
  }

  test("count-min sketch: estimates bound exact counts and sketches merge by summation") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, TestSpark.sf)
    val r = ScaleOps.countMin(events).collect()
    assert(r.nonEmpty)
    // CMS can only overestimate: est >= exact for every reported key,
    // and with depth 4 / width 512 at test scale the min-row estimate
    // should stay within a loose additive envelope of n/width
    val n = events.count()
    r.foreach { row =>
      val (exact, est) = (row.getLong(1), row.getLong(2))
      assert(est >= exact, s"CMS underestimated ${row.getString(0)}")
      assert(row.getBoolean(3))
      assert(est - exact <= 4 * n / 512 + 1,
        s"estimate ${est} drifted past the additive envelope for exact ${exact}")
    }
    // mergeability = combinability of sum: the sketch of two disjoint
    // halves, summed cell-wise, IS the sketch of the whole corpus
    val whole = ScaleOps.countMinTable(events)
    val halves = ScaleOps.countMinTable(events.filter(col("event_id") % 2 === 0))
      .unionAll(ScaleOps.countMinTable(events.filter(col("event_id") % 2 =!= 0)))
      .groupBy(col("row"), col("cell")).agg(sum(col("cnt")).as("cnt"))
    assert(whole.unionAll(halves).groupBy(col("row"), col("cell"), col("cnt"))
      .count().filter(col("count") =!= 2).isEmpty,
      "summed half-corpus sketches differ from the whole-corpus sketch")
  }

  test("count-min stream: delta epochs merge to the full-corpus sketch; replay overwrites") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cms").toString
    val all = (0 until 300).map(i => (i.toLong, (i % 23).toLong)) // (event_id, user_id)
    val mem = MemoryStream[(Long, Long)]
    val q = ScaleOps.countMinStream(mem.toDF().toDF("event_id", "user_id"), dir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-cms-ck").toString)
      .start()
    try {
      mem.addData(all.take(150): _*); q.processAllAvailable()
      mem.addData(all.drop(150): _*); q.processAllAvailable()
    } finally q.stop()
    // merged epochs == single-shot sketch of the whole corpus
    val whole = ScaleOps.countMinTable(all.toDF("event_id", "user_id"))
    val merged = ScaleOps.countMinMerged(spark, dir)
    assert(whole.unionAll(merged).groupBy(col("row"), col("cell"), col("cnt"))
      .count().filter(col("count") =!= 2).isEmpty,
      "merged delta sketches differ from the whole-corpus sketch")
    // point estimates: every user appears ceil/floor(300/23) times; a
    // never-seen key estimates 0 through the left join
    val est = ScaleOps.countMinEstimate(
        (Seq(0L, 7L, 999L)).toDF("k"), dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("0") >= 14 && est("7") >= 13, s"underestimate: $est")
    assert(est("999") == 0, s"never-seen key must estimate 0: $est")
    // replayed epoch 0 overwrites, not doubles
    val d0 = spark.read.parquet(s"$dir/delta-b0")
      .agg(sum(col("cnt"))).head().getLong(0)
    val mem2 = MemoryStream[(Long, Long)]
    val q2 = ScaleOps.countMinStream(mem2.toDF().toDF("event_id", "user_id"), dir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-cms-ck2").toString)
      .start()
    try { mem2.addData(all.take(150): _*); q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(s"$dir/delta-b0")
      .agg(sum(col("cnt"))).head().getLong(0) == d0,
      "a replayed epoch must overwrite its delta dir, not double it")
  }

  test("profile: per-column stats count nulls, keep native-typed min/max, one row per column") {
    import spark.implicits._
    val t = Seq((1L, Option("b"), 10L), (2L, Option.empty[String], 2L),
      (3L, Option("a"), 2L)).toDF("id", "s", "v")
    val out = ScaleOps.profile(t, Seq("id", "s", "v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5), r.getLong(6))).toMap
    assert(out("id") == ((3L, 0L, 3L, "1", "3", 3L)))
    // count()/distinct/strlen skip the null; n_null counts it
    assert(out("s") == ((2L, 1L, 2L, "a", "b", 2L)))
    // numeric min is 2, NOT the lexicographic "10" — min/max run on the
    // native type and only the rendering is a string
    assert(out("v") == ((3L, 0L, 2L, "2", "10", 4L)))
  }

  test("skew report: a planted hot key dominates max/avg and top-10 share") {
    import spark.implicits._
    // 1 hot key with 90 rows + 10 cold keys with 1 row each: n=100, k=11
    val rows = (0 until 90).map(i => (i.toLong, 7L)) ++
      (0 until 10).map(i => (100L + i, 1000L + i))
    val r = ScaleOps.skewReport(rows.toDF("event_id", "user_id")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((100L, 11L, 90L)))
    // ceil ranks: r50 = ceil(550/100) = 6 -> cnt 1; r99 = ceil(1089/100) = 11 -> cnt 90
    assert((r.getLong(3), r.getLong(4)) == ((1L, 90L)))
    // max/avg = 90/(100/11) = 9.9 -> 990; top10 = 90 + 9*1 = 99% -> 9900 bp
    assert(r.getLong(5) == 990L && r.getLong(6) == 9900L, s"$r")
  }

  test("histogram sketch: ceil-rank quantiles land in their bucket; deltas sum-merge like CMS") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // hand-check: buckets(w=1000) 0:{500} 1:{1500,1500} 2:{2500}, n=4
    val tiny = Seq(5.00, 15.00, 15.00, 25.00).map(Tuple1(_)).toDF("o_totalprice")
    val t = ScaleOps.histQuantiles(tiny, widthCents = 1000L, qs = Seq(50, 99))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4),
        r.getBoolean(5))).toSeq
    assert(t == Seq((50L, 2L, 1000L, 1500L, true), (99L, 4L, 2000L, 2500L, true)), s"$t")
    // corpus audit: theorem holds for every percentile
    val orders = Tables.orders(spark, TestSpark.sf)
    assert(ScaleOps.histQuantiles(orders).collect().forall(_.getBoolean(5)))
    // merge IS bucket-wise sum
    val whole = ScaleOps.histTable(orders)
    val halves = ScaleOps.histTable(orders.filter(col("o_orderkey") % 2 === 0))
      .unionAll(ScaleOps.histTable(orders.filter(col("o_orderkey") % 2 =!= 0)))
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
    assert(whole.unionAll(halves).groupBy(col("bucket"), col("cnt"))
      .count().filter(col("count") =!= 2).isEmpty,
      "summed half-corpus histograms differ from the whole-corpus one")
    // stream face: delta epochs sum-merge to the whole; replay overwrites
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-hist").toString
    val all = (0 until 200).map(i => (i.toLong, (i * 37 % 400) * 10.0))
    val mem = MemoryStream[(Long, Double)]
    val q = ScaleOps.histStream(mem.toDF().toDF("o_orderkey", "o_totalprice"), dir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-hist-ck").toString)
      .start()
    try {
      mem.addData(all.take(100): _*); q.processAllAvailable()
      mem.addData(all.drop(100): _*); q.processAllAvailable()
    } finally q.stop()
    val wholeS = ScaleOps.histTable(all.toDF("o_orderkey", "o_totalprice"))
    val merged = ScaleOps.histMerged(spark, dir)
    assert(wholeS.unionAll(merged).groupBy(col("bucket"), col("cnt"))
      .count().filter(col("count") =!= 2).isEmpty,
      "merged delta histograms differ from the whole-corpus one")
    val d0 = spark.read.parquet(s"$dir/delta-b0").collect().toSet
    val mem2 = MemoryStream[(Long, Double)]
    val q2 = ScaleOps.histStream(mem2.toDF().toDF("o_orderkey", "o_totalprice"), dir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-hist-ck2").toString)
      .start()
    try { mem2.addData(all.take(100): _*); q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(s"$dir/delta-b0").collect().toSet == d0,
      "a replayed epoch must reproduce its delta histogram exactly")
  }

  test("sketch stack stream: one ingest pass maintains all four summaries, replay-safe") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sketches").toString
    val all = (0 until 300).map(i => (i.toLong, (i % 41).toLong, (i % 97) * 25.0))
    def run(data: Seq[(Long, Long, Double)]): Unit = {
      val mem = MemoryStream[(Long, Long, Double)]
      val q = ScaleOps.sketchStream(
          mem.toDF().toDF("event_id", "user_id", "value"), dir)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-sk-ck").toString)
        .start()
      try {
        mem.addData(data.take(150): _*); q.processAllAvailable()
        if (data.length > 150) { mem.addData(data.drop(150): _*); q.processAllAvailable() }
      } finally q.stop()
    }
    run(all)
    val whole = all.toDF("event_id", "user_id", "value")
    def eq(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
           cols: Seq[String], what: String): Unit =
      assert(a.unionAll(b).groupBy(cols.map(col): _*)
        .count().filter(col("count") =!= 2).isEmpty, s"$what merge != whole")
    eq(ScaleOps.countMinMerged(spark, s"$dir/cms"), ScaleOps.countMinTable(whole),
      Seq("row", "cell", "cnt"), "cms")
    eq(ScaleOps.hllMerged(spark, s"$dir/hll"), ScaleOps.hllTable(whole),
      Seq("reg", "m_reg"), "hll")
    eq(ScaleOps.histMerged(spark, s"$dir/hist"),
      ScaleOps.histTable(whole.select(col("value").as("o_totalprice"))),
      Seq("bucket", "cnt"), "hist")
    eq(ScaleOps.bloomMerged(spark, s"$dir/bloom"),
      ScaleOps.bloomTable(whole.select(col("user_id").as("key"))),
      Seq("cell"), "bloom")
    // replay epoch 0 (fresh checkpoint, same first batch): all four
    // families must be byte-identical afterwards
    val before = Seq("cms", "hll", "hist", "bloom").map(f =>
      f -> spark.read.parquet(s"$dir/$f/delta-b0").collect().toSet).toMap
    run(all.take(150))
    Seq("cms", "hll", "hist", "bloom").foreach { f =>
      assert(spark.read.parquet(s"$dir/$f/delta-b0").collect().toSet == before(f),
        s"$f epoch replay must reproduce its delta exactly")
    }
  }

  test("integrity audit counts each planted violation class exactly") {
    import spark.implicits._
    val orders = Seq((1L, 10L), (2L, 99L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (Option(1L), 5.0),              // clean
      (Option(1L), -1.0),             // nonpositive qty
      (Option(3L), 2.0),              // orphan (no order 3)
      (Option.empty[Long], 2.0))      // null key (also never matches -> orphan)
      .toDF("l_orderkey", "l_quantity")
    val customer = Seq(Tuple1(10L)).toDF("c_custkey")
    val out = ScaleOps.integrityAudit(orders, lineitem, customer).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("childless_order" -> 1L, "nonpositive_qty" -> 1L,
      "null_lineitem_key" -> 1L, "orphan_lineitem" -> 2L,
      "orphan_order_customer" -> 1L), s"$out")
  }

  test("integrity audit stays exact when the orderkey PK is itself violated") {
    import spark.implicits._
    // order 1 appears TWICE (one custkey known, one orphan): an
    // auditor must not assume the integrity it audits — both rows
    // count as childless-if-childless and the orphan custkey counts
    val orders = Seq((1L, 10L), (1L, 99L), (2L, 10L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((Option(2L), 5.0), (Option(2L), -2.0))
      .toDF("l_orderkey", "l_quantity")
    val customer = Seq(Tuple1(10L)).toDF("c_custkey")
    val out = ScaleOps.integrityAudit(orders, lineitem, customer).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("childless_order" -> 2L, "nonpositive_qty" -> 1L,
      "null_lineitem_key" -> 0L, "orphan_lineitem" -> 0L,
      "orphan_order_customer" -> 1L), s"$out")
  }

  test("quantile bins: threshold at the median bucket edge, near-balanced on real data") {
    import spark.implicits._
    // median rank 2 of {500,1500,1500,2500} -> bucket 1 -> thr 2000
    val tiny = Seq(5.00, 15.00, 15.00, 25.00).map(Tuple1(_)).toDF("o_totalprice")
    val t = ScaleOps.quantileBins(tiny, widthCents = 1000L, nBins = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(t == Seq((1L, 3L, 500L, 1500L), (2L, 1L, 2500L, 2500L)), s"$t")
    // real data: 4 bins, non-overlapping ranges, populations within
    // 10% of n/4 (bucket-width granularity slack)
    val out = ScaleOps.quantileBins(Tables.orders(spark, TestSpark.sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    val n = out.map(_._2).sum
    assert(out.forall(b => math.abs(b._2 - n / 4.0) <= n * 0.1), s"unbalanced: ${out.toSeq}")
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 < b._3, s"bin ranges must not overlap: ${out.toSeq}") }
  }

  test("bloom: no false negatives ever, fp rate in expectation, deltas union-merge idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // audit on real keys: theorem + tolerance booleans
    val r = ScaleOps.bloomAudit(Tables.customer(spark, TestSpark.sf)).head()
    assert(r.getBoolean(5), s"bloom must never miss a set key: $r")
    assert(r.getBoolean(8), s"fp count outside expectation envelope: $r")
    // a dense small filter (m=256) MUST show false positives yet still
    // zero false negatives — proves the probe isn't an exact-set cheat
    val dense = (0 until 300).map(i => Tuple1(i.toLong)).toDF("c_custkey")
    val rd = ScaleOps.bloomAudit(dense, mBits = 256, k = 3).head()
    assert(rd.getBoolean(5), "dense filter still has no false negatives")
    assert(rd.getLong(7) > 0L, s"m=256 with 300 keys must produce false positives: $rd")
    // merge IS set union: half-corpus cell sets unioned equal the whole
    val keys = (0 until 500).map(i => Tuple1(i.toLong * 7)).toDF("key")
    val whole = ScaleOps.bloomTable(keys)
    val halves = ScaleOps.bloomTable(keys.filter(col("key") % 2 === 0))
      .unionByName(ScaleOps.bloomTable(keys.filter(col("key") % 2 =!= 0)))
      .distinct()
    assert(whole.unionAll(halves).groupBy(col("cell"))
      .count().filter(col("count") =!= 2).isEmpty,
      "unioned half-corpus cell sets differ from the whole-corpus filter")
    // stream face: epochs merge to the whole; replay reproduces deltas
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    val all = (0 until 400).map(i => Tuple1(i.toLong * 3))
    val mem = MemoryStream[Tuple1[Long]]
    val q = ScaleOps.bloomStream(mem.toDF().toDF("key"), dir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-bloom-ck").toString)
      .start()
    try {
      mem.addData(all.take(200): _*); q.processAllAvailable()
      mem.addData(all.drop(200): _*); q.processAllAvailable()
    } finally q.stop()
    val wholeS = ScaleOps.bloomTable(all.toDF("key"))
    val merged = ScaleOps.bloomMerged(spark, dir)
    assert(wholeS.unionAll(merged).groupBy(col("cell"))
      .count().filter(col("count") =!= 2).isEmpty)
    val d0 = spark.read.parquet(s"$dir/delta-b0").collect().toSet
    val mem2 = MemoryStream[Tuple1[Long]]
    val q2 = ScaleOps.bloomStream(mem2.toDF().toDF("key"), dir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-bloom-ck2").toString)
      .start()
    try { mem2.addData(all.take(200): _*); q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(s"$dir/delta-b0").collect().toSet == d0)
  }

  test("profile stream: epochs merge exactly on sums/min/max, HLL stands in for distinct") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-prof").toString
    val all = (0 until 400).map(i =>
      (i.toLong, if (i % 5 == 0) None else Some(s"w${i % 37}"), (i % 11).toLong))
    val mem = MemoryStream[(Long, Option[String], Long)]
    val cols = Seq("id", "s", "v")
    val q = ScaleOps.profileStream(mem.toDF().toDF("id", "s", "v"), dir, cols)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-prof-ck").toString)
      .start()
    try {
      mem.addData(all.take(200): _*); q.processAllAvailable()
      mem.addData(all.drop(200): _*); q.processAllAvailable()
    } finally q.stop()
    val merged = ScaleOps.profileMerged(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3),
        r.getString(4), r.getLong(5), r.getLong(6)))).toMap
    // exact fields equal the one-shot batch profile
    val batch = ScaleOps.profile(all.toDF("id", "s", "v"), cols).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(4),
        r.getString(5), r.getLong(6), r.getLong(3)))).toMap
    cols.foreach { c =>
      val (m, b) = (merged(c), batch(c))
      assert((m._1, m._2, m._3, m._4, m._5) == ((b._1, b._2, b._3, b._4, b._5)),
        s"merged exact fields differ for $c: $m vs $b")
      // HLL estimate within 15% of the true distinct (id: 400, s: 36, v: 11)
      val exact = b._6.toDouble
      assert(math.abs(m._6 - exact) / exact <= 0.15,
        s"distinct estimate for $c out of tolerance: ${m._6} vs $exact")
    }
    // replayed epoch 0 reproduces its deltas (overwrite + max idempotence)
    val d0 = spark.read.parquet(s"$dir/delta-b0/regs").collect().toSet
    val mem2 = MemoryStream[(Long, Option[String], Long)]
    val q2 = ScaleOps.profileStream(mem2.toDF().toDF("id", "s", "v"), dir, cols)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-prof-ck2").toString)
      .start()
    try { mem2.addData(all.take(200): _*); q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(s"$dir/delta-b0/regs").collect().toSet == d0)
  }

  test("hll: registers merge by max, both estimate regimes hold tolerance, stream replays idempotently") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, TestSpark.sf)
    // audit face on real data: exact integers sane, estimate in tolerance
    val r = ScaleOps.hllDistinct(events).head()
    assert(r.getLong(0) == 512L && r.getLong(2) > 0L)
    assert(r.getBoolean(5), s"estimate outside tolerance: $r")
    // merge IS per-register max: two disjoint halves max-merged == whole
    val whole = ScaleOps.hllTable(events)
    val halves = ScaleOps.hllTable(events.filter(col("event_id") % 2 === 0))
      .unionAll(ScaleOps.hllTable(events.filter(col("event_id") % 2 =!= 0)))
      .groupBy(col("reg")).agg(max(col("m_reg")).as("m_reg"))
    assert(whole.unionAll(halves).groupBy(col("reg"), col("m_reg"))
      .count().filter(col("count") =!= 2).isEmpty,
      "max-merged half-corpus registers differ from the whole-corpus table")
    // raw (harmonic) regime: 20k distinct keys >> 2.5*m forces the
    // non-linear-counting path; HLL's 3-sigma envelope is ~14% at m=512
    val big = (0 until 20000).map(i => (i.toLong, i.toLong)).toDF("event_id", "user_id")
    val rb = ScaleOps.hllDistinct(big).head()
    assert(!rb.getBoolean(4), s"20k keys must use the raw estimator: $rb")
    assert(rb.getBoolean(5), s"raw estimate outside tolerance: $rb")
    // stream face: delta epochs max-merge to the whole-corpus table
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-hll").toString
    val all = (0 until 300).map(i => (i.toLong, (i % 57).toLong))
    val mem = MemoryStream[(Long, Long)]
    val q = ScaleOps.hllStream(mem.toDF().toDF("event_id", "user_id"), dir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-hll-ck").toString)
      .start()
    try {
      mem.addData(all.take(150): _*); q.processAllAvailable()
      mem.addData(all.drop(150): _*); q.processAllAvailable()
    } finally q.stop()
    val wholeS = ScaleOps.hllTable(all.toDF("event_id", "user_id"))
    val merged = ScaleOps.hllMerged(spark, dir)
    assert(wholeS.unionAll(merged).groupBy(col("reg"), col("m_reg"))
      .count().filter(col("count") =!= 2).isEmpty,
      "merged delta registers differ from the whole-corpus table")
    // replay epoch 0: registers unchanged (overwrite + max idempotence)
    val d0 = spark.read.parquet(s"$dir/delta-b0").collect().toSet
    val mem2 = MemoryStream[(Long, Long)]
    val q2 = ScaleOps.hllStream(mem2.toDF().toDF("event_id", "user_id"), dir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-hll-ck2").toString)
      .start()
    try { mem2.addData(all.take(150): _*); q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(s"$dir/delta-b0").collect().toSet == d0,
      "a replayed epoch must reproduce its delta registers exactly")
  }

  test("sliding hll: each anchor's merged daily registers equal the whole-window sketch") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, TestSpark.sf)
    val rows = ScaleOps.hllSliding(events).collect()
    assert(rows.nonEmpty)
    // spot-check first/middle/last anchors: max-merging the trailing
    // window's DAILY register tables must equal sketching the window's
    // events directly (max-merge is lossless), and the exact-WAU audit
    // column must match a direct distinct over the same window
    for (r <- Seq(rows.head, rows(rows.length / 2), rows.last)) {
      val day = r.getDate(0)
      val whole = ScaleOps.hllDistinct(events.filter(col("user_id").isNotNull &&
        to_date(col("ts")) <= lit(day) &&
        to_date(col("ts")) >= date_sub(lit(day), 6))).head()
      assert(r.getLong(1) == whole.getLong(1), s"n_zero_regs mismatch at $day")
      assert(r.getLong(2) == whole.getLong(2), s"s2 mismatch at $day")
      assert(r.getLong(3) == whole.getLong(3), s"exact wau mismatch at $day")
    }
    assert(rows.count(_.getBoolean(5)) * 2 >= rows.length,
      "HLL estimate misses the 15% tolerance on most anchors")
  }

  test("k-anonymity: planted size-(k-1) class is flagged and the risk share is exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 9 rows in one class (< k=10) and 20 in another: share = 9/29
    val cust = ((0 until 9).map(i => (i.toLong, s"c$i", 1, -500.0, "BUILDING")) ++
      (0 until 20).map(i => ((100 + i).toLong, s"d$i", 2, 2500.0, "MACHINERY")))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val r = ScaleOps.kAnonymity(cust).collect()
    assert(r.length == 2)
    val atRisk = r.find(_.getLong(0) == 1L).get
    assert(atRisk.getLong(3) == 9L && !atRisk.getBoolean(4))
    // floor(-500/2000) = -1: negative balances band toward -inf
    assert(atRisk.getLong(2) == -1L)
    val safe = r.find(_.getLong(0) == 2L).get
    assert(safe.getLong(3) == 20L && safe.getBoolean(4))
    assert(r.forall(_.getLong(5) == 10000L * 9 / 29), "share must be exact bp")
    assert(ScaleOps.kAnonymity(Tables.customer(spark, TestSpark.sf)).count() > 0)
  }

  test("events can be consumed as a file stream (readStream over the testdata layout)") {
    import org.apache.spark.sql.functions._
    // copy a parquet file into a stream-source dir (file streams read dirs)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
      dir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // same dual-layout normalization as Tables.events: TIMESTAMP(NANOS)
    // testdata arrives as long (legacy conf), TIMESTAMP(MICROS) as NTZ
    val schema = spark.read.parquet(dir.toString).schema
    val raw0 = spark.readStream.schema(schema).parquet(dir.toString)
    val raw = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw0.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case _ => raw0.withColumn("ts", col("ts").cast("timestamp"))
    }
    val q = graft.streaming.Streams.windowAgg(raw, "1 hour", "1 minute")
      .writeStream.format("memory").queryName("filestream").outputMode("update").start()
    try {
      q.processAllAvailable()
      val n = spark.table("filestream").agg(sum(col("n_events"))).head().getLong(0)
      assert(n == 1000) // sf0.001 events total
    } finally q.stop()
  }

  test("merged sketch readers tolerate part-file-less delta dirs (pre-guard empty epochs)") {
    val s = TestSpark.spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // a real delta epoch plus a planted _SUCCESS-only dir — exactly
    // what a pre-guard writer produced for a no-data micro-batch (the
    // write faces now skip those; the read filter must ALSO tolerate
    // dirs already on disk, which contribute nothing to the union)
    def plantEmpty(dir: String): Unit = {
      val bad = new java.io.File(s"$dir/delta-b9"); bad.mkdirs()
      new java.io.File(bad, "_SUCCESS").createNewFile()
    }
    val events = Seq((1L, 2L), (2L, 3L), (3L, 2L)).toDF("event_id", "user_id")
    val cmsDir = java.nio.file.Files.createTempDirectory("graft-cms-e").toString
    ScaleOps.countMinTable(events).write.parquet(s"$cmsDir/delta-b0")
    plantEmpty(cmsDir)
    assert(ScaleOps.countMinMerged(s, cmsDir).count() > 0)
    val hllDir = java.nio.file.Files.createTempDirectory("graft-hll-e").toString
    graft.operators.ScaleOps.hllTable(events).write.parquet(s"$hllDir/delta-b0")
    plantEmpty(hllDir)
    assert(ScaleOps.hllMerged(s, hllDir).count() > 0)
    val blDir = java.nio.file.Files.createTempDirectory("graft-bloom-e").toString
    ScaleOps.bloomTable(events.select(col("user_id").as("key")))
      .write.parquet(s"$blDir/delta-b0")
    plantEmpty(blDir)
    assert(ScaleOps.bloomMerged(s, blDir).count() > 0)
  }

  test("aggDelta merge-equals-whole: part-aggregates over any disjoint split fold to the full recompute, incl. NULL keys") {
    val s = TestSpark.spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until 400).map { i =>
      (if (rnd.nextInt(20) == 0) None else Some(i.toLong), // NULL orderkey rows
        if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(12).toLong), // NULL custkey
        rnd.nextInt(100000) / 100.0,
        new java.sql.Timestamp(t0 + rnd.nextInt(365) * 86400000L))
    }
    val orders = rows
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val whole = graft.operators.ScaleOps.orderAggTable(orders)
      .collect().map(r => r.toSeq.head -> r.toSeq.tail).toMap
    // the registered one-scan face
    val merged = graft.operators.ScaleOps.aggDelta(orders, batchMod = 7, batchRes = 3)
      .collect().map(r => r.toSeq.head -> r.toSeq.tail).toMap
    assert(merged == whole, "one-scan split-merge must equal the full recompute")
    // the library face: three part-aggregates built SEPARATELY over a
    // random 3-way disjoint split (the stored-base + two-appends shape)
    import org.apache.spark.sql.functions.{pmod, crc32, concat_ws, coalesce, col, lit}
    val tagged = orders.withColumn("part", pmod(crc32(concat_ws("|",
      coalesce(col("o_orderkey").cast("string"), lit("-")),
      col("o_totalprice"))), lit(3)))
    val parts = (0 until 3).map(p =>
      graft.operators.ScaleOps.orderAggTable(tagged.filter(col("part") === p)))
    val folded = graft.operators.ScaleOps.aggMerge(parts)
      .collect().map(r => r.toSeq.head -> r.toSeq.tail).toMap
    assert(folded == whole, "separately-built part-aggregates must fold to the full recompute")
  }

  test("joinDelta: base ⊕ key-pruned delta equals the full join recompute at any residue; delta dim read is broadcast-pruned") {
    val s = TestSpark.spark
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(s, TestSpark.sf)
    val lineitem = Tables.lineitem(s, TestSpark.sf)
    val whole = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    for ((m, r) <- Seq((10, 9), (7, 0), (3, 2))) {
      val got = graft.operators.ScaleOps.joinDelta(orders, lineitem, m, r)
        .collect().map(x => x.getString(0) -> x.toSeq.tail).toMap
      assert(got == whole, s"joinDelta($m,$r) diverged from the full recompute")
    }
    // the delta path's dimension read must be key-pruned via broadcast
    // (the scan-0.1%-not-100% claim), and the fold must stay agg-sized
    val plan = graft.operators.ScaleOps.joinDelta(orders, lineitem)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      (plan.contains("LeftSemi") || plan.contains("left_semi")),
      s"delta dim prune must be a broadcast semi-join:\n$plan")
  }

  test("joinDelta: NULL join keys drop from both maintenance paths exactly as the inner-join recompute drops them") {
    val s = TestSpark.spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val orders = Seq((1L, "1-URGENT", 10.0), (2L, "2-HIGH", 20.0))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val li = Seq(Some(1L) -> 5.0, Some(2L) -> 7.0, None -> 99.0, Some(9L) -> 3.0)
      .map { case (k, p) => (k, p, 1.0) }
      .toDF("l_orderkey", "l_extendedprice", "l_quantity")
    val out = graft.operators.ScaleOps.joinDelta(orders, li, 2, 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // NULL key and dangling key 9 both vanish; priorities keep 1 item each
    assert(out == Seq(("1-URGENT", 1L, 500L), ("2-HIGH", 1L, 700L)), s"got $out")
  }

  test("cdcApply: last full-row image wins by seq, tombstones drop, input order is irrelevant") {
    val s = TestSpark.spark
    import s.implicits._
    // pk 1: I,U -> updated value; pk 2: I,D -> gone; pk 3: I only;
    // pk 4: I,D,I(later) -> resurrected. Rows deliberately shuffled.
    val log = Seq(
      (4L, 9L, "I", Some(777L)), (1L, 2L, "U", Some(1100L)),
      (2L, 1L, "I", Some(200L)), (1L, 1L, "I", Some(100L)),
      (4L, 1L, "I", Some(400L)), (2L, 2L, "D", None),
      (3L, 1L, "I", Some(300L)), (4L, 2L, "D", None)
    ).toDF("pk", "seq", "op", "cents")
    val out = graft.operators.ScaleOps.cdcApply(log)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 2L, 1100L), (3L, 1L, 300L), (4L, 9L, 777L)), s"got $out")
  }

  test("cdcMerge: snapshot + new epoch equals whole-log apply (incl. delete-then-resurrect across the split)") {
    val s = TestSpark.spark
    import org.apache.spark.sql.functions._
    val log = graft.operators.ScaleOps.cdcLog(Tables.orders(s, TestSpark.sf))
    val whole = graft.operators.ScaleOps.cdcApply(log)
      .collect().map(_.toSeq).toSet
    // split mid-history: seq 1 ops land first, seq>=2 (updates AND
    // tombstones) arrive as the new epoch — deletes must kill snapshot
    // rows, and keys deleted pre-split must stay dead
    val snap = graft.operators.ScaleOps.cdcApply(log.filter(col("seq") === 1))
    val merged = graft.operators.ScaleOps.cdcMerge(snap, log.filter(col("seq") >= 2))
      .collect().map(_.toSeq).toSet
    assert(merged == whole, "snapshot ⊕ epoch must equal the whole-log fold")
  }

  test("cdcStream: epoch slicing is invisible to cdcSnapshot; planted empty epoch tolerated") {
    val s = TestSpark.spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val all = (0 until 200).flatMap { i =>
      Seq((i.toLong, 1L, "I", Some(i * 10L))) ++
        (if (i % 3 == 0) Seq((i.toLong, 2L, "U", Some(i * 10L + 5))) else Nil) ++
        (if (i % 7 == 0) Seq((i.toLong, 3L, "D", Option.empty[Long])) else Nil)
    }
    val mem = MemoryStream[(Long, Long, String, Option[Long])]
    val q = graft.operators.ScaleOps.cdcStream(
        mem.toDF().toDF("pk", "seq", "op", "cents"), dir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-cdc-ck").toString)
      .start()
    try {
      mem.addData(all.take(120): _*); q.processAllAvailable()
      mem.addData(all.drop(120): _*); q.processAllAvailable()
    } finally q.stop()
    val bad = new java.io.File(s"$dir/delta-b9"); bad.mkdirs()
    new java.io.File(bad, "_SUCCESS").createNewFile()
    val whole = graft.operators.ScaleOps.cdcApply(
      all.toDF("pk", "seq", "op", "cents")).collect().map(_.toSeq).toSet
    val snap = graft.operators.ScaleOps.cdcSnapshot(s, dir)
      .collect().map(_.toSeq).toSet
    assert(snap == whole, "epoch-sliced snapshot must equal the whole-log fold")
  }

  test("ppsSample: arrows telescope to exactly k per stratum, counts are weight-proportional, unweighable rows excluded") {
    val s = TestSpark.spark
    import s.implicits._
    // stratum A: one doc holds 50% of the weight -> exactly 5 of k=10
    // arrows; stratum B: uniform weights; NULL/zero weights undrawable
    val docs = (
      Seq((0L, "A", Some(500)), (1L, "A", Some(100)), (2L, "A", Some(100)),
        (3L, "A", Some(100)), (4L, "A", Some(100)), (5L, "A", Some(100)),
        (6L, "A", Some(0)), (7L, "A", None)) ++
      (10L until 30L).map(i => (i, "B", Some(7)))
    ).toDF("doc_id", "lang", "n_chars")
    val out = graft.operators.ScaleOps.ppsSample(docs, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(!out.exists(r => r._2 == 6L || r._2 == 7L), "zero/NULL weight rows must not be drawn")
    for (lang <- Seq("A", "B"))
      assert(out.filter(_._1 == lang).map(_._3).sum == 10L,
        s"stratum $lang arrow total must telescope to k")
    assert(out.find(r => r._2 == 0L).get._3 == 5L,
      "the half-weight doc takes exactly half the arrows")
    // real corpus: deterministic, per-lang totals = k
    val real = graft.operators.ScaleOps.ppsSample(
      Tables.documents(s, TestSpark.sf)).collect()
    val byLang = real.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(3)).sum)
    assert(byLang.forall(_._2 == 10L), s"per-stratum totals: ${byLang.toMap}")
  }

  test("ppsSampleSalted is row-identical to ppsSample across bucket widths; ppsAuto routes on the preflight") {
    val s = TestSpark.spark
    import s.implicits._
    val rnd = new scala.util.Random(4701)
    // planted hot stratum (80% of rows), sparse/dense doc_id ranges,
    // a NULL lang stratum, zero/NULL weights, ties in weight
    val docs = (
      (0L until 4000L).map(i => (i * 3 + rnd.nextInt(3), "HOT", Some(1 + rnd.nextInt(40)))) ++
      (20000L until 20500L).map(i => (i, "b", Some(7))) ++
      (30000L until 30200L).map(i => (i, null, Some(rnd.nextInt(30)))) ++
      Seq((40000L, "b", Some(0)), (40001L, "b", None))
    ).map { case (id, l, w) => (id, l, w) }
      .toDF("doc_id", "lang", "n_chars")
    val want = graft.operators.ScaleOps.ppsSample(docs, k = 10)
      .collect().map(_.toString).toSeq
    for (bucketIds <- Seq(1L, 64L, 8192L, 1000000000L)) {
      val got = graft.operators.ScaleOps
        .ppsSampleSalted(docs, k = 10, bucketIds = bucketIds)
        .collect().map(_.toString).toSeq
      assert(got == want,
        s"bucketIds=$bucketIds: split prefix sums must telescope exactly")
    }
    // auto router: the hot stratum trips the preflight -> salted face;
    // a uniform frame keeps the single-window face — identical output
    // either way (spot-checked by running both branches)
    val hotRouted = graft.operators.ScaleOps
      .ppsAuto(docs, k = 10, hotThreshold = 3000L)
      .collect().map(_.toString).toSeq
    assert(hotRouted == want, "salt-routed output must equal the original")
    val uniformRouted = graft.operators.ScaleOps
      .ppsAuto(docs, k = 10, hotThreshold = 1000000L)
      .collect().map(_.toString).toSeq
    assert(uniformRouted == want, "window-routed output must equal the original")
  }

  test("joinEstimate: certified upper bound always; tight on the skewed joins that explode") {
    val s = TestSpark.spark
    import s.implicits._
    // skewed: one hot key carries the join — true size dominates noise
    val a = (Seq.fill(1000)(77L) ++ (1L to 200L).map(_ + 1000L))
      .toDF("o_orderkey")
    val b = (Seq.fill(2000)(77L) ++ (1L to 300L).map(_ + 5000L))
      .toDF("l_orderkey")
    val out = graft.operators.ScaleOps.joinEstimate(a, b).head()
    val exact = out.getAs[Long]("exact_join_rows")
    val est = out.getAs[Long]("est_join_rows")
    assert(exact >= 2000000L, s"hot key dominates: $exact")
    assert(out.getAs[Boolean]("never_underestimates") && est >= exact)
    assert(out.getAs[Long]("overshoot_bp") < 100L,
      s"exploding joins estimate tightly: est=$est exact=$exact")
    assert(out.getAs[Boolean]("within_noise"))

    // disjoint keys: exact 0, estimate still a (noisy) upper bound,
    // overshoot undefined rather than a division error
    val c = (1L to 500L).toDF("o_orderkey")
    val d2 = (10001L to 10500L).toDF("l_orderkey")
    val out2 = graft.operators.ScaleOps.joinEstimate(c, d2).head()
    assert(out2.getAs[Long]("exact_join_rows") == 0L)
    assert(out2.getAs[Boolean]("never_underestimates"))
    assert(out2.isNullAt(out2.fieldIndex("overshoot_bp")))
  }


  test("dedupEditDistance: planted 1..3-edit pairs verify; over-threshold and cross-block pairs do not") {
    val s = TestSpark.spark
    import s.implicits._
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the dog"),
      (2L, "en", "the quick brown fox jumps over the dogs"),   // 1 edit vs 1
      (3L, "en", "the quick brawn fox jumps over the dig"),    // 2 edits vs 1
      (4L, "en", "a completely different headline entirely"),  // far from all
      (5L, "de", "the quick brown fox jumps over the dog"),    // other lang block
      (6L, "en", "zz quick brown fox jumps over the dogx")     // prefix-block miss
    ).toDF("doc_id", "lang", "text")
    val pairs = graft.operators.Dedup.dedupEditDistance(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 1-2 (1 edit), 1-3 (2 edits), 2-3 (3 edits) inside the en block;
    // 4 too far; 5 blocks under de; 6 escapes via the 2-char prefix
    // (the documented recall bound of single-pass blocking)
    assert(pairs == Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 3L)),
      s"got $pairs")
    // dist-0 pairs always co-block: identical titles, any block key
    val twins = Seq((10L, "en", "same exact title here"),
      (11L, "en", "same exact title here")).toDF("doc_id", "lang", "text")
    val t2 = graft.operators.Dedup.dedupEditDistance(twins).collect()
    assert(t2.length == 1 && t2.head.getLong(2) == 0L)
  }

  test("joinEstimateStored: stored-sketch admission equals the in-query estimate; epoch slices merge to the whole-corpus sketch") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // skewed pair: key 7 exploded on both sides so the true join size
    // dominates collision noise (the regime where admission matters)
    val aKeys = ((1L to 50L) ++ Seq.fill(40)(7L)).map(_.toString)
    val bKeys = ((20L to 90L) ++ Seq.fill(60)(7L)).map(_.toString)
    val a = aKeys.toDF("k")
    val b = bKeys.toDF("k")
    val root = java.nio.file.Files.createTempDirectory("graft-jes").toString
    val dirA = ScaleOps.ensureCmSketch(a, s"$root/a", nEpochs = 3)
    val dirB = ScaleOps.ensureCmSketch(b, s"$root/b", nEpochs = 3)
    // epoch slices merge to EXACTLY the whole-corpus sketch (CM merge
    // is cell-wise sum over disjoint slices)
    val eq = (x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =>
      x.orderBy("row", "cell").collect().toSeq == y.orderBy("row", "cell").collect().toSeq
    assert(eq(ScaleOps.countMinMerged(s, dirA), ScaleOps.countMinTable(
      a.withColumnRenamed("k", "user_id"))))
    val r = ScaleOps.joinEstimateStored(s, dirA, dirB).head()
    assert(r.getLong(0) == aKeys.length && r.getLong(1) == bKeys.length,
      "row counts must come out of the sketches exactly")
    val exact = aKeys.groupBy(identity).map { case (k, v) =>
      v.size.toLong * bKeys.count(_ == k) }.sum
    assert(r.getLong(2) >= exact, "CM inner product must never underestimate")
    // stored estimate == in-query estimate: the sketches are identical
    val orders = a.select(col("k").cast("long").as("o_orderkey"))
    val line = b.select(col("k").cast("long").as("l_orderkey"))
    val inQuery = ScaleOps.joinEstimate(orders, line).head()
    assert(r.getLong(2) == inQuery.getAs[Long]("est_join_rows"))
    // audited stored face is column-identical to the in-query face
    val audited = ScaleOps.joinEstimateStoredAudited(orders, line, dirA, dirB)
    assert(audited.columns.toSeq == inQuery.schema.fieldNames.toSeq)
    assert(audited.head() == inQuery)
  }

  test("joinEstimate(+stored): key-disjoint inputs estimate 0, not NULL") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val orders = Seq(1L, 2L, 3L).toDF("o_orderkey")
    val line = Seq(100L, 200L).toDF("l_orderkey")
    val r = ScaleOps.joinEstimate(orders, line).head()
    assert(!r.isNullAt(r.fieldIndex("est_join_rows")))
    // disjoint keys CAN still collide in a cell, so the bound need not
    // be 0 — but it must exist, never underestimate (exact = 0), and
    // stay within the stated noise envelope
    assert(r.getAs[Long]("exact_join_rows") == 0L)
    assert(r.getAs[Boolean]("never_underestimates"))
    val root = java.nio.file.Files.createTempDirectory("graft-jd").toString
    val dirA = ScaleOps.ensureCmSketch(
      orders.select(col("o_orderkey").cast("string").as("k")), s"$root/a")
    val dirB = ScaleOps.ensureCmSketch(
      line.select(col("l_orderkey").cast("string").as("k")), s"$root/b")
    val st = ScaleOps.joinEstimateStored(s, dirA, dirB).head()
    assert(!st.isNullAt(st.fieldIndex("est_join_rows")))
    assert(st.getAs[Long]("est_join_rows") == r.getAs[Long]("est_join_rows"))
  }

  test("end-to-end lifecycle: STREAM-maintained CMS dirs answer joinEstimateStored identically to the in-query estimate") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ka = ((1L to 40L) ++ Seq.fill(25)(5L))
    val kb = ((10L to 70L) ++ Seq.fill(35)(5L))
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    def streamInto(keys: Seq[Long], dir: String): Unit = {
      val mem = MemoryStream[(Long, Long)]
      val q = ScaleOps.countMinStream(
        mem.toDF().toDF("event_id", "user_id"), dir)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-jes-chk").toString)
        .start()
      try {
        val (h1, h2) = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
          .splitAt(keys.size / 2)
        mem.addData(h1: _*); q.processAllAvailable()
        mem.addData(h2: _*); q.processAllAvailable()
      } finally q.stop()
    }
    val root = java.nio.file.Files.createTempDirectory("graft-jes-live").toString
    streamInto(ka, s"$root/a")
    streamInto(kb, s"$root/b")
    val stored = ScaleOps.joinEstimateStored(s, s"$root/a", s"$root/b").head()
    val inQuery = ScaleOps.joinEstimate(
      ka.toDF("o_orderkey"), kb.toDF("l_orderkey")).head()
    assert(stored.getAs[Long]("est_join_rows") ==
      inQuery.getAs[Long]("est_join_rows"),
      "live stream-built sketches answer admission identically")
    assert(stored.getAs[Long]("n_a") == ka.size.toLong &&
      stored.getAs[Long]("n_b") == kb.size.toLong)
  }

  test("joinAdmissionFace: three pairs from six maintained sketch dirs, each row certified; orderkey pair identical to the single-pair face") {
    import org.apache.spark.sql.functions._
    val s = spark
    val (o, l, c, p) = (Tables.orders(s, TestSpark.sf),
      Tables.lineitem(s, TestSpark.sf), Tables.customer(s, TestSpark.sf),
      Tables.part(s, TestSpark.sf))
    val rows = ScaleOps.joinAdmissionFace(o, l, c, p, TestSpark.sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("customer_orders", "orders_lineitem", "part_lineitem"))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("never_underestimates"), r.toString)
      assert(r.getAs[Long]("exact_join_rows") > 0L)
    }
    // FK-ness: both fact joins land exactly on |lineitem|, the
    // customer join on |orders| — the exact identity is corpus truth
    val nl = l.count(); val no = o.count()
    val byPair = rows.map(r => r.getString(0) -> r.getAs[Long]("exact_join_rows")).toMap
    assert(byPair("orders_lineitem") == nl && byPair("part_lineitem") == nl &&
      byPair("customer_orders") == no)
    // the orderkey pair reuses the same sketch dirs as the single-pair
    // face and answers identically
    val single = ScaleOps.joinEstimateStoredFace(o, l, TestSpark.sf).head()
    val pairRow = rows.find(_.getString(0) == "orders_lineitem").get
    assert(single.toSeq == pairRow.toSeq.drop(1))
  }

  test("hllDistinctStored: stored registers are identical to the whole-corpus table; stored report equals the in-query face") {
    import org.apache.spark.sql.functions._
    val s = spark
    val events = Tables.events(s, TestSpark.sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-hll-f").toString
    ScaleOps.ensureHllSketch(events, dir)
    val merged = ScaleOps.hllMerged(s, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = graft.operators.ScaleOps.hllTable(events)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == whole, "per-register max over hash slices == whole corpus")
    val stored = ScaleOps.hllDistinctStored(events, dir).collect().toSeq
    val direct = ScaleOps.hllDistinct(events).collect().toSeq
    assert(stored == direct)
  }

  test("countMinStored: stored-sketch point estimates are identical to the in-query face") {
    import org.apache.spark.sql.functions._
    val s = spark
    val events = Tables.events(s, TestSpark.sf)
    val keys = events.select(col("user_id").cast("string").as("k"))
      .filter(col("k").isNotNull)
    val dir = java.nio.file.Files.createTempDirectory("graft-cms-f").toString
    ScaleOps.ensureCmSketch(keys, dir)
    val stored = ScaleOps.countMinStored(events, dir).collect().toSeq
    val direct = ScaleOps.countMin(events).collect().toSeq
    assert(stored == direct, "CMS merge is cell-wise sum: stored == in-query")
    assert(stored.forall(_.getBoolean(3)), "never underestimates")
  }

  test("dedupEditDistanceMultipass: rotated pass 2 catches prefix-edit and band-edge pairs pass 1 misses, without double-reporting") {
    val s = spark
    import s.implicits._
    // band-edge pair: lengths 31/32 straddle the pass-1 band boundary
    // (31 div 8 = 3, 32 div 8 = 4) with identical prefix AND suffix —
    // pass 2's offset band ((len+4) div 8 = 4 for both) co-blocks them
    val edge1 = "aa" + "b" * 27 + "zz"
    val edge2 = "aa" + "b" * 28 + "zz"
    assert(edge1.length == 31 && edge2.length == 32)
    // prefix-edit pair: first char edited — pass 1's 2-char prefix
    // splits them; same length band + suffix co-blocks them in pass 2
    val pre1 = "cc" + "d" * 20 + "yy"
    val pre2 = "xc" + "d" * 20 + "yy"
    // DOUBLE-edit pair: chars 1 AND 40 both edited — the exact blind
    // spot the two-pass contract stated: prefix differs (pass 1
    // splits), suffix differs (pass 2 splits), but the fixed
    // mid-anchor chars 20-21 and the length band agree, so pass 3
    // co-blocks them
    val dbl1 = "ab" + "m" * 36 + "yz"
    val dbl2 = "Qb" + "m" * 36 + "yR"
    assert(dbl1.length == 40 && dbl2.length == 40)
    // in-block pair several passes surface (must appear exactly once)
    val docs = Seq(
      (1L, "en", edge1), (2L, "en", edge2),
      (3L, "en", pre1), (4L, "en", pre2),
      (5L, "en", "shared block title one here"),
      (6L, "en", "shared block title one herX"),
      (7L, "en", dbl1), (8L, "en", dbl2)
    ).toDF("doc_id", "lang", "text")
    val single = graft.operators.Dedup.dedupEditDistance(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val multi = graft.operators.Dedup.dedupEditDistanceMultipass(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // single-pass finds only the co-blocked pair
    assert(single == Seq((5L, 6L, 1L)), s"single=$single")
    // multipass adds the rotated-key and mid-anchor catches, each
    // reported ONCE
    assert(multi == Seq((1L, 2L, 1L), (3L, 4L, 1L), (5L, 6L, 1L),
      (7L, 8L, 2L)), s"multi=$multi")
    // multipass is a superset of single-pass on any corpus
    assert(single.toSet.subsetOf(multi.toSet))
  }

  test("sketch dir keys carry the slice count; fast admission face equals the audited face's estimates") {
    val s = spark
    import s.implicits._
    val k = (1L to 100L).map(_.toString).toDF("k")
    // nEpochs in the key: a torn 4-slice build (sentinel delta-b2
    // present) can never satisfy a 3-slice call's sentinel, because
    // the two calls resolve DIFFERENT dirs
    val d3 = ScaleOps.defaultCmSketchDir(k, "sfX", "t", nEpochs = 3)
    val d4 = ScaleOps.defaultCmSketchDir(k, "sfX", "t", nEpochs = 4)
    assert(d3 != d4 && d3.contains("-e3") && d4.contains("-e4"))
    // the production (sketch-only) admission face emits exactly the
    // audited gate face's estimate columns
    val sf = TestSpark.sf
    val (o, l) = (Tables.orders(s, sf), Tables.lineitem(s, sf))
    val (c, p) = (Tables.customer(s, sf), Tables.part(s, sf))
    val audited = ScaleOps.joinAdmissionFace(o, l, c, p, sf)
      .select("pair", "n_a", "n_b", "est_join_rows", "noise_budget")
      .collect().toSeq
    val fast = ScaleOps.joinAdmissionFastFace(o, l, c, p, sf).collect().toSeq
    assert(fast == audited, s"fast=$fast audited=$audited")
  }

  test("sketch-only join routing: broadcast/salt/shuffle verdicts from stored sketches alone") {
    val s = spark
    import s.implicits._
    def route(dirA: String, dirB: String, bmax: Long): String =
      ScaleOps.joinRouteFromSketches(s, dirA, dirB, bmax)
        .head().getAs[String]("route")
    val root = java.nio.file.Files.createTempDirectory("graft-route").toString
    // exploding pair: one hot key on both sides — certified join mass
    // (est - 3*noise) dwarfs 4*(n_a+n_b) -> salt
    val hot = Seq.fill(20000)("7").toDF("k")
    val dirH = ScaleOps.ensureCmSketch(hot, s"$root/h")
    assert(route(dirH, dirH, bmax = 100) == "salt")
    // FK-shaped pair: near-unique keys, noise-dominated bound -> the
    // sketches certify NO explosion -> shuffle
    val a = (1 to 5000).map(_.toString).toDF("k")
    val b = (2500 to 7500).map(_.toString).toDF("k")
    val dirA = ScaleOps.ensureCmSketch(a, s"$root/a")
    val dirB = ScaleOps.ensureCmSketch(b, s"$root/b")
    assert(route(dirA, dirB, bmax = 100) == "shuffle")
    // same pair under a larger broadcast budget: the smaller side
    // fits -> broadcast wins before any mass question is asked
    assert(route(dirA, dirB, bmax = 10000) == "broadcast")
  }
}

class SamplingSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("stratified sample hits per-stratum fractions, deterministically") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val fr = Map("en" -> 0.5, "de" -> 0.1, "fr" -> 0.0, "es" -> 1.0, "zh" -> 0.2)
    val s1 = graft.operators.ScaleOps.stratifiedSample(docs, fr).collect()
    val s2 = graft.operators.ScaleOps.stratifiedSample(docs, fr).collect()
    assert(s1.map(_.getLong(0)).toSeq == s2.map(_.getLong(0)).toSeq) // seeded → stable
    val byLang = s1.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(!byLang.contains("fr"))
    assert(byLang("es") == 80) // fraction 1.0 keeps all 80 es docs at sf0.001
    assert(byLang("en") > 50 && byLang("en") < 145) // ~50% of 193
  }

  test("hash split is stable, complete, and near the requested ratios") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf)
    val split = graft.operators.ScaleOps.hashSplit(docs)
    assert(split.count() == docs.count())
    val counts = split.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 350 && counts("val") > 20 && counts("test") > 20)
    // same doc always lands in the same split
    val again = graft.operators.ScaleOps.hashSplit(docs)
    assert(split.exceptAll(again).isEmpty)
  }
}

class StreamDedupSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("streaming dedup drops duplicate event_ids within the watermark") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "event_id")
    val q = graft.streaming.Streams.streamDedup(df, "10 minutes")
      .writeStream.format("memory").queryName("sdd").outputMode("append").start()
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      mem.addData((t, 1L), (t, 2L), (t, 1L)) // dup within batch
      q.processAllAvailable()
      mem.addData((java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 2L)) // dup across batches
      q.processAllAvailable()
      assert(spark.table("sdd").count() == 2)
    } finally q.stop()
  }
}

class DupClustersSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("min-label propagation finds connected components incl. long chains") {
    import spark.implicits._
    // components: {1,2,3}, {4,5}, and a chain 10-11-...-19 (tests iteration depth)
    val chain = (10L until 19L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (4L, 5L)) ++ chain).toDF("a_id", "b_id")
    val got = graft.operators.Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(4L) == 4L && got(5L) == 4L)
    (10L to 19L).foreach(i => assert(got(i) == 10L, s"node $i"))
  }

  test("pointer halving converges on a deep chain (diameter >> maxIter) " +
    "and checkpointDir truncates lineage") {
    import spark.implicits._
    // a 300-node path graph: plain label propagation needs 299 rounds,
    // far beyond maxIter=25 — only the O(log diameter) pointer-halving
    // hop can converge here (log2(300) ~ 9 rounds)
    val n = 300L
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val labels = graft.operators.Dedup.dupClusters(pairs, maxIter = 25,
      checkpointDir = Some(ckptDir))
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == n)
    (1L to n).foreach(i => assert(got(i) == 1L, s"node $i"))
    // reliable-checkpoint lineage truncation: the result's plan reads
    // the checkpointed RDD instead of carrying 9+ rounds of join trees
    val planNodes = labels.queryExecution.optimizedPlan.collect { case p => p }
    assert(planNodes.size <= 6, s"plan has ${planNodes.size} nodes — lineage not truncated?")
    assert(labels.queryExecution.optimizedPlan.find(
      _.getClass.getSimpleName == "LogicalRDD").isDefined, "expected a checkpointed RDD scan")
    // and the checkpoint actually landed in the reliable dir
    def anyFile(d: java.io.File): Boolean =
      d.isFile || Option(d.listFiles).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(ckptDir)), "checkpoint dir is empty")
  }

  test("cluster summary keeps one representative per near-dup group") {
    import org.apache.spark.sql.functions._
    val clusters = graft.operators.Dedup.dedupClusters(Tables.documents(spark, TestSpark.sf))
    val rows = clusters.collect()
    assert(rows.nonEmpty) // the corpus has planted dups
    assert(rows.forall(r => r.getLong(1) >= 2)) // clusters are real groups
    assert(rows.forall(r => r.getLong(0) == r.getLong(2))) // keep = min = cluster id
  }
}

class DupClustersRandomSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("random graphs match a union-find reference (seeded)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 3) {
      val n = 30 + rnd.nextInt(40)
      val edges = (1 to 60)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      // union-find reference, always attaching the larger root under
      // the smaller so each root IS its component's min id
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(i => i -> find(i.toInt).toLong).toMap
      val got = graft.operators.Dedup.dupClusters(edges.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial (n=$n, ${edges.size} edges)")
    }
  }
}

class SortedIntersectRandomSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("sortedIntersect equals Set-intersection size on 200 random pairs (seeded)") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(59)
    val rows = (1 to 200).map { i =>
      val a = (1 to rnd.nextInt(30)).map(_ => rnd.nextInt(40).toLong)
        .distinct.sorted.toArray
      val b = (1 to rnd.nextInt(30)).map(_ => rnd.nextInt(40).toLong)
        .distinct.sorted.toArray
      (i.toLong, a, b, (a.toSet & b.toSet).size.toLong)
    }
    val got = rows.toDF("id", "a", "b", "want")
      .select(col("id"), graft.functions.F.sortedIntersect(col("a"), col("b")).as("got"),
        col("want"))
      .collect()
    got.foreach(r => assert(r.getInt(1).toLong == r.getLong(2),
      s"row ${r.getLong(0)}: got ${r.getInt(1)} want ${r.getLong(2)}"))
  }
}

class BlockCapSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("oversized blocks band within the block instead of all pairs; recall preserved") {
    import spark.implicits._
    import graft.operators.Dedup
    // one hot block: 60 docs share (lang, source, len_bucket), mutually
    // dissimilar except a planted near-dup (19/20 shared tokens)
    val base = (0 until 60).map { i =>
      val toks = (0 until 20).map(t => s"w${i}x$t").mkString(" ")
      (i.toLong, "en", "web", 150L, toks)
    }
    val dupText = base(7)._5.split(" ").dropRight(1).mkString(" ") + " extra"
    val docs = (base.updated(8, (8L, "en", "web", 150L, dupText)) ++
      Seq((100L, "de", "web", 150L, "kleine block eins"),
          (101L, "de", "web", 150L, "kleine block zwei")))
      .toDF("doc_id", "lang", "source", "n_chars", "text")
    val uncapped = Dedup.blockedCandidates(docs, Int.MaxValue, 128, 32)._2.count()
    val capped = Dedup.blockedCandidates(docs, 10, 128, 32)._2.count()
    assert(uncapped >= 60L * 59 / 2, s"uncapped should be quadratic, got $uncapped")
    assert(capped < 60, s"capped candidates should be band-bounded, got $capped")
    // the planted high-jaccard pair survives the cap, and the final
    // output matches the exact all-pairs result on this corpus
    val exact = Dedup.dedupNgramJaccardBlocked(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val bounded = Dedup.dedupNgramJaccardBlocked(docs, maxBlockSize = 10)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact == Set((7L, 8L)))
    assert(bounded == exact)
  }
}

class MinhashFastPathSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("hashed-shingle fast path finds the same verified pairs as the string path") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf)
    val slow = graft.operators.Dedup.dedupMinhashLsh(docs)
      .select(col("a_id"), col("b_id"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val fast = graft.operators.Dedup.dedupMinhashLshFast(docs)
      .select(col("a_id"), col("b_id"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical hash-free verify semantics → identical pair sets and
    // identical exact-jaccard values (both are checked against the same
    // DuckDB all-pairs oracle by the driver)
    assert(slow.keySet == fast.keySet)
    val disagree = slow.keys.filter(k => math.abs(slow(k) - fast(k)) > 1e-9)
    assert(disagree.isEmpty, s"jaccard mismatch on: ${disagree.take(10)}")
  }
}

class NgramJaccardBandingSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("banded candidate stage recovers (nearly) all pairs the exact blocked scan finds") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.sf)
    val banded = graft.operators.Dedup.dedupNgramJaccard(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = graft.operators.Dedup.dedupNgramJaccardBlocked(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // blocked only compares within (lang,source,len) so banded may find MORE;
    // of the blocked pairs, banding must recover nearly all (LSH recall)
    val missed = blocked.diff(banded)
    assert(missed.size <= math.max(1, blocked.size / 20), s"missed: $missed")
    assert(banded.nonEmpty)
  }
}

class ComposedJaccardSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("block-then-band candidates are a subset of blocked pairs with near-full recall") {
    val spark = TestSpark.spark
    val docs = Tables.documents(spark, TestSpark.sf)
    val composed = graft.operators.Dedup.dedupNgramJaccardComposed(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blockedAll = graft.operators.Dedup.dedupNgramJaccardBlocked(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // composed verifies the same threshold inside (lang,source) blocks
    // (len-bucket relaxed), so blocked-with-len pairs should be found
    val missed = blockedAll.diff(composed)
    assert(missed.size <= math.max(1, blockedAll.size / 20), s"missed ${missed.size} of ${blockedAll.size}")
  }
}

class PiiRedactSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("pii redaction masks emails, urls and phone numbers on spiked data") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "contact me at jane.doe@example.com please"),
      (2L, "see https://example.com/page?q=1 for details"),
      (3L, "call +1 (555) 123-4567 now"),
      (4L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.piiRedact(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> true, 4L -> false))
  }

  test("exact-span dedup flags shared k-token spans, not unique text") {
    val spark = TestSpark.spark
    import spark.implicits._
    val boiler = "one two three four five six seven eight nine ten" // one 10-token span
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma"),   // shares the boilerplate span with doc 2
      (2L, s"$boiler delta epsilon zeta"),
      (3L, "completely different words with no overlap across anything here"),
      (4L, "short doc")).toDF("doc_id", "text") // < k tokens: whole text is the span
    val out = graft.operators.TextOps.spanDedup(docs, k = 10).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // docs 1/2: 4 spans each (13 tokens), exactly one shared (the pure
    // boilerplate window); sliding windows that mix boilerplate with
    // doc-specific tail tokens differ between the docs
    assert(out(1L) == ((4L, 1L, 0.25)) && out(2L) == ((4L, 1L, 0.25)))
    assert(out(3L) == ((1L, 0L, 0.0)))
    assert(out(4L) == ((1L, 0L, 0.0)))
  }

  test("span removal rewrites docs cutting cross-doc spans, with interval union") {
    val spark = TestSpark.spark
    import spark.implicits._
    val boiler = "one two three four five six seven eight nine ten" // one 10-token span
    val run11 = (1 to 11).map(i => s"s$i").mkString(" ") // 11 shared tokens -> 2 overlapping dup spans
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma"),
      (2L, s"$boiler delta epsilon zeta"),
      (3L, "completely different words with no overlap across anything here"),
      (4L, "short doc"), // < k: whole-doc span, duplicated with doc 5
      (5L, "short doc"), //   -> both fully removed
      (6L, s"$run11 tailsixa tailsixb"), // dup starts {0,1}; union covers 0..10, NOT 2x10
      (7L, s"$run11 tailseven")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.spanRemoval(docs, k = 10).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getString(5)))).toMap
    assert(out(1L) == ((13L, 3L, 1L, 0.7692, "alpha beta gamma")))
    assert(out(2L) == ((13L, 3L, 1L, 0.7692, "delta epsilon zeta")))
    // 9 tokens < k: the whole-doc span is unique, nothing removed
    assert(out(3L) == ((9L, 9L, 0L, 0.0,
      "completely different words with no overlap across anything here")))
    assert(out(4L) == ((2L, 0L, 1L, 1.0, "")))
    assert(out(5L) == ((2L, 0L, 1L, 1.0, "")))
    // overlapping spans at 0 and 1 cover tokens 0..10 exactly once:
    // kept = the 2-token tail, removed fraction 11/13
    assert(out(6L) == ((13L, 2L, 2L, 0.8462, "tailsixa tailsixb")))
    assert(out(7L) == ((12L, 1L, 2L, 0.9167, "tailseven")))
  }

  test("sequence packing is greedy within a shard and pack-complete") {
    val spark = TestSpark.spark
    import spark.implicits._
    // one shard (ids all ≡ 0 mod 8), budget 10 tokens: docs of 4, 4,
    // 3, 11, 2 tokens → greedy packs [4+4+3=11 fires], [11 fires
    // alone], [2 tail]
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(0L -> words(4), 8L -> words(4), 16L -> words(3),
      24L -> words(11), 32L -> words(2)).toDF("doc_id", "text")
    val out = graft.operators.TextOps.packSequences(docs, budgetTokens = 10, shards = 8)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(0L -> ((3L, 11L)), 1L -> ((1L, 11L)), 2L -> ((1L, 2L))))
    // every doc lands in exactly one pack
    assert(out.values.map(_._1).sum == 5L)
  }

  test("split packing chunks oversized docs so no pack is dominated by one doc") {
    val spark = TestSpark.spark
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // one shard; budget 10: the 27-token doc splits into 10+10+7, so
    // packs close at exactly 10 until the tail
    val docs = Seq(0L -> words(4), 8L -> words(27), 16L -> words(5))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.packSequencesSplit(docs, budgetTokens = 10, shards = 8)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    // greedy over chunks [4, 10, 10, 7, 5]: [4+10=14 fires][10 fires][7+5=12 tail]
    assert(out == Map(0L -> ((2L, 14L)), 1L -> ((1L, 10L)), 2L -> ((2L, 12L))))
    // chunk conservation: total packed tokens == total corpus tokens
    assert(out.values.map(_._2).sum == 36L)
  }

  test("decontamination flags train docs sharing a 13-gram with the benchmark set") {
    val spark = TestSpark.spark
    import spark.implicits._
    val bench13 = (1 to 13).map(i => s"b$i").mkString(" ") // exactly one 13-token span
    val docs = Seq(
      (0L, bench13),                                   // benchmark doc (0 % 97 == 0)
      (1L, s"intro words here $bench13 trailing tail"), // contaminated
      (2L, "totally clean document with its own distinct long text body")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.decontaminate(docs, k = 13, benchMod = 97)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!out.contains(0L)) // benchmark docs excluded from the output
    assert(out(1L)._2 == 1L)  // exactly the one pure benchmark window matches
    assert(out(2L) == ((1L, 0L))) // < 13 tokens → whole-text span, clean
    // broadcast side: the plan must not shuffle the benchmark join
    val plan = graft.operators.TextOps.decontaminate(docs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("assembly pipeline composes decontaminate, dedup, quality gate and packing") {
    val spark = TestSpark.spark
    import spark.implicits._
    val bench13 = (1 to 13).map(i => s"b$i").mkString(" ")
    val good = "the cat sat on the mat and the dog is in the house of a friend " * 4
    val docs = Seq(
      (0L, bench13),                     // benchmark doc (0 % 97 == 0): excluded
      (8L, s"prefix words $bench13 tail"), // contaminated: dropped
      (16L, good),                       // kept
      (24L, good),                       // exact duplicate: dropped
      (32L, "!!! ??? ;;; ,,,"),          // junk: quality-gated
      (40L, good + "extra unique tail")) // kept
      .toDF("doc_id", "text")
    val packs = graft.operators.TextOps
      .assemblyPipeline(docs, budgetTokens = 1024, shards = 8)
      .collect()
    // survivors 16 and 40 hash to shard 0, pack together under budget
    assert(packs.length == 1)
    val row = packs.head
    assert(row.getLong(0) == 0L && row.getLong(1) == 0L && row.getLong(2) == 2L)
  }

  test("unigram logprob ranks rare-token docs above fluent ones") {
    val spark = TestSpark.spark
    import spark.implicits._
    val common = "the cat sat on the mat"
    val docs = Seq(
      (1L, s"$common $common $common"),      // all high-frequency tokens
      (2L, s"$common zxqv9 wmbbt7 kjprr2")) // three singletons mixed in
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.textUnigramLp(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(2L) > out(1L))
    // closed form for doc 1: every token appears 3x (or 6x for 'the')
    // in a 24-token corpus — all probabilities > 1/24, so the mean
    // -ln p sits below ln(24)
    assert(out(1L) < math.log(24.0))
  }

  test("tfidf ranks distinctive terms first and zeroes ubiquitous ones") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry cherry"),
      (3L, "apple banana cherry")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.textTfidf(docs, topK = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getDouble(5))).toMap
    // df: apple 2, banana 3 (=N, idf 0), cherry 2; ln(3/2)=0.4055
    assert(out((1L, 1)) == (("apple", 0.8109)))
    assert(out((1L, 2)) == (("banana", 0.0)))
    assert(out((2L, 1)) == (("cherry", 0.8109)))
    // doc 3: apple and cherry tie at 0.4055 — term-string tiebreak
    assert(out((3L, 1)) == (("apple", 0.4055)))
    assert(out((3L, 2)) == (("cherry", 0.4055)))
    assert(out((3L, 3)) == (("banana", 0.0)))
  }

  test("bm25 ranks by tf, demotes long docs, and omits docs without query terms") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "w w x"),          // tf_w=2, dl=3
      (2L, "w x y"),          // tf_w=1, dl=3
      (3L, "w x y z a b"),    // tf_w=1, dl=6 (length-normalized below doc 2)
      (4L, "q r s")).toDF("doc_id", "text") // no query term -> absent
    // query = single most frequent term: df w=3 x=3, 'w' wins the
    // (df desc, term asc) tiebreak
    val out = graft.operators.TextOps.textBm25(docs, k = 5,
      nQueries = 1, termsPerQuery = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._3).toSeq == Seq(1L, 2L, 3L),
      s"expect tf then length normalization to order docs 1,2,3: ${out.toSeq}")
    assert(out.forall(_._1 == 0L) && out.map(_._2).toSeq == Seq(1L, 2L, 3L))
    val scores = out.map(_._4).toSeq
    assert(scores == scores.sorted.reverse && scores.distinct == scores,
      s"scores must strictly decrease: $scores")
    assert(scores.forall(_ > 0L))
  }

  test("bigram LM scores held-out docs, backing off on unseen bigrams") {
    val spark = TestSpark.spark
    import spark.implicits._
    // train: docs 1, 2 (doc_id % 10 != 0); held out: doc 10
    val docs = Seq(
      (1L, "a b c"),
      (2L, "a b d"),
      (10L, "a b x")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.textBigramLp(docs).collect()
    assert(out.length == 1 && out.head.getLong(0) == 10L)
    // (a,b) seen: -ln(C(a,b)/C(a)) = -ln(2/2) = 0
    // (b,x) unseen, x unseen: -ln(0.4*(0+1)/(N=6 + V=4)) = -ln(0.04)
    val expect = BigDecimal((0.0 - math.log(0.04)) / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head.getLong(1) == 2L)
    assert(out.head.getDouble(2) == expect)
    assert(out.head.getDouble(3) == 0.5) // one of two bigrams seen
  }

  test("temperature mixing keeps the smallest domain whole and downsamples the big one") {
    val spark = TestSpark.spark
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = ((1 to 100).map(i => (i.toLong, words(10), "big")) ++
      (101 to 105).map(i => (i.toLong, words(10), "small")))
      .toDF("doc_id", "text", "source")
    val mixed = graft.operators.TextOps.mixDomains(docs)
    val out = mixed.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(4), r.getDouble(5))).toMap
    // small domain: max rate by construction → keeps everything
    assert(out("small") == ((5L, 5L, 50L, 1.0)))
    // big domain: rate = (50/1000)^0.3 ≈ 0.4071 — downsampled, not emptied
    val (nBig, keptBig, keptTokBig, rateBig) = out("big")
    assert(nBig == 100L && rateBig == 0.4071)
    assert(keptBig > 0L && keptBig < 100L && keptTokBig == keptBig * 10)
    // the rates table joins as a broadcast — the corpus side must not shuffle
    val plan = mixed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("langid confusion matrix rows sum to their gold totals") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat is in the house", "en"),   // scores en
      (2L, "der hund ist ein freund", "de"),   // scores de
      (3L, "quick brown fox jumps", "de"))     // no stopword hits → en wins ties
      .toDF("doc_id", "text", "lang")
    val out = graft.operators.TextOps.langidConfusion(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("en", "en")) == ((1L, 1.0)))
    assert(out(("de", "de")) == ((1L, 0.5)))
    assert(out(("de", "en")) == ((1L, 0.5)))
  }

  test("shuffle order is a permutation: contiguous positions per shard, every doc placed") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val rows = graft.operators.TextOps.shuffleOrder(docs, nShards = 4).collect()
    assert(rows.map(_.getLong(0)).toSet == (1L to 200L).toSet)
    val byShard = rows.groupBy(_.getInt(1))
    byShard.foreach { case (_, rs) =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length)) // dense ranks
    }
    assert(byShard.keySet.subsetOf((0 to 3).toSet))
    // deterministic: a second run yields the identical assignment
    val again = graft.operators.TextOps.shuffleOrder(docs, nShards = 4).collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet ==
      again.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet)
  }

  test("embedding diversity prefers the spread corpus over the collapsed one") {
    val spark = TestSpark.spark
    import spark.implicits._
    // collapsed: every vector identical → all pairwise cosines 1.0
    val collapsed = (1L to 40L).map(i => (i, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val c = graft.operators.Ann.embeddingDiversity(collapsed, sampleSize = 16).collect().head
    assert(c.getLong(0) == 120L) // C(16,2)
    assert(c.getDouble(1) == 1.0 && c.getDouble(2) == 1.0)
    // spread: orthogonal axes → off-axis pairs cosine 0
    val spread = (1L to 40L).map(i =>
      (i, Array.tabulate(4)(j => if (j == (i % 4).toInt) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val s = graft.operators.Ann.embeddingDiversity(spread, sampleSize = 16).collect().head
    assert(s.getDouble(1) < c.getDouble(1)) // mean pairwise cosine drops
    assert(s.getDouble(2) == 0.0)           // orthogonal pairs exist
  }

  test("PQ ADC ranking separates far clusters and orders by rounded distance") {
    val spark = TestSpark.spark
    import spark.implicits._
    // two far groups in different subspaces: A peaks at dim 0, B at
    // dim 32 (subspaces 0 and 2 of m=4), small within-group jitter
    def vec(peak: Int, jitter: Float): Array[Float] =
      Array.tabulate(64)(d => (if (d == peak) 1.0f else 0.0f) +
        (if (d == peak + 5) jitter else 0.0f))
    val rows = (1L to 20L).map(i => (i, vec(0, (i % 3) * 0.01f))) ++
      (21L to 40L).map(i => (i, vec(32, (i % 3) * 0.01f)))
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.operators.Ann.annPq(emb, k = 5, stride = 20).collect()
    // queries: 20 (group A) and 40 (group B)
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(20L, 40L))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to 5L)) // dense ranks
      assert(!rs.map(_.getLong(1)).contains(q))               // self excluded
      val adcs = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(adcs.toSeq == adcs.sorted.toSeq)                 // ascending ADC
      val expectGroup = if (q == 20L) (1L to 19L) else (21L to 39L)
      assert(rs.map(_.getLong(1)).forall(expectGroup.contains(_)),
        s"query $q retrieved cross-cluster: ${rs.map(_.getLong(1)).toSeq}")
    }
  }

  test("IVF-PQ composition prunes to probed lists and keeps cluster purity") {
    val spark = TestSpark.spark
    import spark.implicits._
    def vec(peak: Int, jitter: Float): Array[Float] =
      Array.tabulate(64)(d => (if (d == peak) 1.0f else 0.0f) +
        (if (d == peak + 5) jitter else 0.0f))
    val rows = (1L to 20L).map(i => (i, vec(0, (i % 3) * 0.01f))) ++
      (21L to 40L).map(i => (i, vec(32, (i % 3) * 0.01f)))
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.operators.Ann.annIvfPq(emb, k = 5, stride = 20).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(20L, 40L))
    byQ.foreach { case (q, rs) =>
      assert(rs.nonEmpty && rs.length <= 5)
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to rs.length)) // dense ranks
      assert(!rs.map(_.getLong(1)).contains(q))
      val expectGroup = if (q == 20L) (1L to 19L) else (21L to 39L)
      assert(rs.map(_.getLong(1)).forall(expectGroup.contains(_)),
        s"query $q retrieved cross-cluster: ${rs.map(_.getLong(1)).toSeq}")
    }
  }

  test("logistic quality scoring separates fluent text from junk") {
    val spark = TestSpark.spark
    import spark.implicits._
    val fluent = "the cat sat on the mat and the dog is in the house of a friend " * 4
    val docs = Seq((1L, fluent), (2L, "!!! ??? ;;; ,,,")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.textQualityLr(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(out(1L)._2 && !out(2L)._2)        // keep fluent, drop junk
    assert(out(1L)._1 > 0.5 && out(2L)._1 < 0.5)
    // sigmoid stays in (0, 1)
    out.values.foreach { case (p, _) => assert(p > 0.0 && p < 1.0) }
  }

  test("PQ reconstructs codebook members exactly: their ADC is the true rounded distance") {
    val spark = TestSpark.spark
    import spark.implicits._
    // random corpus (seeded): no planted structure, so this checks the
    // arithmetic contract rather than cluster separation
    val rnd = new scala.util.Random(42)
    val rows = (1L to 50L).map(i => (i, Array.fill(64)(rnd.nextFloat())))
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.operators.Ann.annPq(emb, k = 10, stride = 25).collect()
    // codebook = the 16 vectors with smallest md5(vec_id||":pq") (hex
    // string order == numeric order of the 60-bit prefix)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    val cbIds = rows.map(_._1).sortBy(i => (md5hex(s"$i:pq"), i)).take(16).toSet
    val vecs = rows.toMap
    def trueAdc(q: Long, v: Long): Double = {
      val (qv, vv) = (vecs(q), vecs(v))
      val subSums = (0 until 4).map { j =>
        val d = (0 until 16).map { t =>
          val diff = qv(j * 16 + t).toDouble - vv(j * 16 + t).toDouble
          diff * diff
        }.sum
        BigDecimal(d + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.sum
      BigDecimal(subSums + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val cbRows = out.filter(r => cbIds.contains(r.getLong(1)))
    assert(cbRows.nonEmpty) // with 16 of 50 in the codebook, some rank in top-10
    cbRows.foreach { r =>
      assert(r.getDouble(2) == trueAdc(r.getLong(0), r.getLong(1)),
        s"codebook member ${r.getLong(1)} not reconstructed exactly for query ${r.getLong(0)}")
    }
    out.foreach(r => assert(r.getDouble(2) >= 0.0))
  }

  test("domain budget fill keeps docs greedily until the budget crossing") {
    val spark = TestSpark.spark
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // one domain of 5x10-token docs against a 25-token budget: greedy
    // md5-order fill keeps docs while preceding cum < 25 -> exactly 3
    // kept (10+10 then the crossing doc lands), regardless of order
    val docs = (1L to 5L).map(i => (i, words(10), "only")).toDF("doc_id", "text", "source")
    val out = graft.operators.TextOps.budgetDomains(docs, budgetTokens = 25).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "only" && r.getLong(1) == 5L)
    assert(r.getLong(2) == 3L && r.getLong(4) == 30L)   // 3 docs, 30 tokens kept
    assert(r.getLong(3) == 50L)                          // corpus total
    assert(r.getDouble(5) == 1.2)                        // 30/25
    // a domain smaller than its budget keeps everything
    val tiny = Seq((1L, words(4), "small")).toDF("doc_id", "text", "source")
    val t = graft.operators.TextOps.budgetDomains(tiny, budgetTokens = 100).collect().head
    assert(t.getLong(2) == 1L && t.getLong(4) == 4L)
  }

  test("repetition signals spot a degenerate document") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam"),
      (2L, "all tokens here are unique")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.textRepetition(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L)._1 == 0.2 && out(1L)._2 == 1.0)   // 1 distinct of 5; top = all
    assert(out(2L)._1 == 1.0 && out(2L)._2 == 0.2)   // all distinct; top = 1/5
  }
}

class PartitionLayoutSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("month-partitioned layout prunes non-matching partitions at planning time") {
    import scala.jdk.CollectionConverters._
    val dir = graft.operators.ScaleOps.writePartitionedLayout(spark, TestSpark.sf)
    val allMonths = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString)
      .count(_.startsWith("o_month="))
    assert(allMonths > 12, s"expected multi-year layout, got $allMonths partitions")

    // AQE wraps the tree in query stages; disable it so the scan node
    // is directly collectable for the pruning assertion
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.ScaleOps.partitionPrunedScan(spark, dir, "1995-01", "1995-03")
      val rows = df.collect()
      assert(rows.length == 3)
      val p = df.queryExecution.executedPlan.toString
      // the month predicate must be a PartitionFilter (directory
      // pruning), not a post-scan Filter over all partitions
      assert(p.contains("PartitionFilters") && p.contains("o_month"), p.take(500))
      val scan = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      val filesRead = scan.metrics("numFiles").value
      assert(filesRead > 0 && filesRead < allMonths,
        s"read $filesRead files out of $allMonths partitions — no pruning?")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("partition-pruned scan equals the direct filtered aggregate") {
    import org.apache.spark.sql.functions._
    val dir = graft.operators.ScaleOps.writePartitionedLayout(spark, TestSpark.sf)
    val direct = graft.Tables.orders(spark, TestSpark.sf)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(col("o_month") >= "1995-01" && col("o_month") <= "1995-12")
      .groupBy(col("o_month"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy(col("o_month")).collect().toSeq
    val pruned = graft.operators.ScaleOps.partitionPrunedScan(spark, dir).collect().toSeq
    assert(pruned == direct)
  }
}

class DynamicPruningSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("joining a filtered dim against the partitioned layout triggers dynamic partition pruning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = graft.operators.ScaleOps.writePartitionedLayout(spark, TestSpark.sf)
    val facts = spark.read.parquet(dir)
    // dim must be a real (file-backed) relation with a residual filter:
    // the partition set is only known at RUNTIME, after the dim scan
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    Seq(("1995-02", "febr"), ("1995-07", "july"), ("1996-03", "skip"))
      .toDF("o_month", "label").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("label") =!= "skip")
    val joined = facts.join(dim, Seq("o_month"))
      .groupBy(col("o_month")).agg(count(lit(1)).as("n"))
    val rows = joined.collect()
    assert(rows.length == 2)
    val p = joined.queryExecution.executedPlan.toString.toLowerCase
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n${p.take(800)}")
  }
}

class ZorderLayoutSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("zorder2 interleaves bits correctly") {
    import graft.functions.HashImpls
    assert(HashImpls.zorder2(0L, 0L, 16) == 0L)
    assert(HashImpls.zorder2(1L, 0L, 16) == 1L)   // a -> even bits
    assert(HashImpls.zorder2(0L, 1L, 16) == 2L)   // b -> odd bits
    assert(HashImpls.zorder2(3L, 3L, 16) == 15L)  // 0b1111
    assert(HashImpls.zorder2(0xffffL, 0L, 16) == 0x55555555L)
  }

  test("z-ordered files are range-bounded in BOTH dimensions") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val dir = graft.operators.ScaleOps.writeZorderLayout(spark, TestSpark.sf)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(files.size >= 4, s"expected multiple files, got ${files.size}")
    def spans(path: String): (Long, Long, Long, Long) = {
      val day = datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).cast("long")
      val r = spark.read.parquet(path)
        .agg(min("o_custkey"), max("o_custkey"), min(day), max(day)).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val (c0, c1, d0, d1) = spans(dir)
    val custSpan = (c1 - c0).toDouble
    val dateSpan = (d1 - d0).toDouble
    // area covered by each file, as a fraction of the whole domain:
    // a z-ordered split into n files covers ~1/n of the 2-D area per
    // file; a 1-D sort would cover ~1/n x FULL-OTHER-DIMENSION instead
    val areas = files.map { f =>
      val (fc0, fc1, fd0, fd1) = spans(f)
      val ca = (fc1 - fc0).toDouble / custSpan
      val da = (fd1 - fd0).toDouble / dateSpan
      (ca * da, ca, da)
    }
    val meanArea = areas.map(_._1).sum / areas.size
    assert(meanArea < 0.5, s"files not 2-D bounded: mean area $meanArea, areas=$areas")
    // and no dimension is systematically full-range across all files
    assert(areas.exists(_._2 < 0.9) && areas.exists(_._3 < 0.9),
      s"one dimension unbounded everywhere: $areas")
  }
}

class BpeSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("BPE training learns the classic merges with deterministic tie-breaks") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "low low low low low lower lower newest newest"),
      (2L, "newest newest newest newest widest widest widest aaaa"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.tokenizerBpe(docs, merges = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    // hand-derived: (e,s)=9 ties (s,t)=9, lex picks (e,s); after the
    // est cascade, (l,o)/(lo,w)=7 from low*5+lower*2; round 5 is a
    // three-way 6-6-6 tie between (e,w),(n,e),(w,est) -> lex (e,w)
    assert(out.toSeq == Seq(
      (1, "e", "s", "es", 9L, 11L),
      (2, "es", "t", "est", 9L, 10L),
      (3, "l", "o", "lo", 7L, 9L),
      (4, "lo", "w", "low", 7L, 9L),
      (5, "e", "w", "ew", 6L, 10L)))
  }

  test("BPE pair counts include overlaps but apply is greedy left-to-right") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.tokenizerBpe(docs, merges = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    // (a,a) counts all 3 adjacencies per word (x2 words = 6), but the
    // greedy apply rewrites each aaaa to [aa,aa]; round 2 then merges
    // (aa,aa) with count 2, leaving one symbol in use
    assert(out.toSeq == Seq(
      (1, "a", "a", "aa", 6L, 1L),
      (2, "aa", "aa", "aaaa", 2L, 1L)))
  }
}

class BpeApplySpec extends org.scalatest.funsuite.AnyFunSuite {
  test("BPE apply segments docs under the trained vocab and counts subtokens") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "low low low low low lower lower newest newest"),
      (2L, "newest newest newest newest widest widest widest aaaa"))
      .toDF("doc_id", "text")
    // after the 5 hand-verified merges (es, est, lo, low, ew):
    //   low -> [low] (1), lower -> [low,e,r] (3), newest -> [n,ew,est] (3),
    //   widest -> [w,i,d,est] (4), aaaa -> [a,a,a,a] (4, untouched)
    val out = graft.operators.TextOps.tokenizerApply(docs, merges = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1: 5 low(1) + 2 lower(3) + 2 newest(3) = 9 words, 5+6+6 = 17
    assert(out(1L) == ((9L, 17L, 1.8889)))
    // doc 2: 4 newest(3) + 3 widest(4) + 1 aaaa(4) = 8 words, 12+12+4 = 28
    assert(out(2L) == ((8L, 28L, 3.5)))
  }
}

class IncrementalDedupSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("incremental dedup drops new docs already in the corpus, keeps batch-internal dups") {
    val spark = TestSpark.spark
    import spark.implicits._
    val boiler = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (1 to 30).map(i => s"z$i").mkString(" ")
    // batch = ids % 10 == 0; corpus = the rest
    val docs = Seq(
      (3L, boiler),                 // standing corpus
      (7L, (1 to 30).map(i => s"q$i").mkString(" ")),
      (10L, s"$boiler tail"),       // new, near-dup of corpus doc 3 -> dropped
      (20L, other),                 // new, identical to doc 30 but BOTH new -> kept
      (30L, other),                 //   (batch-internal dups are the batch pass's job)
      (40L, (1 to 30).map(i => s"u$i").mkString(" ")) // new, unique -> kept
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dedupIncremental(docs).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), r.getBoolean(3)))).toMap
    assert(out.keySet == Set(10L, 20L, 30L, 40L))
    assert(out(10L)._1.contains(3L) && !out(10L)._2)
    assert(out(20L) == ((None, true)) && out(30L) == ((None, true)))
    assert(out(40L) == ((None, true)))
  }

  test("threshold curve buckets planted pairs at their exact jaccard deciles") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = (1 to 20).map(i => s"t$i")
    val a = t.mkString(" ")                                  // 18 shingles
    val c = (t.take(14) ++ (1 to 6).map(i => s"u$i")).mkString(" ") // 12 shared -> j 0.5
    val d = (t.take(18) ++ Seq("v1", "v2")).mkString(" ")    // 16 shared -> j 0.8
    val docs = Seq((1L, a), (2L, a), (3L, c), (4L, d)).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dedupThresholdCurve(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // pairs: (1,2) j=1 -> 9000; (1,4),(2,4) j=.8 -> 8000;
    // (1,3),(2,3),(3,4) j=.5 -> 5000
    assert(out == Seq((5000L, 3L), (8000L, 2L), (9000L, 1L)), s"$out")
  }

  test("cross-corpus audit flags held-out docs near-duplicated in training data") {
    val spark = TestSpark.spark
    import spark.implicits._
    val leak = (1 to 30).map(i => s"w$i").mkString(" ")
    // held-out = ids % 7 == 3; train = the rest
    val docs = Seq(
      (1L, leak),                                       // train (the leaked source)
      (2L, (1 to 30).map(i => s"q$i").mkString(" ")),   // train, unrelated
      (3L, s"$leak extra"),                             // held-out, near-dup of train 1
      (10L, (1 to 30).map(i => s"u$i").mkString(" "))   // held-out, clean
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dedupCrossCorpus(docs).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), r.getBoolean(3)))).toMap
    assert(out.keySet == Set(3L, 10L))
    assert(out(3L)._1.contains(1L) && out(3L)._2, s"leak not flagged: $out")
    assert(out(10L) == ((None, false)))
  }
}

class SketchRandomSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("histogram quantiles bracket the true order statistic on random data") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    for (_ <- 0 until 3) {
      val prices = (0 until 500).map(_ => rnd.nextInt(400000) / 100.0 + 10.0)
      val out = ScaleOps.histQuantiles(prices.map(Tuple1(_)).toDF("o_totalprice"),
        widthCents = 50000L).collect()
      val sorted = prices.map(p => math.round(p * 100)).sorted
      out.foreach { r =>
        val (rank, lo, hi, exact, ok) =
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))
        assert(exact == sorted((rank - 1).toInt),
          s"exact_cents must be the rank-th smallest: $r")
        assert(ok && exact >= lo && exact < hi, s"estimate bucket must bracket it: $r")
      }
    }
  }

  test("skew report matches a naive recompute on random key distributions") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for (_ <- 0 until 3) {
      // zipf-ish: key k drawn with weight ~ 1/(k+1)
      val keys = (0 until 400).map { _ =>
        val r = rnd.nextDouble(); (10.0 / (r * 9.0 + 1.0)).toLong % 30
      }
      val df = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("event_id", "user_id")
      val r = ScaleOps.skewReport(df).head()
      val counts = keys.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      val n = keys.length.toLong
      val byCnt = counts.toSeq.sortBy { case (k, c) => (c, k) }.map(_._2)
      def rk(q: Long) = byCnt(((q * counts.size + 99) / 100 - 1).toInt)
      val top10 = counts.values.toSeq.sorted.reverse.take(10).sum
      assert(r.getLong(0) == n && r.getLong(1) == counts.size.toLong)
      assert(r.getLong(2) == counts.values.max)
      assert((r.getLong(3), r.getLong(4)) == ((rk(50), rk(99))), s"$r")
      assert(r.getLong(5) == 100L * counts.values.max * counts.size / n)
      assert(r.getLong(6) == 10000L * top10 / n)
    }
  }

  test("degenerate shapes survive the r12 bounded-window selection paths") {
    val spark = TestSpark.spark
    import spark.implicits._
    // histQuantiles: every value identical -> one bucket holds every
    // rank, the in-bucket offset equals the rank itself
    val flat = ScaleOps.histQuantiles(
      Seq.fill(500)(Tuple1(123.45)).toDF("o_totalprice")).collect()
    assert(flat.length == 5 && flat.forall(r =>
      r.getLong(4) == 12345L && r.getBoolean(5)), s"${flat.toSeq}")
    // skewReport: every key has the same count -> count-of-counts is
    // one row and both percentiles read it
    val even = (0 until 300).map(i => (i.toLong, (i % 30).toLong))
      .toDF("event_id", "user_id")
    val er = ScaleOps.skewReport(even).head()
    assert(er.getLong(3) == 10L && er.getLong(4) == 10L, s"$er")
    // embeddingOutliers: 50 rows share ONE exact dist2 at the cut —
    // ranking the candidate superset must keep rank/tiebreak identical
    // (the kept two are the smallest vec_ids of the tied far half).
    // cutThreshold = 0 forces the histogram-cut arm; both arms must
    // agree exactly (the size-adaptive branch's contract)
    val tied = (0 until 200).map(i => (i.toLong,
      Array.fill(4)(if (i < 150) 0.0f else 1.0f)))
    val tdf = tied.toDF("vec_id", "embedding")
    val viaCut = graft.operators.Ann.embeddingOutliers(
      tdf, cutThreshold = 0L).collect()
    assert(viaCut.length == 2, s"ceil(200/100) = 2: ${viaCut.toSeq}")
    assert(viaCut.map(_.getLong(1)).toSeq == Seq(150L, 151L), s"${viaCut.toSeq}")
    val viaWindow = graft.operators.Ann.embeddingOutliers(
      tdf, cutThreshold = Long.MaxValue).collect()
    assert(viaCut.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      viaWindow.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
      "cut arm must equal window arm exactly")
  }
}

class Bm25RandomSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("bm25 matches a from-scratch recompute on random corpora") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    for (_ <- 0 until 3) {
      val docs = (0 until 40).map(i => (i.toLong,
        (0 until (5 + rnd.nextInt(20))).map(_ => s"w${rnd.nextInt(15)}").mkString(" ")))
      val tf: Map[Long, Map[String, Long]] = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).groupBy(identity)
          .map { case (k, v) => k -> v.length.toLong }
      }.toMap
      val dl = tf.map { case (id, m) => id -> m.values.sum }
      val n = docs.length.toLong
      val bigT = dl.values.sum
      val df = tf.values.flatMap(_.keys).groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      val qterms = df.toSeq.sortBy { case (t, d) => (-d, t) }.take(12)
        .zipWithIndex.map { case ((t, _), i) => (i / 3).toLong -> t }
      def idfMicro(d: Long) =
        math.round(math.log((n - d + 0.5) / (d + 0.5) + 1.0) * 1e6 + 1e-9)
      val expected = qterms.groupBy(_._1).map { case (q, ts) =>
        val scored = docs.flatMap { case (id, _) =>
          val s = ts.map(_._2).map { t =>
            val f = tf(id).getOrElse(t, 0L)
            if (f == 0L) 0L else {
              val dln = 300000L + (2L * 900000L * dl(id) * n + bigT) / (2L * bigT)
              (idfMicro(df(t)) * f * 2200000L) / (1000000L * f + dln)
            }
          }.sum
          if (s > 0L) Some((id, s)) else None
        }
        q -> scored.sortBy { case (id, s) => (-s, id) }.take(5)
      }
      val got = graft.operators.TextOps.textBm25(docs.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(r => (r._2, r._3)).toSeq }
      assert(got.keySet == expected.keySet)
      got.keySet.foreach { q =>
        assert(got(q) == expected(q), s"q$q: ${got(q)} vs ${expected(q)}")
      }
    }
  }
}

class DsirSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("DSIR ranks target-vocabulary docs above off-distribution ones") {
    val spark = TestSpark.spark
    import spark.implicits._
    val targetish = (1 to 20).map(i => s"alpha$i beta$i").mkString(" ")
    val offish = (1 to 20).map(i => s"zulu$i yank$i").mkString(" ")
    val docs = (
      (1L to 5L).map(i => (i, "tgt", targetish + s" m$i")) ++      // target domain
      Seq((10L, "web", targetish + " x"),                          // raw doc, target-like
          (11L, "web", offish + " y"),                             // raw doc, off-distribution
          (12L, "web", offish + " z"))
    ).toDF("doc_id", "source", "text")
    val out = graft.operators.TextOps
      .pipelineDsir(docs, targetSource = "tgt", buckets = 256, k = 8).collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to 8L), "ranks must be dense 1..k")
    val logw = out.map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // scores arrive rank-ordered (weight desc)
    val ordered = out.map(_.getDouble(3))
    assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b })
    // the target-like raw doc must outrank BOTH off-distribution docs
    assert(logw(10L) > logw(11L) && logw(10L) > logw(12L), s"got $logw")
    // target-domain docs score at the top (they ARE the target sample)
    assert(out.take(5).map(_.getLong(1)).toSet == (1L to 5L).toSet)
  }
}

class GopherRulesSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("each Gopher rule fires on its planted violation; clean doc keeps") {
    val spark = TestSpark.spark
    import spark.implicits._
    val fifty = (1 to 48).map(i => s"word$i").mkString(" ") + " the of"
    val docs = Seq(
      (1L, fifty),                                      // 50 words, mwl ~5, 2 stops -> keep
      (2L, "the of short doc"),                         // < 50 words
      (3L, (1 to 25).map(_ => "## ...!!").mkString(" ") +
        " " + (1 to 25).map(i => s"w$i").mkString(" ") + " the of"), // symbol ratio > 0.1
      (4L, (1 to 50).map(i => s"word$i").mkString(" ")) // no stop words
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.textGopher(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(10), "clean doc must keep")
    assert(!out(2L).getBoolean(5) && !out(2L).getBoolean(10), "word count rule")
    assert(!out(3L).getBoolean(7) && !out(3L).getBoolean(10), "symbol rule")
    assert(out(4L).getLong(4) == 0 && !out(4L).getBoolean(9) && !out(4L).getBoolean(10),
      "stop-word rule")
  }
}

class QualityTrainSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("trained logistic filter separates planted junk from clean docs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    // clean: >= 50 tokens, ~1 stopword in 5; junk: short, no stopwords
    val clean = (0 until 40).map { i =>
      val words = (0 until 60).map(j =>
        if (j % 5 == 0) stops(rnd.nextInt(stops.size)) else s"word${rnd.nextInt(400)}")
      (i.toLong, words.mkString(" "))
    }
    val junk = (0 until 40).map { i =>
      ((100 + i).toLong, (0 until 8).map(_ => s"zx${rnd.nextInt(1000)}").mkString(" "))
    }
    val docs = (clean ++ junk).toDF("doc_id", "text")
    val w = graft.operators.TextOps.textQualityTrain(docs).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(w("len") > 0L && w("stop") > 0L,
      s"length and stopword evidence must push toward keep: $w")
    val scored = graft.operators.TextOps.textQualityLrTrained(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val cleanKept = clean.count { case (id, _) => scored(id) }
    val junkKept = junk.count { case (id, _) => scored(id) }
    assert(cleanKept >= 38, s"trained filter keeps clean docs: $cleanKept/40")
    assert(junkKept <= 2, s"trained filter rejects planted junk: $junkKept/40")
  }

  test("driver and Spark training arms return identical weights, a null-text doc included") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    val docs = ((0 until 60).map { i =>
      val len = 4 + rnd.nextInt(70)
      (i.toLong, Option((0 until len).map(_ =>
        if (rnd.nextInt(4) == 0) stops(rnd.nextInt(stops.size))
        else s"w${rnd.nextInt(300)}").mkString(" ")))
    } :+ ((999L, Option.empty[String]))).toDF("doc_id", "text")
    def weights(histCollectMax: Int) = graft.operators.TextOps
      .textQualityTrain(docs, histCollectMax = histCollectMax)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    val driver = weights(1 << 20)
    assert(driver == weights(0), "histCollectMax = 0 forces the Spark arm")
    assert(driver.exists(_._2 != 0L), s"training must move the weights: $driver")
  }
}

class QualityScoreStreamSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("streamed docs score with the stored trained weights, zero state") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(47)
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    val clean = (0 until 40).map { i =>
      (i.toLong, (0 until 60).map(j =>
        if (j % 5 == 0) stops(rnd.nextInt(stops.size)) else s"word${rnd.nextInt(400)}")
        .mkString(" "))
    }
    val junk = (0 until 40).map(i =>
      ((100 + i).toLong, (0 until 8).map(_ => s"zx${rnd.nextInt(1000)}").mkString(" ")))
    val train = (clean ++ junk).toDF("doc_id", "text")
    val w = graft.operators.TextOps.textQualityTrain(train)
      .orderBy("feature_id").collect().map(_.getLong(2))
    val expect = graft.operators.TextOps.textQualityLrTrained(train).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val got = scala.collection.mutable.Map[Long, Boolean]()
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps
      .qualityScoreStream(mem.toDF().toDF("doc_id", "text"), w)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got(r.getLong(0)) = r.getBoolean(4))
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-qs-ck").toString)
      .start()
    try {
      mem.addData(clean.take(5) ++ junk.take(5): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 10)
    got.foreach { case (id, keep) =>
      assert(keep == expect(id), s"doc $id: stream $keep != batch ${expect(id)}")
    }
  }
}

class FunnelCohortSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions.lit
  private def ts(day: Int, h: Int = 0): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")

  test("funnel only counts steps in order; out-of-order events don't convert") {
    val spark = TestSpark.spark
    import spark.implicits._
    val events = Seq(
      // user 1: full ordered funnel
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      // user 2: click BEFORE first view -> stops at view
      (2L, ts(2), "view"), (2L, ts(1), "click"),
      // user 3: purchase before click -> stops at click
      (3L, ts(1), "view"), (3L, ts(2), "click"), (3L, ts(1, 12), "purchase"),
      // user 4: never viewed -> not in funnel at all
      (4L, ts(1), "click"), (4L, ts(2), "purchase")
    ).toDF("user_id", "ts", "event_type").withColumn("value", lit(0.0))
    val out = graft.operators.Relational.q24Funnel(events).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, "view", 3L), (2L, "click", 2L), (3L, "purchase", 1L)),
      s"got $out")
  }

  test("cohort offsets count distinct active weeks from the first-event week") {
    val spark = TestSpark.spark
    import spark.implicits._
    val events = Seq(
      (1L, ts(1)), (1L, ts(2)),   // week 0 twice -> one cell row
      (1L, ts(10)),               // week 1
      (2L, ts(1)),                // same cohort, week 0 only
      (3L, ts(10)), (3L, ts(24))  // later cohort, offsets 0 and 2
    ).toDF("user_id", "ts").withColumn("event_type", lit("view"))
    val out = graft.operators.Relational.q25Cohort(events).collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    // 2024-01-01 is a Monday: cohort A = Jan 1 (users 1, 2), cohort B = Jan 8 (user 3)
    assert(out == Seq(
      ("2024-01-01", 0L, 2L, 2L, 1.0), ("2024-01-01", 1L, 1L, 2L, 0.5),
      ("2024-01-08", 0L, 1L, 1L, 1.0), ("2024-01-08", 2L, 1L, 1L, 1.0)), s"got $out")
  }
}

class RollingActiveSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions.lit
  test("WAU is the trailing-7-day distinct union, DAU the per-day distinct") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    val events = Seq(
      (1L, ts(1)), (2L, ts(1)), (1L, ts(1)),  // day 1: users {1,2}
      (1L, ts(5)),                            // day 5: {1}
      (3L, ts(8)),                            // day 8: {3}; window 2-8 sees {1,3}
      (1L, ts(12))                            // day 12: {1}; window 6-12 sees {1,3}
    ).toDF("user_id", "ts").withColumn("event_type", lit("view"))
    val out = graft.operators.Relational.q26RollingActive(events).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(
      ("2024-01-01", 2L, 2L), ("2024-01-05", 1L, 2L),
      ("2024-01-08", 1L, 2L), ("2024-01-12", 1L, 2L)), s"got $out")
  }
}

class RegressionSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("exact-moment least squares recovers planted slopes") {
    val spark = TestSpark.spark
    import spark.implicits._
    def d(day: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(day))
    // group A: value = 2.00 * day + 5.00 exactly; group B: flat 100.00
    val rows =
      (0 to 9).map(i => ("A", d(i), 2.0 * i + 5.0)) ++
      (0 to 9).map(i => ("B", d(i), 100.0))
    val out = graft.operators.Relational.q27Regression(
        rows.toDF("o_orderpriority", "o_orderdate", "o_totalprice"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("A") == ((10L, 2.0)), s"got ${out("A")}")
    assert(out("B") == ((10L, 0.0)), s"got ${out("B")}")
  }
}

class BloomJoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("runtime bloom filter prunes the fact side of a selective dim join") {
    val spark = TestSpark.spark
    val sf = TestSpark.sf
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    ).map(k => k -> scala.util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      import org.apache.spark.sql.functions._
      val lineitem = Tables.lineitem(spark, sf)
      val orders = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      val joined = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a runtime bloom filter (might_contain) in:\n${plan.take(3000)}")
      assert(joined.collect().map(_.getLong(1)).head > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

class BasketTransitionsSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.apache.spark.sql.functions.lit

  test("market basket counts unordered within-order pairs once") {
    val spark = TestSpark.spark
    import spark.implicits._
    val li = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),   // order 1: pairs (10,20) (10,30) (20,30)
      (2L, 10L), (2L, 20L),              // order 2: (10,20) again
      (2L, 20L),                         // duplicate lineitem: must not double-count
      (3L, 99L)                          // singleton: no pairs
    ).toDF("l_orderkey", "l_partkey")
    val out = graft.operators.Relational.q28MarketBasket(li).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((10L, 20L, 2L), (10L, 30L, 1L), (20L, 30L, 1L)), s"got $out")
  }

  test("transitions order by (ts, event_id) and normalize per source type") {
    val spark = TestSpark.spark
    import spark.implicits._
    // UTC instants, not Timestamp.valueOf (which reads the JVM default
    // TZ): the session TZ is pinned to UTC, and on a JVM at a large
    // positive offset wall-clock parsing would shift the UTC day
    def ts(s: Int) =
      java.sql.Timestamp.from(java.time.Instant.parse(f"2024-01-01T10:00:$s%02dZ"))
    val events = Seq(
      (1L, ts(1), 7L, "view"), (2L, ts(2), 7L, "click"), (3L, ts(3), 7L, "view"),
      // same-ts pair for user 8: event_id breaks the tie -> view->click
      (4L, ts(5), 8L, "view"), (5L, ts(5), 8L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type").withColumn("value", lit(0.0))
    val out = graft.operators.Relational.q29Transitions(events).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(("click", "view", 1L, 1.0), ("view", "click", 2L, 1.0)), s"got $out")
  }
}

class PivotStreaksSpec extends org.scalatest.funsuite.AnyFunSuite {
  // UTC instants so the expected day grouping is TZ-independent (see
  // the transitions spec note)
  private def ts(day: Int, s: Int) =
    java.sql.Timestamp.from(java.time.Instant.parse(f"2024-01-$day%02dT10:00:$s%02dZ"))

  test("pivot zero-fills absent day/type combinations and totals across types") {
    val spark = TestSpark.spark
    import spark.implicits._
    val events = Seq(
      (1L, ts(1, 1), 7L, "click"), (2L, ts(1, 2), 7L, "click"),
      (3L, ts(1, 3), 8L, "view"),
      (4L, ts(2, 1), 7L, "purchase"),
      (5L, ts(2, 2), 9L, "other") // outside the pinned value list: excluded
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.operators.Relational.q30Pivot(events).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(out == Seq(
      ("2024-01-01", 2L, 1L, 0L, 0L, 0L, 3L),
      ("2024-01-02", 0L, 0L, 1L, 0L, 0L, 1L)), s"got $out")
  }

  test("streaks find the longest consecutive run, ties broken by earliest run") {
    val spark = TestSpark.spark
    import spark.implicits._
    // user 7: view view click click -> two runs of 2; tie -> earliest (view, event_id 1)
    // user 8: click view view view click -> longest run is 3 views
    val events = Seq(
      (1L, ts(1, 1), 7L, "view"), (2L, ts(1, 2), 7L, "view"),
      (3L, ts(1, 3), 7L, "click"), (4L, ts(1, 4), 7L, "click"),
      (5L, ts(1, 1), 8L, "click"), (6L, ts(1, 2), 8L, "view"),
      (7L, ts(1, 3), 8L, "view"), (8L, ts(1, 4), 8L, "view"),
      (9L, ts(1, 5), 8L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.operators.Relational.q31Streaks(events).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((7L, "view", 2L, 1L), (8L, "view", 3L, 6L)), s"got $out")
  }
}

class ContainmentSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("a short doc embedded in a long one flags by containment where jaccard dilutes") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, length => slen}
    val quote = (1 to 20).map(i => s"quoted$i").mkString(" ")
    val long = quote + " " + (1 to 80).map(i => s"filler$i").mkString(" ")
    val docs = Seq((1L, quote), (2L, long), (3L, (1 to 30).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", slen($"text"))
    // same len_bucket is required for blocking: widen buckets via n_chars/100
    val out = graft.operators.Dedup.dedupContainment(
        docs.withColumn("n_chars", lit(50)), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length == 1, s"only the quote pair flags: ${out.toSeq}")
    val (a, b, c, j) = out.head
    assert((a, b) == ((1L, 2L)))
    assert(c == 1.0, s"full containment: $c")
    assert(j < 0.5, s"jaccard dilutes on the size gap: $j")
  }
}

class DedupImpactSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("dropped copies land in the same quality bucket as their kept original") {
    val spark = TestSpark.spark
    import spark.implicits._
    val good = (1 to 60).map(i => if (i % 5 == 0) "the" else s"word$i").mkString(" ")
    val junk = "!!! ... ???"
    val docs = Seq(
      (1L, good), (2L, good), (3L, good),   // kept: 1; dropped: 2, 3
      (10L, junk), (11L, junk),             // kept: 10; dropped: 11
      (20L, "the of and unique text here with some more words")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.dedupImpact(docs).collect()
      .map(r => (r.getBoolean(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.values.sum == 6)
    val dropped = out.filter(!_._1._1)
    assert(dropped.values.sum == 3, s"three copies drop: $out")
    // each dropped cell pairs with a kept cell in the SAME bucket
    dropped.keys.foreach { case (_, b) =>
      assert(out.contains((true, b)), s"bucket $b must also have its kept original: $out")
    }
  }
}

class TextEntropySpec extends org.scalatest.funsuite.AnyFunSuite {
  test("repeated-char junk scores zero bits, uniform two-char text exactly one") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaaaaaa"),            // one symbol: 0 bits
      (2L, "abababab"),            // two equiprobable symbols: 1 bit
      (3L, "The quick brown fox jumps over the lazy dog.")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.textEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((8L, 1L, 0.0)), s"got ${out(1L)}")
    assert(out(2L) == ((8L, 2L, 1.0)), s"got ${out(2L)}")
    assert(out(3L)._3 > 3.5 && out(3L)._3 < 4.6,
      s"English sentence should land near 4 bits: ${out(3L)}")
  }
}

class AttributionSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("purchases credit the last non-purchase touch; orphans are direct") {
    val spark = TestSpark.spark
    import spark.implicits._
    def at(s: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T10:00:00Z").plusSeconds(s.toLong))
    val events = Seq(
      (1L, at(1), 7L, "view"), (2L, at(2), 7L, "click"),
      (3L, at(3), 7L, "purchase"),                    // credits click
      (4L, at(4), 7L, "purchase"),                    // still click (prior purchase skipped)
      (5L, at(1), 8L, "purchase"),                    // no prior touch -> direct
      (6L, at(2), 8L, "view"), (7L, at(3), 8L, "purchase") // credits view
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.operators.Relational.q33Attribution(events).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq(("click", 2L, 0.5), ("direct", 1L, 0.25), ("view", 1L, 0.25)),
      s"got $out")
  }
}

class AnomalySpec extends org.scalatest.funsuite.AnyFunSuite {
  test("a planted volume spike flags, steady days do not") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 9 steady days of ~10 events, one day of 100
    val rows = (0 until 10).flatMap { d =>
      val n = if (d == 7) 100 else 10 + (d % 3)
      (0 until n).map { i =>
        (d * 1000L + i,
          java.sql.Timestamp.from(java.time.Instant.parse("2024-02-01T00:00:00Z")
            .plusSeconds(d * 86400L + i * 60L)),
          7L, "view")
      }
    }
    val out = graft.operators.Relational
      .q35Anomaly(rows.toDF("event_id", "ts", "user_id", "event_type"))
      .collect().map(r => r.getDate(0).toString -> r.getBoolean(3)).toMap
    assert(out.size == 10)
    assert(out("2024-02-08"), "the spike day must flag")
    assert(out.count(_._2) == 1, s"only the spike flags: $out")
  }
}

class BatchSessionSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("sessions split on gaps over 30 minutes; bounds and durations are exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    def at(min: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T10:00:00Z").plusSeconds(min * 60L))
    val events = Seq(
      (1L, at(0), 7L, "view"), (2L, at(10), 7L, "click"),  // session 1: 0-10
      (3L, at(45), 7L, "view"),                            // 35min gap -> session 2
      (4L, at(75), 7L, "view"),                            // exactly 30min gap: SAME session
      (5L, at(0), 8L, "view")                              // other user
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.operators.Relational.q32Sessions(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5))).toSeq
    assert(out == Seq((7L, 1L, 2L, 600L), (7L, 2L, 2L, 1800L), (8L, 1L, 1L, 0L)),
      s"got $out")
  }
}

class CcnetBucketSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("terciles split head/middle/tail roughly evenly; low perplexity = head") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 30 fluent docs (common words), 30 mid, 30 rare-token docs
    val docs = (
      (0L until 30L).map(i => (i, (1 to 20).map(_ => "common").mkString(" "))) ++
      (30L until 60L).map(i => (i, (1 to 20).map(j => s"mid${j % 5}").mkString(" "))) ++
      (60L until 90L).map(i => (i, (1 to 20).map(j => s"rare${i}_$j").mkString(" ")))
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.textCcnetBucket(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert((0L until 30L).forall(out(_) == "head"), "common-token docs are head")
    assert((60L until 90L).forall(out(_) == "tail"), "rare-token docs are tail")
    assert((30L until 60L).forall(out(_) == "middle"))
  }
}

class HeavyHittersSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("MG two-pass equals the exact recompute on any layout; boundary is strict") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // N = 100 tokens: hot 30, warm 21, edge exactly 20 = N/(s+1) at
    // s=4 (strictly excluded), 29 singletons
    val toks = Seq.fill(30)("hot") ++ Seq.fill(21)("warm") ++
      Seq.fill(20)("edge") ++ (1 to 29).map(i => s"cold$i")
    for (layout <- Seq(1, 3, 7)) {
      val docs = toks.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .repartition(layout)
      val out = ScaleOps.heavyHitters(docs, s = 4).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(out.toSeq == Seq(("hot", 30L, 3000L), ("warm", 21L, 2100L)),
        s"layout $layout: ${out.toSeq}")
    }
  }

  test("weighted MG matches the exact weight recompute across layouts; boundary is strict") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // W = 1000: hot 300, warm 210, edge exactly 200 = W/(s+1) at s=4
    // (strictly excluded), 29 light keys of 10
    val rows = Seq(("hot", 100L), ("hot", 200L), ("warm", 210L),
      ("edge", 150L), ("edge", 50L)) ++ (1 to 29).map(i => (s"lite$i", 10L))
    for (layout <- Seq(1, 3, 7)) {
      val docs = rows.zipWithIndex.map { case ((l, w), i) => (i.toLong, l, w) }
        .toDF("doc_id", "lang", "n_chars").repartition(layout)
      val out = ScaleOps.heavyEarners(docs, s = 4).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(out.toSeq == Seq(("hot", 300L, 3000L), ("warm", 210L, 2100L)),
        s"layout $layout: ${out.toSeq}")
    }
    // non-positive weights are undrawable: they feed neither the
    // candidates nor the total
    val withJunk = (rows ++ Seq(("hot", 0L), ("junk", -5L))).zipWithIndex
      .map { case ((l, w), i) => (i.toLong, l, w) }
      .toDF("doc_id", "lang", "n_chars")
    val out2 = ScaleOps.heavyEarners(withJunk, s = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out2.toSeq == Seq(("hot", 300L, 3000L), ("warm", 210L, 2100L)))
    // weighted summaries stay bounded and the marker sums the weight
    val ds = rows.map { case (l, w) => (l, w) }.toDS().repartition(5)
    val sm = ScaleOps.mgWeightedCandidates(ds, s = 6)
    assert(sm.count() <= 5 * 7, "summary must stay within partitions·(s+1) rows")
    assert(sm.filter(col("tok").isNull).agg(sum(col("cnt")))
      .head().getLong(0) == 1000L, "marker rows must sum to W")
  }

  test("weighted MG stream: stored epoch summaries yield the exact earners") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-mgw").toString
    // W = 1000 split mid-key across epochs: hot 300 (150+150),
    // warm 210 (0+210), edge 200 exactly at W/(s+1), light tail
    val rows = Seq(("hot", 150L), ("edge", 200L)) ++
      (1 to 29).map(i => (s"lite$i", 10L)) ++
      Seq(("hot", 150L), ("warm", 210L))
    val mem = MemoryStream[(String, Long)]
    val q = ScaleOps.mgWeightedStream(mem.toDF().toDF("lang", "w"), dir, s = 4)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-mgw-ck").toString)
      .start()
    try {
      mem.addData(rows.take(31): _*); q.processAllAvailable()
      mem.addData(rows.drop(31): _*); q.processAllAvailable()
    } finally q.stop()
    val stored = ScaleOps.heavyEarnersStored(rows.toDF("lang", "w"), dir, s = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stored == Seq(("hot", 300L, 3000L), ("warm", 210L, 2100L)),
      s"stored-summary earners: $stored")
  }

  test("MG stream: stored epoch summaries yield the exact hitters; replay is a no-op") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-mg").toString
    // hot = 300/1000 (heavy), warm = 210 (heavy), rest singleton-ish;
    // epochs slice mid-stream so no epoch alone decides the hitters
    val toks = Seq.fill(300)("hot") ++ Seq.fill(210)("warm") ++
      (1 to 490).map(i => s"cold${i % 245}")
    def run(data: Seq[String], dirStr: String): Unit = {
      val mem = MemoryStream[String]
      val q = ScaleOps.mgStream(mem.toDF().toDF("tok"), dirStr, s = 4)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-mg-ck").toString)
        .start()
      try {
        mem.addData(data.take(500): _*); q.processAllAvailable()
        if (data.length > 500) { mem.addData(data.drop(500): _*); q.processAllAvailable() }
      } finally q.stop()
    }
    run(toks, dir)
    val tokDf = toks.toDF("tok")
    val stored = ScaleOps.heavyHittersStored(tokDf, dir, s = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stored == Seq(("hot", 300L, 3000L), ("warm", 210L, 2100L)),
      s"stored-summary hitters: $stored")
    // replay epoch 0: summary overwritten identically, report unchanged
    val d0 = spark.read.parquet(s"$dir/delta-b0").collect().toSet
    run(toks.take(500), dir)
    assert(spark.read.parquet(s"$dir/delta-b0").collect().toSet == d0,
      "a replayed epoch must reproduce its summary exactly")
  }

  test("certified top-k: true certificate ⟹ exact top-k; flat tail ⟹ false; non-candidates obey the MG bound") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // skewed corpus, k=3, s=8: the 3rd count clears N/9 → certified,
    // and the report must equal the brute-force top-3
    val skewed = (Seq.fill(50)("a") ++ Seq.fill(40)("b") ++ Seq.fill(30)("c") ++
      (1 to 40).map(i => s"t${i % 20}"))
    val docs = skewed.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(4)
    val out = ScaleOps.topkCertified(docs, k = 3, s = 8).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(4)))
    assert(out.toSeq == Seq((1L, "a", 50L, true), (2L, "b", 40L, true),
      (3L, "c", 30L, true)), s"got ${out.toSeq}")
    // flat tail, tiny s: nothing clears N/(s+1) → the certificate must
    // refuse (the honest "widen s" signal)
    val flat = (1 to 120).map(i => s"u${i % 60}")
    val flatDocs = flat.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(4)
    val fo = ScaleOps.topkCertified(flatDocs, k = 5, s = 3).collect()
    assert(fo.nonEmpty && fo.forall(!_.getBoolean(4)),
      "a flat distribution must not certify")
    // the bound the certificate rides: every key OUTSIDE the candidate
    // set has true count ≤ N/(s+1), for random corpora and layouts
    val rnd = new scala.util.Random(2707)
    for (trial <- 1 to 4) {
      val s = 4 + rnd.nextInt(6)
      val toks = (0 until 200 + rnd.nextInt(300)).map { _ =>
        s"k${math.min(rnd.nextInt(rnd.nextInt(30) + 1), 29)}"
      }
      val cands = ScaleOps.mgCandidates(
          toks.toDS().repartition(1 + rnd.nextInt(5)), s)
        .filter(col("tok").isNotNull)
        .select(col("tok")).collect().map(_.getString(0)).toSet
      val n = toks.size.toLong
      val bad = toks.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (t, c) => !cands.contains(t) && c * (s + 1) > n }
      assert(bad.isEmpty, s"trial $trial s=$s: non-candidates over the bound: $bad")
    }
  }

  test("grouped heavy hitters equal the exact per-group recompute on any layout") {
    val spark = TestSpark.spark
    import spark.implicits._
    // two langs with DIFFERENT hitters: xx's hot token is cold in yy
    val docs = (
      Seq.fill(30)(("xx", "hot")) ++ Seq.fill(8)(("xx", "mid")) ++
        (1 to 40).map(i => ("xx", s"c$i")) ++
        Seq.fill(3)(("yy", "hot")) ++ Seq.fill(50)(("yy", "other")) ++
        (1 to 30).map(i => ("yy", s"d$i"))
    ).zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }
    for (layout <- Seq(1, 5)) {
      val df = docs.toDF("doc_id", "lang", "text").repartition(layout)
      val out = ScaleOps.heavyHittersGrouped(df, s = 5).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      // xx: N=78, thr 13: hot 30 ✓ mid 8 ✗; yy: N=83, thr 13.8: other 50 ✓ hot 3 ✗
      assert(out == Seq(("xx", "hot", 30L), ("yy", "other", 50L)),
        s"layout $layout: $out")
    }
  }

  test("MgBuffer: adversarial merge trees keep the superset bound; serde round-trips") {
    import graft.functions.{MgBuffer, MgSketch}
    import org.apache.spark.unsafe.types.UTF8String
    implicit def str2utf8(s: String): UTF8String = UTF8String.fromString(s)
    val rnd = new scala.util.Random(3109)
    for (trial <- 1 to 8) {
      val s = 3 + rnd.nextInt(6)
      val toks = (0 until 300 + rnd.nextInt(300)).map { _ =>
        s"k${math.min(rnd.nextInt(rnd.nextInt(25) + 1), 24)}"
      }
      // split into random chunks, insert into separate buffers, merge
      // in a random (left-deep vs pairwise) order
      val chunks = toks.grouped(30 + rnd.nextInt(60)).toSeq
      val bufs = chunks.map { c =>
        val b = new MgBuffer(s); c.foreach(b.insert(_, 1L)); b
      }
      val merged = rnd.shuffle(bufs).reduce { (a, b) => a.mergeFrom(b); a }
      assert(merged.counts.size <= s, "trim must hold the s bound")
      assert(merged.n == toks.size.toLong, "total weight combines additively")
      val n = toks.size.toLong
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong)
      val missedHeavy = exact.filter { case (t, c) =>
        c * (s + 1) > n && !merged.counts.contains(str2utf8(t)) }
      assert(missedHeavy.isEmpty,
        s"trial $trial s=$s: heavy keys missing after merges: $missedHeavy")
      // counter never exceeds the true count (MG only ever decrements)
      assert(merged.counts.forall { case (t, c) => c <= exact(t.toString) })
    }
    // serde: a buffer survives the shuffle-format round trip
    val b = new MgBuffer(4)
    Seq("a", "b", "a", "c", "d", "e", "a").foreach(t => b.insert(str2utf8(t), 2L))
    val agg = MgSketch(null, null, 4)
    val back = agg.deserialize(agg.serialize(b))
    assert(back.s == b.s && back.n == b.n && back.counts == b.counts)
  }

  test("MG summaries are bounded, markers sum to N, candidates superset the hitters") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val toks = (Seq.fill(400)("hot") ++ (1 to 1600).map(i => s"c${i % 800}"))
    val ds = toks.toDS().repartition(5)
    val summary = ScaleOps.mgCandidates(ds, s = 8)
    assert(summary.count() <= 5 * 9, "summary must stay within partitions·(s+1) rows")
    assert(summary.filter(col("tok").isNull).agg(sum(col("cnt")))
      .head().getLong(0) == 2000L, "marker rows must sum to N")
    val cands = summary.filter(col("tok").isNotNull)
      .select(col("tok")).distinct().collect().map(_.getString(0)).toSet
    assert(cands.contains("hot"), "a 20% key must survive every layout")
    assert(cands.size < 801, "the sweep must prune the cold tail")
  }
}

class ZonemapSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("zonemap skips non-overlapping date blocks; an uncorrelated column skips nothing; a correlated one skips") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val zm = ScaleOps.zonemapPrune(Tables.lineitem(spark, TestSpark.sf)).collect()
    val dateSkips = zm.count(_.getAs[Boolean]("skip_date"))
    val okeySkips = zm.count(_.getAs[Boolean]("skip_okey"))
    // the 6-month predicate overlaps at most ceil(182/30)+1 = 8 tiles
    assert(zm.length - dateSkips <= 8,
      s"clustered-column predicate must skip all non-overlapping blocks: " +
        s"${zm.length - dateSkips} scanned of ${zm.length}")
    assert(okeySkips == 0,
      "orderkey is uncorrelated with the shipdate layout — zone maps cannot skip")
    // plant the counter-case: orderkey clustered WITH the date → the
    // same orderkey predicate now skips (the limit is the data's
    // correlation, not the operator)
    val planted = (0L until 3000L).map(i =>
      (java.sql.Timestamp.valueOf(java.time.LocalDate.parse("1992-01-01")
        .plusDays(i).atStartOfDay()), i)).toDF("l_shipdate", "l_orderkey")
    val zp = ScaleOps.zonemapPrune(planted).collect()
    // okeys 1000..1999 ride days 1000..1999 = 30-day tiles 33..66,
    // so exactly 34 of the 100 blocks overlap the predicate
    val plantedSkips = zp.count(_.getAs[Boolean]("skip_okey"))
    assert(plantedSkips == zp.length - 34,
      s"correlated layout must skip all non-overlapping blocks: " +
        s"$plantedSkips of ${zp.length}")
    // verdicts agree with brute force: no skipped block contains a
    // qualifying row
    val qualifying = ScaleOps.zonemapPrune(planted).filter(col("skip_okey"))
      .select(col("min_okey"), col("max_okey")).collect()
      .count(r => r.getLong(1) >= 1000L && r.getLong(0) < 2000L)
    assert(qualifying == 0, "a skipped block must not overlap the predicate")
  }

  test("zonemap stream: epoch block maps fold to the whole-corpus map; replay is a no-op") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-zm").toString
    val epoch = java.time.LocalDate.parse("1992-01-01")
    val all = (0 until 300).map(i =>
      (java.sql.Timestamp.valueOf(epoch.plusDays((i * 13) % 900).atStartOfDay()),
        (i * 7 % 500).toLong))
    def run(data: Seq[(java.sql.Timestamp, Long)]): Unit = {
      val mem = MemoryStream[(java.sql.Timestamp, Long)]
      val q = ScaleOps.zonemapStream(
          mem.toDF().toDF("l_shipdate", "l_orderkey"), dir)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-zm-ck").toString)
        .start()
      try {
        mem.addData(data.take(150): _*); q.processAllAvailable()
        if (data.length > 150) { mem.addData(data.drop(150): _*); q.processAllAvailable() }
      } finally q.stop()
    }
    run(all)
    val whole = ScaleOps.zonemapTable(all.toDF("l_shipdate", "l_orderkey"))
    val merged = ScaleOps.zonemapMerged(spark, dir)
    val cols = Seq("block_id", "n_rows", "min_ship", "max_ship",
      "min_okey", "max_okey")
    assert(whole.unionAll(merged.select(cols.map(col): _*))
      .groupBy(cols.map(col): _*)
      .count().filter(col("count") =!= 2).isEmpty,
      "merged epoch block maps differ from the whole-corpus map")
    val d0 = spark.read.parquet(s"$dir/delta-b0").collect().toSet
    run(all.take(150))
    assert(spark.read.parquet(s"$dir/delta-b0").collect().toSet == d0,
      "a replayed epoch must reproduce its block map exactly")
  }
}

class M4Spec extends org.scalatest.funsuite.AnyFunSuite {

  test("M4 picks first/last/min/max exactly; value ties resolve to the earliest point") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // one series, one day: known extremes + a duplicated minimum value
    // at a later instant (the tie the struct order must resolve)
    val events = Seq(
      (1L, ts("2024-03-01 08:00:00"), 5.0),   // first
      (2L, ts("2024-03-01 09:00:00"), 1.5),   // min (earliest of the tie)
      (3L, ts("2024-03-01 10:00:00"), 9.25),  // max
      (4L, ts("2024-03-01 11:00:00"), 1.5),   // tied min, later -> not picked
      (5L, ts("2024-03-01 12:00:00"), 4.0)    // last
    ).map { case (id, t, v) => (id, t, "click", v) }
      .toDF("event_id", "ts", "event_type", "value").repartition(3)
    val r = ScaleOps.m4Downsample(events).head()
    def us(s: String) = ts(s).getTime * 1000L
    assert(r.getAs[Long]("n_points") == 5)
    assert(r.getAs[Long]("first_us") == us("2024-03-01 08:00:00") &&
      r.getAs[Long]("first_bp") == 50000L)
    assert(r.getAs[Long]("last_us") == us("2024-03-01 12:00:00") &&
      r.getAs[Long]("last_bp") == 40000L)
    assert(r.getAs[Long]("min_bp") == 15000L &&
      r.getAs[Long]("min_us") == us("2024-03-01 09:00:00") &&
      r.getAs[Long]("min_id") == 2L,
      "tied minima must resolve to the earliest instant")
    assert(r.getAs[Long]("max_bp") == 92500L &&
      r.getAs[Long]("max_us") == us("2024-03-01 10:00:00"))
    assert(r.getAs[Long]("first_id") == 1L && r.getAs[Long]("last_id") == 5L)
    // real corpus: per-bucket invariants hold everywhere
    val all = ScaleOps.m4Downsample(Tables.events(spark, TestSpark.sf)).collect()
    assert(all.nonEmpty)
    all.foreach { row =>
      assert(row.getAs[Long]("first_us") <= row.getAs[Long]("last_us"))
      assert(row.getAs[Long]("min_bp") <= row.getAs[Long]("first_bp") &&
        row.getAs[Long]("min_bp") <= row.getAs[Long]("last_bp") &&
        row.getAs[Long]("min_bp") <= row.getAs[Long]("max_bp"))
      assert(row.getAs[Long]("min_us") >= row.getAs[Long]("first_us") &&
        row.getAs[Long]("max_us") <= row.getAs[Long]("last_us"))
    }
  }
}

class M4StreamSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("M4 epoch tables merge to the whole-corpus table across a mid-bucket cut with ties") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-m4").toString
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    // 400 points over 4 days × 2 series, duplicated values AND equal
    // instants planted across the epoch cut (the ties the carried ids
    // must resolve identically in both faces)
    val all = (0 until 400).map { i =>
      (i.toLong, new java.sql.Timestamp(t0 + (i % 96) * 3600_000L / 4 +
        (i / 96) * 86400_000L), if (i % 2 == 0) "click" else "view",
        (i % 7).toDouble)
    }
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val q = ScaleOps.m4Stream(
        mem.toDF().toDF("event_id", "ts", "event_type", "value"), dir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-m4-ck").toString)
      .start()
    try {
      mem.addData(all.take(200): _*); q.processAllAvailable()
      mem.addData(all.drop(200): _*); q.processAllAvailable()
    } finally q.stop()
    val whole = ScaleOps.m4Downsample(
      all.toDF("event_id", "ts", "event_type", "value"))
    val merged = ScaleOps.m4Merged(spark, dir)
    val cols = whole.columns.toIndexedSeq
    assert(whole.unionAll(merged.select(cols.map(col): _*))
      .groupBy(cols.map(col): _*)
      .count().filter(col("count") =!= 2).isEmpty,
      "merged M4 epochs differ from the whole-corpus table")
  }
}

class KmvSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("KMV small-set branch is exact; estimator branch pins the k-th min hash") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 5 a-only, 3 b-only, 3 shared keys → |A|=8, |B|=6, |A∪B|=11, |A∩B|=3,
    // all under k=16 → sketches are complete sets, every estimate exact
    def ordersLike(rows: Seq[(String, Long)]) = rows.map { case (p, c) =>
      (if (p == "a") "1-URGENT" else "2-HIGH", c)
    }.toDF("o_orderpriority", "o_custkey")
    val small = ordersLike(
      (1L to 5L).map(("a", _)) ++ (11L to 13L).map(("b", _)) ++
        (21L to 23L).flatMap(k => Seq(("a", k), ("b", k))) ++
        Seq(("a", 1L), ("b", 11L))) // duplicates must not move anything
    val r = ScaleOps.kmvSetOps(small, k = 16, tol = 0.01).head()
    assert(r.getAs[Long]("n_sk_a") == 8 && r.getAs[Long]("n_sk_b") == 6)
    assert(r.getAs[Long]("n_sk_union") == 11 && r.getAs[Long]("overlap_k") == 3)
    assert(r.getAs[Long]("exact_union") == 11 && r.getAs[Long]("exact_inter") == 3)
    assert(Seq("a_within_tol", "b_within_tol", "union_within_tol",
      "inter_within_tol").forall(r.getAs[Boolean]), s"small-set branch not exact: $r")
    // estimator branch: 400 keys/side, k=8 → sketch full; the k-th min
    // must equal an independent sort's 8th smallest distinct hash
    val big = ordersLike((1L to 400L).map(("a", _)) ++ (201L to 600L).map(("b", _)))
    val rb = ScaleOps.kmvSetOps(big, k = 8, tol = 10.0).head()
    val kth = big.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
      .select(conv(substring(md5(concat(col("o_custkey").cast("string"),
        lit(":kmv"))), 1, 12), 16, 10).cast("long").as("h"))
      .orderBy(col("h")).limit(8).agg(max(col("h"))).head().getLong(0)
    assert(rb.getAs[Long]("n_sk_a") == 8 && rb.getAs[Long]("kth_a") == kth,
      s"bottom-k heap disagrees with the sort: $rb vs $kth")
  }

  test("KMV matrix: the URGENT/HIGH row agrees with kmvSetOps; disjoint segments hit the zero guard") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(spark, TestSpark.sf)
    val m = ScaleOps.kmvMatrix(orders)
      .filter(col("side_a") === "1-URGENT" && col("side_b") === "2-HIGH").head()
    val s = ScaleOps.kmvSetOps(orders).head()
    // the pairwise row must reproduce the dedicated pair operator's
    // integers: same sketches, same union, same overlap, same exacts
    for (c <- Seq("n_sk_a", "n_sk_b", "n_sk_union", "kth_union", "overlap_k",
        "exact_a", "exact_b", "exact_union", "exact_inter"))
      assert(m.getAs[Long](c) == s.getAs[Long](c),
        s"$c: matrix ${m.getAs[Long](c)} vs setops ${s.getAs[Long](c)}")
    // disjoint segments: zero overlap, zero exact intersection, and
    // the inter tolerance boolean passes through the zero guard
    val disjoint = ((1L to 40L).map(k => ("1-URGENT", k)) ++
      (101L to 140L).map(k => ("2-HIGH", k)))
      .toDF("o_orderpriority", "o_custkey")
    val d = ScaleOps.kmvMatrix(disjoint, k = 16).head()
    assert(d.getAs[Long]("overlap_k") == 0 && d.getAs[Long]("exact_inter") == 0)
    assert(d.getAs[Long]("exact_union") == 80)
    assert(d.getAs[Boolean]("inter_within_tol"),
      "a zero intersection must satisfy the zero-guard boolean")
  }

  test("KmvBuffer dedups in-buffer, merges idempotently, serde round-trips") {
    import graft.functions.{KmvBuffer, KmvSketch}
    val rnd = new scala.util.Random(3307)
    for (trial <- 1 to 6) {
      val k = Seq(4, 16, 64)(rnd.nextInt(3))
      val vals = (0 until 500).map(_ => rnd.nextInt(200).toLong)
      // heavy duplication: buffer result must equal distinct-sort-take
      val want = vals.distinct.sorted.take(k)
      val b = new KmvBuffer(k)
      vals.foreach(b.insert)
      def render(x: KmvBuffer) = {
        val it = x.set.iterator(); Iterator.continually(it)
          .takeWhile(_.hasNext).map(_.next().longValue()).toSeq
      }
      assert(render(b) == want, s"trial $trial k=$k")
      // merge = set union (idempotent): merging a buffer with itself
      // via serde copies changes nothing
      val agg = KmvSketch(null, k)
      val copy = agg.deserialize(agg.serialize(b))
      b.mergeFrom(copy)
      assert(render(b) == want, "self-merge must be a no-op")
      // arbitrary split-merge equals the whole
      val (l, r) = vals.splitAt(rnd.nextInt(vals.size))
      val bl = new KmvBuffer(k); l.foreach(bl.insert)
      val br = new KmvBuffer(k); r.foreach(br.insert)
      bl.mergeFrom(br)
      assert(render(bl) == want, "split-merge must equal the whole sketch")
    }
  }

  test("stored KMV sketches: probe equals the self-contained matrix; ensure builds once; torn build rebuilds") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(3511)
    val orders = (0 until 400).map { _ =>
      (Seq("1-URGENT", "2-HIGH", "3-MEDIUM")(rnd.nextInt(3)),
        rnd.nextInt(120).toLong)
    }.toDF("o_orderpriority", "o_custkey")
    val dir = java.nio.file.Files.createTempDirectory("graft-kmvsk").toString
    ScaleOps.ensureKmvSketches(orders, dir, k = 16)
    assert(new java.io.File(s"$dir/sketch/_SUCCESS").exists())
    val self = ScaleOps.kmvMatrix(orders, k = 16).collect().map(_.toString).toSeq
    val stored = ScaleOps.kmvMatrixStored(orders, dir, k = 16)
      .collect().map(_.toString).toSeq
    assert(stored == self, "stored-sketch matrix must be bit-identical")
    // build-once: a planted marker survives a second ensure
    val marker = new java.io.File(s"$dir/sketch/graft-spec-marker")
    assert(marker.createNewFile())
    ScaleOps.ensureKmvSketches(orders, dir, k = 16)
    assert(marker.exists(), "a completed build must not be rebuilt")
    // torn build: missing sentinel → rebuild, identical answers
    def deleteRec(f: java.io.File): Unit = if (f.exists()) {
      Option(f.listFiles()).toSeq.flatten.foreach(deleteRec); f.delete()
    }
    deleteRec(new java.io.File(s"$dir/sketch"))
    ScaleOps.ensureKmvSketches(orders, dir, k = 16)
    assert(!marker.exists())
    assert(ScaleOps.kmvMatrixStored(orders, dir, k = 16)
      .collect().map(_.toString).toSeq == self,
      "the rebuilt sketches serve the same matrix")
    // the _META sidecar makes the BUILD-time k win: a caller passing
    // the wrong k used to silently shift every estimate (wrong kth
    // statistic, wrong union re-sketch width)
    assert(ScaleOps.kmvMatrixStored(orders, dir, k = 999)
      .collect().map(_.toString).toSeq == self,
      "a mismatched caller k must not change the stored probe")
  }

  test("KMV stream deltas re-sketch to the whole-corpus sketch; replay is a no-op") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-kmv").toString
    // batches OVERLAP in keys: bottom-k union ignores duplicates, so the
    // merged sketch must still equal the whole-corpus sketch exactly
    val all = (0 until 300).map(i => (if (i % 2 == 0) "a" else "b", (i % 180).toLong))
    val mem = MemoryStream[(String, Long)]
    val q = ScaleOps.kmvStream(mem.toDF().toDF("side", "key"), dir, k = 32)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-kmv-ck").toString)
      .start()
    try {
      mem.addData(all.take(150): _*); q.processAllAvailable()
      mem.addData(all.drop(100): _*); q.processAllAvailable()
    } finally q.stop()
    val whole = ScaleOps.kmvTable(all.toDF("side", "key"), 32)
    val merged = ScaleOps.kmvMerged(spark, dir, k = 32)
    assert(whole.unionAll(merged).groupBy(col("side"), col("h"))
      .count().filter(col("count") =!= 2).isEmpty,
      "merged delta sketches differ from the whole-corpus sketch")
    // replay epoch 0: delta unchanged (overwrite + bottom-k idempotence)
    val d0 = spark.read.parquet(s"$dir/delta-b0").collect().toSet
    val mem2 = MemoryStream[(String, Long)]
    val q2 = ScaleOps.kmvStream(mem2.toDF().toDF("side", "key"), dir, k = 32)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-kmv-ck2").toString)
      .start()
    try { mem2.addData(all.take(150): _*); q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(s"$dir/delta-b0").collect().toSet == d0,
      "a replayed epoch must reproduce its delta sketch exactly")
  }

}
