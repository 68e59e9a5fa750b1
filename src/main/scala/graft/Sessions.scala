package graft

import org.apache.spark.sql.SparkSession

/** One local-session builder for the measuring mains (Bench,
  * BenchOne, Verify): the oracle compare depends on some of these
  * confs (UTC timestamps), and the bench artifact on others (cpus =
  * shuffle partitions — the driver measures at 32), so hand-copied
  * builder blocks drifting independently is how the round-3 "measured
  * under different parallelism than the driver" drift happened.
  * Explain keeps its own deliberately tiny session (plan dumps, not
  * measurements). */
object Sessions {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the full graft surface: every graft_* SQL function plus the
      // BroadcastScalarAgg optimizer rule (provably <=1-row join
      // sides broadcast at plan time — semantics-neutral)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
