package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  private val jobTag = "graft.test.jobs"
  private val runs = new java.util.concurrent.atomic.AtomicLong

  /** Spark jobs `body` started, counted by a listener on a local
    * property: a fence job after it is seen last, so every earlier event
    * has reached the listener once the fence has. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val name = s"run-${runs.incrementAndGet()}"
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(jobTag)))
          .foreach(t => jobs.merge(t, 1, (a: Integer, b: Integer) => a + b))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(jobTag, name)
      try body finally sc.setLocalProperty(jobTag, s"$name-fence")
      spark.range(1).foreach(_ => ())
      sc.setLocalProperty(jobTag, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.containsKey(s"$name-fence") && System.nanoTime() < deadline) Thread.sleep(10)
      require(jobs.containsKey(s"$name-fence"), "listener never saw the fence job")
      jobs.getOrDefault(name, 0)
    } finally sc.removeSparkListener(listener)
  }
}
