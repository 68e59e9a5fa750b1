package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host telemetry recorded with every run, so that a run slowed by a
  * busy host shows itself instead of reading as a regression. */
object Host {
  private def firstLine(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().next() finally src.close()
  }

  def loadavg(): Double =
    try firstLine("/proc/loadavg").split("\\s+")(0).toDouble catch { case _: Exception => -1.0 }

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = firstLine("/proc/stat").trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A fixed-code CPU loop (integer mixing plus a small sort) run on
    * `threads` threads at once, timed as the median of five repetitions.
    * Its time depends only on the host, so a change in it between runs or
    * between the start and the end of a run measures contention for the
    * cores, not the code under test. */
  def calibrationMs(threads: Int): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    def work(): Long = {
      var x = 0x1234567L
      var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      val a = Array.tabulate(200000)(j => (x * (j + 1)) ^ (j.toLong << 32))
      java.util.Arrays.sort(a)
      a(a.length / 2)
    }
    try Stats.median(Seq.fill(5) {
      val t0 = System.nanoTime()
      val fs = (1 to threads).map(_ => pool.submit(new java.util.concurrent.Callable[Long] { def call(): Long = work() }))
      fs.foreach(_.get())
      (System.nanoTime() - t0) / 1e6
    }) finally pool.shutdown()
  }
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Least-squares slope of ys over their index. */
  def slope(ys: collection.Seq[Double]): Double =
    if (ys.size < 2) 0.0
    else {
      val n = ys.size.toDouble
      val mx = (n - 1) / 2
      val my = ys.sum / n
      val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
      val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
      num / den
    }
}
