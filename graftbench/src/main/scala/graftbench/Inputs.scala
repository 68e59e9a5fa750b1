package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One generated event. The schema covers every type the `graft-bq`
  * line format carries: longs, an int, a timestamp, strings that may
  * need JSON escaping, a nullable string and a nullable double. */
final case class Event(event_id: Long, user_id: Long, ts: Timestamp, kind: String,
                       payload: Option[String], amount: Option[Double], flag: Boolean,
                       size_bytes: Int)

/** The input properties a workload fixes. The sink's behaviour depends
  * on each: key skew decides how full per-key batches get and how many
  * pooled writers a partition opens; record size decides whether the
  * count or the byte trigger closes a batch; `maxAppendBytes` below
  * `maxBatchBytes` makes byte-closed batches split. `batchRows` gives
  * both workloads about the same at-least-once time per pass. */
final case class Shape(name: String, batchRows: Int, users: Int, zipfS: Double,
                       payloadMin: Int, payloadMax: Int,
                       nullShare: Double, escapeShare: Double,
                       maxBatchCount: Long, maxBatchBytes: Long, maxAppendBytes: Long)

object Shape {
  val skewed = Shape("skewed", batchRows = 300000, users = 10000, zipfS = 0.8, payloadMin = 16, payloadMax = 480,
    nullShare = 0.08, escapeShare = 0.2,
    maxBatchCount = 100, maxBatchBytes = 28 * 1024, maxAppendBytes = 27 * 1024)
  val uniform = Shape("uniform", batchRows = 450000, users = 10000, zipfS = 0.0, payloadMin = 24, payloadMax = 24,
    nullShare = 0.0, escapeShare = 0.0,
    maxBatchCount = 100, maxBatchBytes = 1024 * 1024, maxAppendBytes = 9L * 1024 * 1024)
  val all: Map[String, Shape] = Seq(skewed, uniform).map(s => s.name -> s).toMap
}

/** Seeded event generator. Every field of event `id` is a pure function
  * of (seed, id), so the same seed gives the same rows however the
  * ids are split over partitions, epochs or passes. */
final class Gen(seed: Long, shape: Shape) extends Serializable {
  private val kinds = Array("view", "click", "add_to_cart", "purchase", "refund",
    "search", "message", "review")
  private val plainChars = "abcdefghijklmnopqrstuvwxyz0123456789 -_.,".toCharArray
  // characters JsonRowSerializer and the graft-bq writer must escape or
  // carry as multi-byte UTF-8
  private val escapeChars = Array("\"", "\\", "\n", "\t", "\r", "\u0001", "é", "€", "中", "😀")

  /** Inverse CDF over user ranks: rank r has weight 1/(r+1)^s. */
  private val cdf: Array[Double] = {
    val w = Array.tabulate(shape.users)(r => math.pow(r + 1.0, -shape.zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def event(id: Long): Event = {
    val rnd = new java.util.SplittableRandom(mix(seed * 0x632BE59BD9B4E019L + id))
    val u = rnd.nextDouble()
    var lo = 0
    var hi = cdf.length - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    // ranks map to scattered user ids, so the hottest key is not user 0
    val user = (mix(seed + lo) & 0x7FFFFFFFL) % 1000000000L
    val len =
      if (shape.payloadMax == shape.payloadMin) shape.payloadMin
      else math.exp(math.log(shape.payloadMin) +
        rnd.nextDouble() * (math.log(shape.payloadMax) - math.log(shape.payloadMin))).toInt
    val sb = new java.lang.StringBuilder(len + 8)
    while (sb.length < len) sb.append(plainChars(rnd.nextInt(plainChars.length)))
    if (rnd.nextDouble() < shape.escapeShare)
      sb.insert(rnd.nextInt(sb.length), escapeChars(rnd.nextInt(escapeChars.length)))
    val payload = if (rnd.nextDouble() < shape.nullShare) None else Some(sb.toString)
    val amount = if (rnd.nextDouble() < shape.nullShare) None
      else Some(math.round(rnd.nextDouble() * 100000) / 100.0)
    val kind = kinds(rnd.nextInt(kinds.length))
    val ts = new Timestamp(1700000000000L + id * 37L + rnd.nextInt(1000))
    // serialized-size estimate: field names and punctuation plus values
    val size = 110 + kind.length + payload.map(_.length).getOrElse(0)
    Event(id, user, ts, kind, payload, amount, rnd.nextBoolean(), size)
  }

  def events(from: Long, until: Long): Seq[Event] = (from until until).map(event)
}

object Inputs {
  val columns: Seq[String] = Seq("event_id", "user_id", "ts", "kind", "payload", "amount", "flag", "size_bytes")

  /** Order-independent checksum over the event columns: 40-bit row
    * hashes summed, so duplicates and losses both move it. */
  def checksumCol: Column =
    sum(xxhash64(columns.map(col): _*).bitwiseAND(lit(0xFFFFFFFFFFL)))

  /** (rows, checksum) of `df` over the event columns. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), checksumCol).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Events [from, until) generated on the executors and cached. */
  def generate(spark: SparkSession, gen: Gen, from: Long, until: Long, parts: Int): Dataset[Event] = {
    import spark.implicits._
    spark.range(from, until, 1, parts).as[Long].mapPartitions(_.map(gen.event))
  }

  /** Count and checksum of the hottest keys, for the run's input
    * fingerprint: two runs with equal fingerprints used equal inputs. */
  def hotKeys(df: DataFrame, k: Int): Seq[(Long, Long)] =
    df.groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
}
