package graftbench

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** Seeded PMU-like fleet: `streams` regularly sampled streams of `points`
  * samples each, `periodUs` apart with up to a quarter period of jitter,
  * and `gaps` outages per stream. Every value is a whole number of
  * thousandths, so micro-unit sums are exact. The same arithmetic that
  * feeds the store answers the output checks.
  */
final case class Fleet(seed: Long, streams: Int, points: Int, periodUs: Long, gaps: Int) {
  val t0: Long = 1700000000000000L // 2023-11-14, whole seconds in µs

  val uuids: IndexedSeq[String] = (0 until streams).map(s =>
    java.util.UUID.nameUUIDFromBytes(s"fleet/$seed/$s".getBytes("UTF-8")).toString)
  val kinds = Seq("voltage", "current", "frequency")
  def site(s: Int): Int = s % 4
  def kind(s: Int): String = kinds(s % kinds.size)
  def collection(s: Int): String = s"pmu/site${site(s)}/${kind(s)}/$s"
  def tags(s: Int): Map[String, String] = Map("kind" -> kind(s), "phase" -> "ABC".charAt(s % 3).toString)

  def hash(a: Long, b: Long, c: Long): Long = Fleet.mix(Fleet.mix(Fleet.mix(seed ^ a) ^ b) ^ c)

  /** Index ranges [from, until) with no samples: outages. */
  val gapRanges: IndexedSeq[Seq[(Int, Int)]] = (0 until streams).map { s =>
    (0 until gaps).map { g =>
      val len = 200 + (Math.floorMod(hash(s, g, 1), 1800L)).toInt
      val slot = points / math.max(1, gaps)
      val from = g * slot + (Math.floorMod(hash(s, g, 2), math.max(1, slot - len).toLong)).toInt
      (from, math.min(points, from + len))
    }
  }

  def present(s: Int, i: Int): Boolean = !gapRanges(s).exists { case (a, b) => i >= a && i < b }

  def time(s: Int, i: Long): Long =
    t0 + i * periodUs + Math.floorMod(hash(s, i, 3), periodUs / 4)

  def milli(s: Int, i: Long): Long = {
    val base = kind(s) match {
      case "voltage" => 120000L + 500L * s
      case "current" => 40000L + 100L * s
      case _ => 60000L
    }
    val swing = Math.floorMod(i * (7 + s), 4000L) - 2000L // triangle-ish ramp
    base + math.abs(swing) * (1 + s % 3) + Math.floorMod(hash(s, i, 4), 1001L) - 500L
  }

  def value(s: Int, i: Long): Double = milli(s, i) / 1000.0

  val history: (Long, Long) = (t0, t0 + points.toLong * periodUs)

  /** Indices of stream s whose samples fall in [start, end). */
  def indices(s: Int, start: Long, end: Long): Iterator[Int] = {
    val lo = math.max(0L, (start - t0) / periodUs - 1).toInt
    val hi = math.min(points.toLong - 1, (end - t0) / periodUs + 1).toInt
    (lo to hi).iterator.filter(i => present(s, i) && { val t = time(s, i); t >= start && t < end })
  }

  /** The whole fleet as (uuid, time, value) rows, generated by the
    * executors from the seed alone.
    */
  def frame(spark: SparkSession): DataFrame = {
    val f = this
    spark.range(0L, streams.toLong * points, 1L, 4).as(Encoders.scalaLong)
      .flatMap { idx =>
        val s = (idx / f.points).toInt
        val i = (idx % f.points).toInt
        if (f.present(s, i)) Iterator((f.uuids(s), f.time(s, i), f.value(s, i))) else Iterator.empty
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaDouble))
      .toDF("uuid", "time", "value")
  }
}

object Fleet {
  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Seeded draws for the client: skewed stream popularity, recent-biased
  * ranges with log-uniform spans.
  */
final class Draw(seed: Long) {
  private val rnd = new java.util.Random(seed)
  def uniform(): Double = rnd.nextDouble()
  def int(n: Int): Int = rnd.nextInt(n)
  def logUniform(lo: Double, hi: Double): Double =
    math.exp(math.log(lo) + rnd.nextDouble() * (math.log(hi) - math.log(lo)))

  /** Zipf(1.1) over n items: item 0 is the most popular. */
  def zipf(n: Int): Int = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
    var u = rnd.nextDouble() * w.sum
    var k = 0
    while (k < n - 1 && u >= w(k)) { u -= w(k); k += 1 }
    k
  }

  private var ranges = 0

  /** A [start, end) range inside [lo, hi) with a span log-uniform in
    * [minSpan, hi - lo], ending near the present more often than not.
    * Spans are stratified: the k-th draw falls in stratum k mod 8 of the
    * span distribution, so every seed reads the same mix of short and long
    * ranges and only where they fall varies.
    */
  def range(lo: Long, hi: Long, minSpan: Long): (Long, Long) = {
    val u = (ranges % 8 + rnd.nextDouble()) / 8
    ranges += 1
    val span = math.exp(math.log(minSpan.toDouble) +
      u * (math.log((hi - lo).toDouble) - math.log(minSpan.toDouble))).toLong
    val back = (math.pow(rnd.nextDouble(), 3) * (hi - lo - span)).toLong
    (hi - back - span, hi - back)
  }
}
