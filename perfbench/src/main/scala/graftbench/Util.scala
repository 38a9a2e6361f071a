package graftbench

import scala.collection.mutable

/** Order statistics as the benchmark reports them. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Mean time of one pass: each operation type of the pass at the mean
    * latency it had in the sample. The timed phase may end inside a pass;
    * this counts every completed operation, and needs one of each type.
    */
  def passTime(samples: Seq[(String, Double)], pass: Seq[String]): Double = {
    val byKind = samples.groupMap(_._1)(_._2)
    pass.map(k => byKind.get(k).map(v => v.sum / v.size)
      .getOrElse(sys.error(s"no completed $k operation"))).sum
  }

  /** The tail: the highest whole percentile that leaves at least ten
    * samples beyond it, with that percentile. Below 20 samples no
    * percentile above the median qualifies, and the median is reported at
    * p50.
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val n = xs.size
    val p = (99 to 50 by -1).find(p => n * (100 - p) / 100.0 >= 10.0).getOrElse(50)
    (hd(xs, p / 100.0), p)
  }

  /** Harrell–Davis estimate of the q-quantile: a Beta-weighted mean of
    * all order statistics. A latency sample mixes operation types whose
    * latencies sit in separate clusters; the plain sample median of a few
    * dozen such values jumps between clusters when one operation crosses
    * over, this estimate moves smoothly.
    */
  def hd(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val n = s.size
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    def cdf(x: Double) =
      if (x <= 0) 0.0 else if (x >= 1) 1.0
      else org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
  }
}

/** A flat metric sheet: name -> (value, unit). */
final class Sheet {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def entries: Seq[(String, Double, String)] = m.toSeq.map { case (k, (v, u)) => (k, v, u) }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Finite numbers print with all their digits; the format has no NaN. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value must be finite, got $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
