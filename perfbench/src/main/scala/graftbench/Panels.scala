package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.GraftDB
import graft.ts.{Rollup, TimeSeriesOps}

/** Expected points of one stream over [a, b), (time, value in
  * thousandths), sorted by time: what the generator put there, minus what
  * was deleted.
  */
trait Truth {
  def points(s: Int, a: Long, b: Long): Seq[(Long, Long)]
}

/** Dashboard panels: one read each, through the `GraftDB` facade, with
  * the result collected to the client and checked against the generator.
  * Streams are drawn with Zipf popularity from `streams`; ranges favour
  * recent time with spans log-uniform from a minute to the full history.
  */
final class Panels(run: Run, fleet: Fleet, levels: Seq[Int], streams: IndexedSeq[Int], truth: Truth) {
  import Panels._
  var db: GraftDB = _
  var rollup: Rollup = _
  /** Stream versions the rollup was built at (the handle's invalidation). */
  var builtAt: Map[String, Long] = Map.empty
  private val (hLo, hHi) = fleet.history
  private val sampled = mutable.ArrayBuffer.empty[(Int, Long, Long, Int, Array[Row])]

  /** One panel: draw its parameters, run it, check its output. */
  def read(kind: String, d: Draw, acc: Option[LayerAcc]): Option[Double] = {
    val s = streams(d.zipf(streams.size))
    val u = fleet.uuids(s)
    val h = db.stream(u)
    val (start, end) = d.range(hLo, hHi, 60L * 1000000L)
    val span = end - start
    // a panel ~600 px wide: the pointwidth that gives 300-600 windows
    val panelPw = math.max(1, 63 - java.lang.Long.numberOfLeadingZeros(span / 600))
    def aligned(pw: Int)(t: Long) = (t >> pw) << pw
    def anchored(width: Long)(t: Long) = start + (t - start) / width * width
    val out: Option[(Array[Row], Double, Option[OpCounts])] = kind match {
      case "rollup_aligned" =>
        val pw = math.max(levels.head, panelPw)
        run.read(kind)(h.alignedWindows(rollup, start, end, pw, builtAt(u))).map { r =>
          checkStats(kind, s, r._1, truth.points(s, start, end), aligned(pw))
          if (sampled.size < 6) sampled += ((s, start, end, pw, r._1))
          r
        }
      case "rollup_fallback" =>
        // below the finest level: the rollup serves nothing, raw answers
        val a = math.max(start, end - 20L * 60 * 1000000L)
        val pw = 16 + d.int(levels.head - 16)
        run.read(kind)(h.alignedWindows(rollup, a, end, pw, builtAt(u))).map { r =>
          checkStats(kind, s, r._1, truth.points(s, a, end), aligned(pw)); r
        }
      case "raw_aligned" =>
        run.read(kind)(h.alignedWindows(start, end, panelPw)).map { r =>
          checkStats(kind, s, r._1, truth.points(s, start, end), aligned(panelPw)); r
        }
      case "windows" =>
        val width = math.max(1000000L, span / 450)
        val completeEnd = start + (span / width) * width
        run.read(kind)(h.windows(start, end, width)).map { r =>
          checkStats(kind, s, r._1, truth.points(s, start, completeEnd), anchored(width)); r
        }
      case "raw_values" =>
        val a = end - d.logUniform(60e6, 600e6).toLong
        run.read(kind)(h.rawValues(a, end)).map { r =>
          val got = r._1.map(x => (x.getLong(0), x.getDouble(1))).sortBy(_._1).toSeq
          val want = truth.points(s, a, end).map { case (t, m) => (t, m / 1000.0) }
          run.check(got == want, s"raw_values $u [$a,$end): ${got.size} rows, expected ${want.size}")
          r
        }
      case "nearest" =>
        val t = start + (d.uniform() * span).toLong
        val backward = d.int(2) == 0
        run.read(kind)(h.nearest(t, backward)).map { r =>
          val got = r._1.map(x => (x.getAs[Long]("t_us"), x.getAs[Double]("value"))).toSeq
          val want = nearest(s, t, backward).map { case (tt, m) => (tt, m / 1000.0) }.toSeq
          run.check(got == want, s"nearest $u $t backward=$backward: $got, expected $want")
          r
        }
      case "changes" =>
        val res = 28 + d.int(6)
        run.read(kind)(h.changes(0L, builtAt(u), res)).map { r =>
          val ranges = r._1.map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1)
          val starts = ranges.map(_._1)
          val missed = truth.points(s, hLo, hHi + fleet.periodUs).count { case (t, _) =>
            val k = java.util.Arrays.binarySearch(starts, t)
            val at = if (k >= 0) k else -k - 2
            at < 0 || t >= ranges(at)._2
          }
          run.check(ranges.nonEmpty && missed == 0, s"changes $u res=$res: $missed points uncovered")
          r
        }
      case "m4" =>
        val width = math.max(1000000L, span / 300)
        val completeEnd = start + (span / width) * width
        run.read(kind)(h.m4(start, end, width)).map { r =>
          val want = stats(truth.points(s, start, completeEnd), anchored(width))
          val ok = r._1.length == want.size && r._1.forall { x =>
            want.get(x.getAs[Long]("w_start")).exists { w =>
              x.getAs[Long]("v_count") == w.n && x.getAs[Long]("t_first") == w.tFirst &&
                x.getAs[Long]("t_last") == w.tLast && x.getAs[Double]("v_first") == w.vFirst &&
                x.getAs[Double]("v_last") == w.vLast
            }
          }
          run.check(ok, s"m4 $u [$start,$end) width=$width")
          r
        }
      case "lttb" =>
        val n = 500
        run.read(kind)(h.lttb(start, end, n)).map { r =>
          val pts = truth.points(s, start, end).toMap
          val ok = r._1.length == math.min(n, pts.size) && r._1.forall { x =>
            pts.get(x.getAs[Long]("t_us")).map(_ / 1000.0).contains(x.getAs[Double]("value"))
          }
          run.check(ok, s"lttb $u: ${r._1.length} rows not a $n-point subset of ${pts.size}")
          r
        }
      case "lookup" =>
        val site = d.int(4)
        val kindTag = fleet.kinds(d.int(fleet.kinds.size))
        run.read(kind)(db.lookupStreams(s"pmu/site$site/", Map("kind" -> kindTag))).map { r =>
          val got = r._1.map(_.getAs[String]("uuid")).toSet
          val want = fleet.uuids.indices.filter(x =>
            fleet.collection(x).startsWith(s"pmu/site$site/") && fleet.kind(x) == kindTag)
            .map(fleet.uuids).toSet
          run.check(got == want, s"lookup site$site/$kindTag: ${got.size} streams, expected ${want.size}")
          r
        }
      case "fleet_aligned" =>
        val a = math.max(hLo, end - 3600L * 1000000L)
        val pw = math.max(24, 63 - java.lang.Long.numberOfLeadingZeros((end - a) / 120))
        run.read(kind)(TimeSeriesOps.alignedWindows(
            db.store.pointsAt(None).withColumnRenamed("time", "t_us"), Seq("uuid"), a, end, pw))
          .map { r =>
            val ok = fleet.uuids.indices.forall { x =>
              val want = stats(truth.points(x, a, end), aligned(pw))
              val got = r._1.filter(_.getAs[String]("uuid") == fleet.uuids(x))
              got.length == want.size && got.forall(g => matches(g, want))
            }
            run.check(ok, s"fleet_aligned [$a,$end) pw=$pw")
            r
          }
    }
    out.map { case (_, lat, oc) =>
      for (a <- acc; c <- oc) { a.add(c); a.add(c, s"dash.$kind.") }
      lat
    }
  }

  /** The last point before t (backward) or the first at or after it. */
  private def nearest(s: Int, t: Long, backward: Boolean): Option[(Long, Long)] = {
    var w = 64L * fleet.periodUs
    var found: Option[(Long, Long)] = None
    while (found.isEmpty && w < 4 * (hHi - hLo)) {
      found = if (backward) truth.points(s, t - w, t).lastOption else truth.points(s, t, t + w).headOption
      w *= 4
    }
    found
  }

  def checkStats(kind: String, s: Int, rows: Array[Row], pts: Seq[(Long, Long)],
                 bucket: Long => Long): Unit = {
    val want = stats(pts, bucket)
    run.check(rows.length == want.size && rows.forall(matches(_, want)),
      s"$kind ${fleet.uuids(s)}: ${rows.length} windows, expected ${want.size}")
  }

  /** Rollup-served windows of a sample of the timed reads, recomputed
    * from raw points: they must be bit-identical.
    */
  def checkRollupAgainstRaw(): Unit = sampled.foreach { case (s, a, b, pw, got) =>
    val raw = TimeSeriesOps.alignedWindows(db.stream(fleet.uuids(s)).points(), Seq("uuid"), a, b, pw)
      .drop("uuid").collect()
    def key(r: Row) = (r.getAs[Long]("w_start"), r.getAs[Double]("v_min"), r.getAs[Double]("v_mean"),
      r.getAs[Double]("v_max"), r.getAs[Long]("v_count"))
    run.check(got.map(key).sorted.sameElements(raw.map(key).sorted),
      s"rollup windows differ from raw: ${fleet.uuids(s)} [$a,$b) pw=$pw")
  }
}

object Panels {
  /** A page: every panel type once, rollup-served windows twice. */
  val Page = Seq("rollup_aligned", "raw_values", "nearest", "windows", "rollup_fallback",
    "raw_aligned", "m4", "rollup_aligned", "lttb", "changes", "lookup", "fleet_aligned")

  /** Generator-side statistics of one window. */
  final case class W(n: Long, min: Double, max: Double, sumMilli: Long,
                     tFirst: Long, vFirst: Double, tLast: Long, vLast: Double)

  /** Window statistics of time-sorted (time, thousandths) points. */
  def stats(pts: Seq[(Long, Long)], bucket: Long => Long): Map[Long, W] = {
    val m = mutable.HashMap.empty[Long, W]
    pts.foreach { case (t, milli) =>
      val v = milli / 1000.0
      val k = bucket(t)
      m(k) = m.get(k) match {
        case None => W(1, v, v, milli, t, v, t, v)
        case Some(o) => W(o.n + 1, math.min(o.min, v), math.max(o.max, v), o.sumMilli + milli,
          o.tFirst, o.vFirst, t, v)
      }
    }
    m.toMap
  }

  def matches(r: Row, want: Map[Long, W]): Boolean =
    want.get(r.getAs[Long]("w_start")).exists { w =>
      r.getAs[Long]("v_count") == w.n && r.getAs[Double]("v_min") == w.min &&
        r.getAs[Double]("v_max") == w.max && r.getAs[Double]("v_mean") == mean6(w.sumMilli * 1000L, w.n)
    }

  /** Quant.mean6 on the client: round-half-up of the µ-unit mean. */
  def mean6(sumUs: Long, n: Long): Double =
    java.math.BigDecimal.valueOf(sumUs.toDouble / n)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e6 + 0.0
}
