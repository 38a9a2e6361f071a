package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, count, sum}

import graft.GraftDB
import graft.streaming.Ingest
import graft.ts.{Rollup, Store, TimeSeriesOps}

/** ts_live: a dashboard over a store that is being written, one client in
  * a closed loop.
  *
  * The fleet is four PMU-like streams. Two are live: every batch lands
  * one fixed-size (uuid, time, value) parquet file with new samples for
  * each of them plus out-of-order backfill into older windows, and commits
  * it with one `Ingest.intoStore(..., rollup)` call (AvailableNow). Fresh
  * reads of the just-written window follow: rollup-served aligned windows
  * with tombstone invalidation, and raw values. Two are archive streams,
  * which the dashboard panels read (a page is the Panels mix, six panels
  * per batch).
  *
  * Flush and compaction policy, a cycle of two batches fixed by batch
  * number b:
  *   - b % 2 == 0: one `deleteRange` in the older half of a live stream's
  *     history, rollup-served windows read across it, then
  *     `Rollup.compactDeltas`;
  *   - b % 2 == 1: `Rollup.build` over the visible points (absorbs the
  *     deltas and the deletes), then `Store.compact`. The rebuild has to
  *     come first: compaction drops tombstones the rollup still needs for
  *     invalidation.
  * One pass is one such cycle: two commits, one dashboard page, four
  * fresh reads, one delete with its read, one delta compaction and one
  * rebuild with store compaction.
  */
final class TsLive(run: Run) extends Workload with Truth {
  import TsLive._
  private val spark = run.spark
  private val fleet = Fleet(run.seed, Streams, Points, PeriodUs, gaps = 2)
  private val panels = new Panels(run, fleet, Levels, Live until Streams, this)
  private var base: String = _
  private var db: GraftDB = _
  private var rollup: Rollup = _
  private var batch = 0
  private var page = 0
  /** Generator-side truth: per stream, the deleted initial indices and the
    * expected (count, micro-unit sum) of visible points.
    */
  private var deleted: IndexedSeq[mutable.BitSet] = IndexedSeq.empty
  private var expected: Array[(Long, Long)] = Array.empty
  private val setupLayer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def landing = s"$base/landing"
  private def checkpoint = s"$base/checkpoint"

  private def timed[T](k: String)(body: => T): T = {
    val t = run.now
    val r = body
    setupLayer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += run.now - t
    r
  }

  /** Register the streams, bulk-load the fleet, build the rollup. */
  private def setup(i: Int): Unit = {
    run.rmrf(run.dir(s"ts${i - 1}"))
    base = run.dir(s"ts$i")
    db = GraftDB(spark, base)
    timed("meta.create_s") {
      fleet.uuids.indices.foreach(s => db.create(fleet.uuids(s), fleet.collection(s), fleet.tags(s)))
    }
    timed("store.write_s")(db.store.insertBatch(fleet.frame(spark)))
    rollup = Rollup(spark, s"$base/rollup", Levels)
    timed("rollup.build_s")(rollup.build(visible(db.store), Seq("uuid")))
    panels.db = db
    panels.rollup = rollup
    panels.builtAt = db.store.versionsFor(fleet.uuids)
    batch = 0
    deleted = fleet.uuids.indices.map(_ => mutable.BitSet.empty)
    expected = fleet.uuids.indices.map { s =>
      val idx = (0 until fleet.points).filter(fleet.present(s, _))
      (idx.size.toLong, idx.map(i => fleet.milli(s, i) * 1000L).sum)
    }.toArray
  }

  private def visible(store: Store): DataFrame =
    store.pointsAt(None).select(col("uuid"), col("time").as("t_us"), col("value"))

  def points(s: Int, a: Long, b: Long): Seq[(Long, Long)] = {
    val initial = fleet.indices(s, a, b).filterNot(deleted(s)).map(i => (fleet.time(s, i), fleet.milli(s, i)))
    val ingested =
      if (s >= Live) Iterator.empty
      else (0 until batch).iterator.flatMap(bb => (0 until PerStream).map(k => point(fleet, s, bb, k)))
        .filter { case (t, _) => t >= a && t < b }
    (initial ++ ingested).toSeq.sortBy(_._1)
  }

  // ---- the batch generator ----

  private def batchFrame(b: Int): DataFrame = {
    val f = fleet
    spark.range(0L, Live.toLong * PerStream, 1L, 1).as(Encoders.scalaLong)
      .map { idx =>
        val s = (idx / PerStream).toInt
        val (t, m) = point(f, s, b, (idx % PerStream).toInt)
        (f.uuids(s), t, m / 1000.0)
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaDouble))
      .toDF("uuid", "time", "value")
  }

  /** Land batch b: write it aside, then move its one file into the
    * watched directory, as an upstream writer publishing a file would.
    */
  private def land(b: Int): Unit = {
    val tmp = s"$base/landing_tmp/b$b"
    batchFrame(b).write.parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(landing))
    fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).foreach { p =>
        require(fs.rename(p, new org.apache.hadoop.fs.Path(landing, f"b$b%05d.parquet")),
          s"could not land $p")
      }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    (0 until Live).foreach { s =>
      val pts = (0 until PerStream).map(k => point(fleet, s, b, k))
      expected(s) = (expected(s)._1 + pts.size, expected(s)._2 + pts.map(_._2 * 1000L).sum)
    }
  }

  /** Rollup-served windows of one stream, stale ranges invalidated by the
    * store's tombstones.
    */
  private def served(u: String, a: Long, b: Long, pw: Int): DataFrame =
    rollup.alignedWindows(db.stream(u).points(), Seq("uuid"), a, b, pw,
        invalid = Some(Rollup.tombstoneRanges(db.store.tombstones).filter(col("uuid") === u)))
      .filter(col("uuid") === u).drop("uuid")

  // ---- the steps of a batch ----

  private final class Phase {
    val reads = mutable.ArrayBuffer.empty[Double]
    val commits = mutable.ArrayBuffer.empty[Double]
    var writeCallsS = 0.0
    var points = 0L
    val deltaDirs = mutable.ArrayBuffer.empty[Double]
    val storeFiles = mutable.ArrayBuffer.empty[Double]
    val storeBytes = mutable.ArrayBuffer.empty[Double]
  }

  private def note(acc: Option[LayerAcc], kind: String, oc: Option[OpCounts]): Unit =
    for (a <- acc; c <- oc) { a.add(c); a.add(c, s"live.$kind.") }

  /** Run one step; returns its time (the sum of its operations). */
  private def step(name: String, d: Draw, ph: Phase, acc: Option[LayerAcc]): Option[Double] = {
    val before = ph.reads.sum + ph.commits.sum + ph.writeCallsS
    val readsBefore = ph.reads.size
    name match {
      case "commit" => commitStep(ph, acc)
      case "fresh" => freshStep(batch - 1, d, ph, acc)
      case "panel" =>
        panels.read(Panels.Page(page % Panels.Page.size), d, acc).foreach(l => ph.reads += l)
        page += 1
      case m if m.startsWith("maintain") => maintainStep(batch - 1, d, ph, acc)
    }
    Some(ph.reads.sum + ph.commits.sum + ph.writeCallsS - before)
      .filter(_ => name != "panel" || ph.reads.size > readsBefore)
  }

  private def commitStep(ph: Phase, acc: Option[LayerAcc]): Unit = {
    val b = batch
    land(b)
    val commit = run.call("commit", "ingest") {
      val q = Ingest.intoStore(spark, landing, db.store, checkpoint, rollup = Some(rollup))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    batch += 1
    commit.foreach { case (_, lat, oc) =>
      ph.commits += lat
      ph.points += Live.toLong * PerStream
      note(acc, "commit", oc)
    }
    if (acc.isDefined) {
      ph.deltaDirs += Levels.map(pw => Option(new java.io.File(s"$base/rollup/rollup_pw$pw").listFiles())
        .toSeq.flatten.count(_.getName.startsWith("delta="))).sum.toDouble
      val (bytes, files) = run.du(s"$base/points")
      ph.storeFiles += files.toDouble; ph.storeBytes += bytes.toDouble
    }
  }

  /** Fresh reads of the window batch b just wrote, on one live stream. */
  private def freshStep(b: Int, d: Draw, ph: Phase, acc: Option[LayerAcc]): Unit = {
    val s = d.int(Live)
    val u = fleet.uuids(s)
    val a = fleet.time(s, fleet.points.toLong + b.toLong * Forward)
    val e = fleet.time(s, fleet.points.toLong + (b + 1).toLong * Forward - 1) + 1
    run.read("fresh_aligned")(served(u, a, e, FreshPw)).foreach { case (rows, lat, oc) =>
      panels.checkStats("fresh_aligned", s, rows, points(s, a, e), t => (t >> FreshPw) << FreshPw)
      ph.reads += lat; note(acc, "fresh_aligned", oc)
    }
    val za = math.max(a, e - 60L * 1000000L)
    run.read("fresh_raw")(db.stream(u).rawValues(za, e)).foreach { case (rows, lat, oc) =>
      val got = rows.map(x => (x.getLong(0), x.getDouble(1))).sortBy(_._1).toSeq
      val want = points(s, za, e).map { case (t, m) => (t, m / 1000.0) }
      run.check(got == want, s"fresh_raw $u [$za,$e): ${got.size} rows, expected ${want.size}")
      ph.reads += lat; note(acc, "fresh_raw", oc)
    }
  }

  private def maintainStep(b: Int, d: Draw, ph: Phase, acc: Option[LayerAcc]): Unit =
    b % CycleBatches match {
      case 0 =>
        val ds = d.int(Live)
        val du = fleet.uuids(ds)
        val half = fleet.points / 2
        val i0 = d.int(half - 2000)
        val i1 = i0 + 200 + d.int(1800)
        val (t0, t1) = (fleet.time(ds, i0), fleet.time(ds, i1))
        run.call("delete_range", "store")(db.store.deleteRange(du, t0, t1)).foreach { case (_, lat, oc) =>
          ph.writeCallsS += lat
          (i0 until i1).foreach { i =>
            if (fleet.present(ds, i) && !deleted(ds)(i)) {
              deleted(ds) += i
              expected(ds) = (expected(ds)._1 - 1, expected(ds)._2 - fleet.milli(ds, i) * 1000L)
            }
          }
          note(acc, "delete_range", oc)
        }
        val (ra, rb) = (t0 - 600L * 1000000L, t1 + 600L * 1000000L)
        run.read("post_delete_aligned")(served(du, ra, rb, DeletePw)).foreach { case (rows, lat, oc) =>
          panels.checkStats("post_delete_aligned", ds, rows, points(ds, ra, rb), t => (t >> DeletePw) << DeletePw)
          ph.reads += lat; note(acc, "post_delete_aligned", oc)
        }
        run.call("compact_deltas", "rollup")(rollup.compactDeltas(Seq("uuid"))).foreach {
          case (_, lat, oc) => ph.writeCallsS += lat; note(acc, "compact_deltas", oc)
        }
      case _ =>
        run.call("rollup_rebuild", "rollup")(rollup.build(visible(db.store), Seq("uuid"))).foreach {
          case (_, lat, oc) => ph.writeCallsS += lat; note(acc, "rollup_rebuild", oc)
        }
        run.call("store_compact", "store")(db.store.compact()).foreach {
          case (_, lat, oc) => ph.writeCallsS += lat; note(acc, "store_compact", oc)
        }
    }

  /** A timed phase: the cycle's steps in order until the time is up and
    * at least one cycle completed. Returns the phase and the pass time.
    */
  private def phase(seconds: Double, acc: Option[LayerAcc]): (Phase, Double) = {
    val d = new Draw(run.seed + batch)
    val ph = new Phase
    // steps are named by their position in the cycle so each has its own
    // mean; the cycle starts where the batch count stands
    val start = batch % CycleBatches
    val cycle = (0 until CycleBatches).flatMap { i =>
      val b = (start + i) % CycleBatches
      Seq("commit", "fresh") ++ Seq.fill(PanelsPerBatch)("panel") :+ s"maintain$b"
    }
    val done = run.loop(seconds, cycle)(name => step(name, d, ph, acc))
    (ph, Stats.passTime(done, cycle))
  }

  /** Every acknowledged batch is visible through a freshly constructed
    * Store and Rollup over the same base: per-stream counts and exact
    * micro-unit sums, and rollup-served windows equal to raw windows.
    */
  private def checkDurable(): Unit = {
    val store = Store(spark, base)
    val got = store.pointsAt(None).groupBy("uuid")
      .agg(count(col("value")).as("n"), sum(graft.Quant.us6(col("value"))).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    fleet.uuids.indices.foreach { s =>
      run.check(got.get(fleet.uuids(s)).contains(expected(s)),
        s"totals of ${fleet.uuids(s)}: ${got.get(fleet.uuids(s))}, expected ${expected(s)}")
    }
    val r = Rollup(spark, s"$base/rollup", Levels)
    val end = fleet.time(0, fleet.points.toLong + batch.toLong * Forward) + 3600L * 1000000L
    val raw = visible(store)
    def key(x: Row) = (x.getAs[String]("uuid"), x.getAs[Long]("w_start"), x.getAs[Double]("v_min"),
      x.getAs[Double]("v_mean"), x.getAs[Double]("v_max"), x.getAs[Long]("v_count"))
    val fromRollup = r.alignedWindows(raw, Seq("uuid"), fleet.t0, end, DeletePw,
      invalid = Some(Rollup.tombstoneRanges(store.tombstones))).collect().map(key).sorted
    val fromRaw = TimeSeriesOps.alignedWindows(raw, Seq("uuid"), fleet.t0, end, DeletePw)
      .collect().map(key).sorted
    run.check(fromRollup.sameElements(fromRaw),
      s"fresh rollup differs from raw: ${fromRollup.length} vs ${fromRaw.length} windows")
  }

  def execute(): Unit = {
    val setupS = run.setups(SetupReps)(setup)
    setupLayer.foreach { case (k, v) => run.report += s"setup $k: ${v.map(x => f"$x%.3f").mkString(" ")}" }
    // warm-up: one batch, a full page and every maintenance step,
    // unmeasured (checked, but not counted as attempted)
    val (a0, f0) = (run.attempted, run.failed)
    val (dw, pw) = (new Draw(run.seed * 7919), new Phase)
    Seq("commit", "fresh").foreach(step(_, dw, pw, None))
    Panels.Page.foreach(_ => step("panel", dw, pw, None))
    (0 until CycleBatches).foreach(maintainStep(_, dw, pw, None))
    require(run.failed == f0, "warm-up operations failed")
    run.attempted = a0
    run.opLatency.clear()
    run.mark("warm-up")
    if (!run.traced) {
      run.e2e.put("setup_s", setupS, "s")
      val (_, pass) = phase(run.seconds, None)
      run.report += s"batches committed: $batch"
      run.e2eLatency(run.passReads(PassReads), pass)
    } else {
      val (ph0, pass0) = phase(run.seconds / 2, None)
      run.startTracing()
      val acc = new LayerAcc
      val (ph, pass) = phase(run.seconds / 2, Some(acc))
      run.stopTracing()
      val nb = ph.commits.size.toDouble
      val passes = nb / CycleBatches
      val L = run.layer
      Layers.generic(L, acc, passes)
      Layers.tsScans(L, acc, passes, Seq("dash.rollup_aligned.", "dash.rollup_fallback.",
        "live.fresh_aligned.", "live.post_delete_aligned."))
      setupLayer.foreach { case (k, v) => L.put(k, Stats.median(v.toSeq), "s") }
      Panels.Page.distinct.foreach { k =>
        val n = math.max(1.0, acc(s"dash.$k.ops"))
        L.put(s"dash.$k.s", acc(s"dash.$k.latency_s") / n, "s")
        L.put(s"dash.$k.jobs", acc(s"dash.$k.spark.jobs") / n, "count")
        L.put(s"dash.$k.rows_read", (acc(s"dash.$k.scan.store.rows") + acc(s"dash.$k.scan.rollup.rows")) / n,
          "count")
      }
      L.put("meta.lookup_s", acc("dash.lookup.latency_s") / math.max(1.0, acc("dash.lookup.ops")), "s")
      // per batch
      def c(k: String) = acc(s"live.commit.$k") / nb
      L.put("ingest.batch_s", c("latency_s"), "s")
      L.put("ingest.jobs_per_batch", c("spark.jobs"), "count")
      L.put("ingest.driver_s", c("latency_s") - c("spark.exec_s"), "s")
      L.put("ingest.version_probe_s", acc.sum.collect {
        case (k, v) if k.startsWith("live.commit.qetime.read.") && k.contains("store") => v }.sum / nb, "s")
      L.put("ingest.commit_tail_s", Stats.tail(ph.commits.toSeq)._1, "s")
      L.put("ingest.points_per_s", ph.points / math.max(ph.commits.sum + ph.writeCallsS, 1e-9), "1/s")
      L.put("store.write_s", c("qetime.write.store"), "s")
      L.put("rollup.append_s", c("qetime.write.rollup"), "s")
      L.put("store.compact_s", acc("live.store_compact.latency_s") / nb, "s")
      L.put("rollup.compact_s", (acc("live.compact_deltas.latency_s") +
        acc("live.rollup_rebuild.latency_s")) / nb, "s")
      L.put("rollup.delta_dirs", Stats.median(ph.deltaDirs.toSeq), "count")
      L.put("store.files", Stats.median(ph.storeFiles.toSeq), "count")
      L.put("store.bytes", Stats.median(ph.storeBytes.toSeq), "bytes")
      val bytes = Seq("points", "tombstones", "rollup").map(d => run.du(s"$base/$d")._1).sum
      L.put("store.bytes_per_point", bytes.toDouble / expected.map(_._1).sum, "bytes")
      Layers.overhead(L, ph0.reads.toSeq, pass0, ph.reads.toSeq, pass)
    }
    panels.checkRollupAgainstRaw()
    checkDurable()
  }
}

object TsLive {
  val Streams = 4
  /** Streams 0 until Live receive batches; the rest are the archive. */
  val Live = 2
  val Points = 24000 // initial history per stream: 100 min at 4 Hz
  val PeriodUs = 250000L
  val Forward = 1000 // new samples per live stream per batch
  val Backfill = 100 // out-of-order samples per live stream per batch
  val PerStream = Forward + Backfill
  /** Rollup levels: 2^22 µs (4.2 s), 2^26 (67 s), 2^30 (18 min). */
  val Levels = Seq(22, 26, 30)
  val FreshPw = 24
  val DeletePw = 26
  /** Batches per delete-and-compact-deltas / rebuild-and-compact cycle. */
  val CycleBatches = 2
  /** Dashboard panels read per batch: a page per cycle. */
  val PanelsPerBatch = 6
  /** The reads of one cycle. */
  val PassReads: Seq[String] =
    Seq.fill(CycleBatches)(Seq("fresh_aligned", "fresh_raw")).flatten ++ Panels.Page :+ "post_delete_aligned"
  val SetupReps = 3

  /** Sample k of live stream s in batch b: `Forward` new samples continue
    * the stream, then `Backfill` samples land half a period after existing
    * ones in the newer half of the initial history (never on a deleted
    * range, never on an existing timestamp).
    */
  def point(f: Fleet, s: Int, b: Int, k: Int): (Long, Long) =
    if (k < Forward) {
      val i = f.points.toLong + b.toLong * Forward + k
      (f.time(s, i), f.milli(s, i))
    } else {
      val m = b.toLong * Backfill + (k - Forward)
      val half = f.points / 2
      require(m < half, "backfill slots exhausted")
      val j = half + (m * 7919L) % half
      (f.t0 + j * PeriodUs + PeriodUs / 2 + Math.floorMod(f.hash(s, j, 5), PeriodUs / 8),
        f.milli(s, j + 1000000L))
    }
}
