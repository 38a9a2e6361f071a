package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark entry point: `graftbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --result FILE [--spans FILE]`.
  *
  * One workload per JVM. Every file the run writes lives under --work,
  * which the launcher deletes afterwards. The result (one JSON object) is
  * written to --result; a human-readable report goes to stdout.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val threads = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = graft.GraftConf.sessionDefaults(SparkSession.builder()
        .master(s"local[$threads]")
        .appName(s"graftbench-$workload")
        .config("spark.sql.shuffle.partitions", threads.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val run = new Run(spark, seed, seconds, traced, work)
    val w: Workload = workload match {
      case "ts_live" => new TsLive(run)
      case "corpus_pipeline" => new CorpusPipeline(run)
      case other => sys.error(s"unknown workload $other")
    }
    try w.execute()
    catch {
      case e: Throwable =>
        run.fail(s"run aborted: $e")
        e.printStackTrace()
    }
    run.finish(opt("result"), opts.get("spans"))
    spark.stop()
    if (!run.correct) sys.exit(1)
  }
}

/** State shared by the workloads: the session, the seed, the clock, the
  * output checks and the two metric sheets.
  */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: String) {
  val e2e = new Sheet
  val layer = new Sheet
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var tracer: Option[Tracer] = None
  val report = mutable.ArrayBuffer.empty[String]

  def correct: Boolean = failed == 0 && attempted > 0

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"[graftbench] FAILED: $what")
  }

  /** An output check: false counts the operation as failed. */
  def check(ok: Boolean, what: => String): Boolean = { if (!ok) fail(what); ok }

  def now: Double = System.nanoTime() / 1e9
  private val started = now
  /** Note in the report how far into the run a step ended. */
  def mark(step: String): Unit = report += f"$step%-12s done at ${now - started}%7.2f s"

  /** One read: build the DataFrame through the facade, plan it, and
    * collect it to the client. Traced, each phase is a child span.
    */
  def read(name: String)(build: => DataFrame): Option[(Array[Row], Double, Option[OpCounts])] =
    attempt(name) {
      tracer match {
        case None =>
          val t = now
          val rows = build.collect()
          (rows, now - t, None)
        case Some(tr) =>
          val (rows, oc) = tr.op(name) {
            val df = tr.span("build", "build")(build)
            tr.span("plan", "plan")(df.queryExecution.executedPlan)
            tr.span("exec", "exec")(df.collect())
          }
          oc.add("rows_out", rows.length.toDouble)
          (rows, oc.v("latency_s"), Some(oc))
      }
    }

  /** One call that is not a DataFrame read (a commit, a compaction). */
  def call[T](name: String, layerName: String)(body: => T): Option[(T, Double, Option[OpCounts])] =
    attempt(name) {
      tracer match {
        case None =>
          val t = now
          val r = body
          (r, now - t, None)
        case Some(tr) =>
          val (r, oc) = tr.op(name)(tr.span(name, layerName)(body))
          (r, oc.v("latency_s"), Some(oc))
      }
    }

  /** Latencies by operation name, for the report. */
  val opLatency = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Run one operation that yields (result, latency, counts); a throw
    * counts as a failed operation.
    */
  private def attempt[T](name: String)(body: => (T, Double, Option[OpCounts])
                                      ): Option[(T, Double, Option[OpCounts])] = {
    attempted += 1
    try {
      val r = body
      opLatency.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += r._2
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** A path under the run's private directory. */
  def dir(name: String): String = s"$work/$name"

  def rmrf(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Bytes and files under a directory tree (crc side files excluded). */
  def du(path: String): (Long, Long) = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      else if (f.getName.endsWith(".crc")) (0L, 0L)
      else (f.length(), 1L)
    walk(new java.io.File(path))
  }

  /** The median of `reps` timed set-ups, each on its own fresh base. The
    * state of the last one is what the timed phase runs against.
    */
  def setups(reps: Int)(one: Int => Unit): Double = {
    val ts = (0 until reps).map { i =>
      val t = now
      one(i)
      now - t
    }
    report += f"setup_s runs: ${ts.map(t => f"$t%.3f").mkString(" ")}"
    mark("set-ups")
    opLatency.clear()
    Stats.median(ts)
  }

  /** The reads of one pass, each at the mean latency its type had in the
    * timed phase: every run describes the same mix of reads, however far
    * into its last pass the phase got.
    */
  def passReads(reads: Seq[String]): Seq[Double] = reads.map { k =>
    val v = opLatency.getOrElse(k, sys.error(s"no completed $k read"))
    v.sum / v.size
  }

  def e2eLatency(samples: Seq[Double], pass: Double): Unit = {
    mark("timed")
    if (samples.isEmpty) { fail("no operation completed in the timed phase"); return }
    val (tail, p) = Stats.tail(samples)
    val p50 = Stats.hd(samples, 0.5)
    e2e.put("query_p50_s", p50, "s")
    e2e.put("query_tail_s", tail, "s")
    e2e.put("pipeline_s", pass, "s")
    report += f"query latency: n=${samples.size} p50=$p50%.4f s  tail=p$p $tail%.4f s"
    report += f"pipeline: $pass%.4f s"
  }

  /** Run `ops` in order, round after round, until `seconds` have passed
    * and at least one full round ran. Returns the (name, latency) of each
    * completed operation.
    */
  def loop(seconds: Double, ops: Seq[String])(one: String => Option[Double]): Seq[(String, Double)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double)]
    val tEnd = now + seconds
    var k = 0
    while (now < tEnd || k < ops.size) {
      val name = ops(k % ops.size)
      one(name).foreach(l => out += (name -> l))
      k += 1
    }
    out.toSeq
  }

  /** Heap after full collections, once the workload dropped its frames. */
  def retainedHeapMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    bean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Start tracing the operations that follow (the traced half). */
  def startTracing(): Unit = {
    val t = new Tracer(spark)
    t.discard()
    tracer = Some(t)
    traceLog = Some(t)
  }
  def stopTracing(): Unit = tracer = None
  private var traceLog: Option[Tracer] = None

  def finish(resultPath: String, spansPath: Option[String]): Unit = {
    traceLog.foreach { t => spansPath.foreach(t.writeSpans); t.close() }
    tracer = None
    mark("checks")
    if (!traced) e2e.put("retained_heap_mb", retainedHeapMb(), "MB")
    else {
      // after warm-up the codegen cache serves every query, so compiles
      // are counted over the whole run
      layer.put("codegen.compiles",
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble, "count")
      layer.put("codegen.compile_s",
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9, "s")
      Layers.complete(layer)
    }
    val sheet = if (traced) layer else e2e
    mark("heap")
    opLatency.foreach { case (k, v) =>
      println(f"op $k%-22s n=${v.size}%4d median=${Stats.median(v.toSeq)}%.4f s max=${v.max}%.4f s")
    }
    report.foreach(println)
    failures.foreach(f => println(s"failed: $f"))
    sheet.entries.foreach { case (k, v, u) => println(f"$k%-40s $v%.6g $u") }
    val metrics = sheet.entries.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    val json = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics)))
    val w = new java.io.PrintWriter(resultPath, "UTF-8")
    try w.println(json) finally w.close()
  }
}

/** A workload runs its set-ups, its timed phase and its checks, and fills
  * the run's metric sheets.
  */
trait Workload {
  def execute(): Unit
}

/** Per-layer sums over a traced phase. */
final class LayerAcc {
  val sum = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(oc: OpCounts, prefix: String = ""): Unit =
    oc.v.foreach { case (k, x) => sum(prefix + k) = sum(prefix + k) + x }
  def apply(k: String): Double = sum(k)
}
