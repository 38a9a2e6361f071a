package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished Spark job, attributed to the library module whose code
  * submitted it (the job's call-site file) and to the span open when it
  * started.
  */
final case class JobRec(startMs: Long, endMs: Long, callSite: String, module: String,
                        span: Long, stages: Seq[Int])

/** The counts of one traced operation, taken between its start and end. */
final class OpCounts {
  val v = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, x: Double): Unit = v(k) = v(k) + x
}

/** A span: an operation, one of its phases (build / plan / exec / call),
  * or a Spark job. Times are ms since the tracer started.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startMs: Double, endMs: Double)

/** Per-layer tracing from outside the library: spans around the calls the
  * benchmark makes, a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for Catalyst phases, scan rows and write
  * targets, and Spark's file-listing counter. Spans stay in memory until
  * the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.{QeRec, TaskMetricsRec}
  private val sc = spark.sparkContext
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private def nowMs: Double = (System.nanoTime() - originNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var open = List.empty[Long]

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val tasks = new ConcurrentLinkedQueue[(Int, TaskMetricsRec)]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()


  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) {
        // the result stage's name is the job's short call site
        val site = if (s.stageInfos.isEmpty) "" else s.stageInfos.maxBy(_.stageId).name
        val tag = Option(s.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
          .flatMap(_.toLongOption).getOrElse(-1L)
        jobs.add(JobRec(s.time - originMs, e.time - originMs, site,
          Tracer.moduleOf(site), tag, s.stageIds))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
      val m = e.taskMetrics
      val submitted = Option(stageSubmitMs.get(e.stageId)).getOrElse(e.taskInfo.launchTime)
      tasks.add(e.stageId -> TaskMetricsRec(
        math.max(0L, e.taskInfo.launchTime - submitted), m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      def phase(p: String) = qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)
      qes.add(QeRec(phase(QueryPlanningTracker.ANALYSIS), phase(QueryPlanningTracker.OPTIMIZATION),
        phase(QueryPlanningTracker.PLANNING), Tracer.scans(qe.executedPlan),
        Tracer.writeTarget(qe).map(Tracer.layerOfPath), durationNs))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Drop every event recorded so far (work outside traced ops). */
  def discard(): Unit = {
    org.apache.spark.graftbench.Bus.drain(sc)
    jobs.clear(); tasks.clear(); qes.clear()
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** A span around `body`; jobs the client thread submits inside it carry
    * the span id as a local property.
    */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    open = id :: open
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val start = nowMs
    try body
    finally {
      spans += Span(id, parent, name, layer, start, nowMs)
      open = open.tail
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
    }
  }

  private def filesListed: Long = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount

  /** Trace one operation: `phases` runs inside the op span and opens the
    * build / plan / exec (or call) child spans itself. After it ends the
    * listener bus is drained and every job, task and query execution
    * since the previous op is attributed to this one (there is one client
    * thread, so nothing else runs in between).
    */
  def op[T](name: String)(phases: => T): (T, OpCounts) = {
    val f0 = filesListed
    val firstSpan = spans.size
    val r = span(name, "op")(phases)
    val f1 = filesListed
    org.apache.spark.graftbench.Bus.drain(sc)
    val oc = new OpCounts
    val opSpans = spans.drop(firstSpan)
    val opSpan = opSpans.last
    oc.add("ops", 1)
    oc.add("latency_s", (opSpan.endMs - opSpan.startMs) / 1e3)
    oc.add("build.files_listed", (f1 - f0).toDouble)
    opSpans.filter(_.parent == opSpan.id).foreach { c =>
      oc.add(s"phase.${c.layer}_s", (c.endMs - c.startMs) / 1e3)
    }

    val byId = opSpans.map(s => s.id -> s).toMap
    val js = Iterator.continually(jobs.poll()).takeWhile(_ != null).toSeq.sortBy(_.startMs)
    js.foreach { j =>
      // jobs from other threads (the streaming micro-batch thread) carry
      // no span property: attribute them to the innermost span open at
      // their start
      val parent = byId.get(j.span).map(_.id).getOrElse(
        opSpans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
          .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(opSpan.id))
      val inPhase = byId.get(parent).map(_.layer).getOrElse("op")
      // a job submitted from Spark's own threads (broadcasts, subqueries)
      // has no library frame: it belongs to the phase that waited for it
      val module = if (j.module == "other") inPhase else j.module
      spans += Span(nextId, parent, j.callSite, module, j.startMs.toDouble, j.endMs.toDouble)
      nextId += 1
      oc.add("spark.jobs", 1)
      oc.add(s"jobs.$inPhase", 1)
      oc.add("spark.stages", j.stages.size.toDouble)
    }
    Iterator.continually(tasks.poll()).takeWhile(_ != null).foreach { case (_, t) =>
      oc.add("spark.tasks", 1)
      oc.add("spark.task_wait_s", t.waitMs / 1e3)
      oc.add("spark.task_run_s", t.runMs / 1e3)
      oc.add("spark.task_cpu_s", t.cpuNs / 1e9)
      oc.add("spark.gc_s", t.gcMs / 1e3)
      oc.add("spark.shuffle_bytes", t.shuffleBytes.toDouble)
      oc.add("spark.spill_bytes", t.spillBytes.toDouble)
    }
    Iterator.continually(qes.poll()).takeWhile(_ != null).foreach { q =>
      oc.add("catalyst.analysis_s", q.analysisMs / 1e3)
      oc.add("catalyst.optimizer_s", q.optimizationMs / 1e3)
      oc.add("catalyst.planning_s", q.planningMs / 1e3)
      // action time by what it did: a write into a layer's directory, or
      // a read of a layer's files (the ingest version probes read the store)
      val what = q.writes.map(l => s"write.$l").getOrElse(
        s"read.${q.scans.map(_._1).distinct.sorted.mkString("+")}")
      oc.add(s"qetime.$what", q.durationNs / 1e9)
      q.scans.foreach { case (layer, rows, files) =>
        oc.add(s"scan.$layer.rows", rows.toDouble)
        oc.add(s"scan.$layer.files", files.toDouble)
      }
    }
    oc.add("spark.exec_s", covered(spans.drop(firstSpan + opSpans.size).toSeq) / 1e3)
    selfTimes(opSpan, spans.drop(firstSpan).toSeq).foreach { case (l, s) => oc.add(s"self.$l", s) }
    (r, oc)
  }

  /** Self time per layer under one op: a span's duration minus the time
    * its children cover. Overlapping child jobs (concurrent query stages)
    * share their covered time in proportion to their durations.
    */
  private def selfTimes(root: Span, all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def walk(s: Span, share: Double): Unit = {
      val ch = kids.getOrElse(s.id, Nil)
      val dur = s.endMs - s.startMs
      val cov = covered(ch)
      out(s.layer) += math.max(0.0, dur - cov) * share / 1e3
      val sumDur = ch.map(c => c.endMs - c.startMs).sum
      ch.foreach(c => walk(c, if (sumDur > 0) share * cov / sumDur else share))
    }
    walk(root, 1.0)
    out.toMap
  }

  /** Length of the union of the spans' intervals, ms. */
  private def covered(ss: Seq[Span]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    ss.sortBy(_.startMs).foreach { s =>
      if (curS.isNaN || s.startMs > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s.startMs; curE = s.endMs
      } else curE = math.max(curE, s.endMs)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Spans as JSON lines, ms since the tracer started. */
  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startMs).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num(s.startMs), "dur_ms" -> Json.num(s.endMs - s.startMs))))
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  private final case class TaskMetricsRec(waitMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                                          shuffleBytes: Long, spillBytes: Long)
  private final case class QeRec(analysisMs: Long, optimizationMs: Long, planningMs: Long,
                                 scans: Seq[(String, Long, Long)], writes: Option[String],
                                 durationNs: Long)

  /** The directory a write action writes to, if it is one. */
  def writeTarget(qe: QueryExecution): Option[String] = {
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
      .orElse(qe.executedPlan.collectFirst {
        case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c.outputPath.toString
      })
  }

  /** The library module a job belongs to, by the file of its call site
    * (the innermost frame outside Spark). Jobs the benchmark's own
    * actions trigger are `exec`.
    */
  def moduleOf(callSite: String): String = {
    val file = callSite.split(" at ").lastOption.getOrElse("").split(":").head
    file match {
      case "Store.scala" => "store"
      case "Rollup.scala" => "rollup"
      case "Ingest.scala" => "ingest"
      case "MetaStore.scala" => "meta"
      case "TimeSeriesOps.scala" | "Downsample.scala" => "ts"
      case "GraftDB.scala" => "build"
      case "Corpus.scala" | "TextFunctions.scala" | "Dedup.scala" => "text"
      case "Vectors.scala" | "IvfIndex.scala" => "sim"
      case "Multimodal.scala" => "mm"
      case "Tables.scala" => "build"
      case f if f.nonEmpty && benchFiles(f) => "exec"
      case _ => "other"
    }
  }
  private val benchFiles = Set("Main.scala", "Panels.scala", "TsLive.scala", "CorpusPipeline.scala",
    "Fleet.scala", "CorpusGen.scala")

  /** Rows and files read per scan, by the layer its root path belongs to. */
  def scans(plan: SparkPlan): Seq[(String, Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(String, Long, Long)]
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case r: ReusedExchangeExec => visit(r.child)
        case s: FileSourceScanExec =>
          val root = s.relation.location.rootPaths.map(_.toString).mkString(",")
          def metric(n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
          out += ((layerOfPath(root), metric("numOutputRows"), metric("numFiles")))
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    out.toSeq
  }

  def layerOfPath(root: String): String =
    if (root.contains("/rollup_pw")) "rollup"
    else if (root.contains("/points") || root.contains("/tombstones")) "store"
    else if (root.contains("/streams_meta")) "meta"
    else if (root.contains("/landing")) "ingest"
    else "input"
}
