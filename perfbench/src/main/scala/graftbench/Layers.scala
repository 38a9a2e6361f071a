package graftbench

/** The per-layer metric set. Every traced run reports every name; a layer
  * the workload bypasses reads 0. Values are per pass: one dashboard page,
  * one ingest batch cycle, one corpus pass.
  */
object Layers {
  val SelfLayers = Seq("op", "build", "plan", "exec", "store", "rollup", "ts", "ingest", "meta",
    "text", "sim", "mm", "other")

  val DashOps = Panels.Page.distinct

  /** (name, unit, better) of every per-layer metric. */
  val All: Seq[(String, String, String)] = {
    def lo(n: String, u: String) = (n, u, "lower")
    def hi(n: String, u: String) = (n, u, "higher")
    Seq(
      lo("build.s", "s"), lo("build.jobs", "count"), lo("build.files_listed", "count"),
      lo("catalyst.analysis_s", "s"), lo("catalyst.optimizer_s", "s"), lo("catalyst.planning_s", "s"),
      lo("codegen.compiles", "count"), lo("codegen.compile_s", "s"),
      lo("spark.exec_s", "s"), lo("spark.jobs", "count"), lo("spark.stages", "count"),
      lo("spark.tasks", "count"), lo("spark.task_wait_s", "s"), lo("spark.task_run_s", "s"),
      lo("spark.task_cpu_s", "s"), lo("spark.gc_s", "s"), lo("spark.shuffle_bytes", "bytes"),
      lo("spark.spill_bytes", "bytes")) ++
    SelfLayers.map(l => lo(s"self.${l}_s", "s")) ++
    Seq(
      lo("store.rows_read", "count"), lo("store.files_read", "count"),
      lo("store.rows_read_per_row_out", "ratio"), lo("store.files", "count"),
      lo("store.bytes", "bytes"), lo("store.bytes_per_point", "bytes"), lo("store.write_s", "s"),
      lo("store.compact_s", "s"),
      lo("rollup.level_rows_read", "count"), lo("rollup.raw_rows_read", "count"),
      lo("rollup.rows_read_per_window", "ratio"), lo("rollup.delta_dirs", "count"),
      lo("rollup.append_s", "s"), lo("rollup.compact_s", "s"), lo("rollup.build_s", "s"),
      lo("ingest.batch_s", "s"), lo("ingest.jobs_per_batch", "count"), lo("ingest.driver_s", "s"),
      lo("ingest.version_probe_s", "s"), lo("ingest.commit_tail_s", "s"),
      hi("ingest.points_per_s", "1/s"),
      lo("meta.create_s", "s"), lo("meta.lookup_s", "s")) ++
    DashOps.flatMap(k => Seq(lo(s"dash.$k.s", "s"), lo(s"dash.$k.jobs", "count"),
      lo(s"dash.$k.rows_read", "count"))) ++
    Seq(
      lo("text.quality_s", "s"), lo("text.minhash_s", "s"), lo("text.clusters_s", "s"),
      lo("text.simhash_s", "s"), lo("text.shard_near_s", "s"), hi("text.pairs_out", "count"),
      hi("text.clusters_out", "count"), hi("text.neardup_recall", "ratio"),
      lo("sim.cosine_pairs_s", "s"), lo("sim.knn_s", "s"), lo("sim.ann_lsh_s", "s"),
      lo("sim.ann_ivfpq_s", "s"), lo("sim.recall_s", "s"), hi("sim.pairs_out", "count"),
      hi("sim.ann_recall_at_10", "ratio"),
      lo("mm.phash_s", "s"), hi("mm.pairs_out", "count"),
      lo("kernel.minhash_sig.ns_per_row", "ns/row"), lo("kernel.simhash_sig.ns_per_row", "ns/row"),
      lo("kernel.hashed_shingles.ns_per_row", "ns/row"), lo("kernel.fvec_dot.ns_per_row", "ns/row"),
      lo("trace.overhead_s", "s"), lo("trace.overhead_pipeline_s", "s"))
  }

  /** The layers every workload goes through: facade build, Catalyst and
    * Spark's scheduler, per pass (codegen is counted per run, see Run).
    */
  def generic(sheet: Sheet, acc: LayerAcc, passes: Double): Unit = {
    def per(k: String) = acc(k) / math.max(passes, 1e-9)
    sheet.put("build.s", per("phase.build_s"), "s")
    sheet.put("build.jobs", per("jobs.build"), "count")
    sheet.put("build.files_listed", per("build.files_listed"), "count")
    Seq("analysis", "optimizer", "planning").foreach(p =>
      sheet.put(s"catalyst.${p}_s", per(s"catalyst.${p}_s"), "s"))
    Seq("exec_s", "task_wait_s", "task_run_s", "task_cpu_s", "gc_s").foreach(k =>
      sheet.put(s"spark.$k", per(s"spark.$k"), "s"))
    Seq("jobs", "stages", "tasks").foreach(k => sheet.put(s"spark.$k", per(s"spark.$k"), "count"))
    Seq("shuffle_bytes", "spill_bytes").foreach(k => sheet.put(s"spark.$k", per(s"spark.$k"), "bytes"))
    SelfLayers.foreach(l => sheet.put(s"self.${l}_s", per(s"self.$l"), "s"))
  }

  /** Rows and files the store and rollup scans read. `rollupOps` are the
    * prefixes of the rollup-served operation types: store rows they read
    * are the rollup path's raw fallback.
    */
  def tsScans(sheet: Sheet, acc: LayerAcc, passes: Double, rollupOps: Seq[String]): Unit = {
    def per(k: String) = acc(k) / math.max(passes, 1e-9)
    sheet.put("store.rows_read", per("scan.store.rows"), "count")
    sheet.put("store.files_read", per("scan.store.files"), "count")
    sheet.put("store.rows_read_per_row_out",
      acc("scan.store.rows") / math.max(1.0, acc("rows_out")), "ratio")
    sheet.put("rollup.level_rows_read", per("scan.rollup.rows"), "count")
    val raw = rollupOps.map(p => acc(s"${p}scan.store.rows")).sum
    val level = rollupOps.map(p => acc(s"${p}scan.rollup.rows")).sum
    val windows = rollupOps.map(p => acc(s"${p}rows_out")).sum
    sheet.put("rollup.raw_rows_read", raw / math.max(passes, 1e-9), "count")
    sheet.put("rollup.rows_read_per_window", (raw + level) / math.max(1.0, windows), "ratio")
  }

  /** Traced minus untraced medians of the same workload in one JVM. */
  def overhead(sheet: Sheet, lat0: Seq[Double], pass0: Double, lat: Seq[Double], pass: Double): Unit = {
    if (lat0.nonEmpty && lat.nonEmpty)
      sheet.put("trace.overhead_s", Stats.median(lat) - Stats.median(lat0), "s")
    sheet.put("trace.overhead_pipeline_s", pass - pass0, "s")
  }

  /** Fill the names a workload does not touch with 0 and refuse any name
    * outside the set, so every traced run reports the same metrics.
    */
  def complete(sheet: Sheet): Unit = {
    val known = All.map(_._1).toSet
    val extra = sheet.entries.map(_._1).filterNot(known)
    require(extra.isEmpty, s"per-layer metrics outside Layers.All: $extra")
    All.foreach { case (n, u, _) => if (!sheet.entries.exists(_._1 == n)) sheet.put(n, 0.0, u) }
  }
}
