package graft
import org.apache.spark.sql.SparkSession

/** Shared session-conf plumbing for the runnable mains (Bench / Verify /
  * PlanDump / ScaleUp / OptProbe): one builder and one place for the
  * campaign-only knobs, so an env contract fixed in one main cannot
  * silently desync in another.
  */
object GraftConf {
  /** The session every graft main starts from — each main adds only its
    * own keys on top:
    *  - `local[SPARK_GRAFT_CPUS]` (default 4);
    *  - `spark.sql.shuffle.partitions = SPARK_GRAFT_SHUFFLE` (default the
    *    thread count, right for the gate SFs). Scale campaigns override
    *    it UP: at 1000× a sorted group that fits 24-way at 100× spills at
    *    fixed parallelism — more partitions is exactly what a real
    *    cluster adds (the dedup_span_stats lesson; partitions are the
    *    knob, not the algo);
    *  - UTC session time zone, no UI, `GraftExtensions`;
    *  - [[sessionDefaults]].
    */
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    sessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions"))
  }

  /** Session defaults every graft session shares, applied on top of the
    * caller's own master/shuffle settings.
    *
    * codegen.cache.maxEntries (STATIC conf, so it must be set at session
    * creation): Spark's generated-class cache holds 100 entries by
    * default — a 229-query suite compiles several codegen units per query,
    * so consecutive queries evict each other and EVERY bench sample pays
    * full Janino recompilation of every fragment (measured: see
    * OPTIMIZATION_r16.md §1). 4096 entries holds the whole library's
    * fragments; the cost is bounded driver metaspace for class metadata.
    * This is not a local[32] tune: any long-lived session (a cluster
    * driver serving repeated queries) wants its working set of generated
    * classes resident.
    *
    * maxShuffledHashJoinLocalMapThreshold (AQE): lets AQE rewrite a
    * planned sort-merge join to a shuffled hash join at runtime when
    * every post-shuffle partition of the build side is under the
    * threshold — the shape of the pair-graph self-joins (band buckets,
    * LSH probes: two equal narrow sides, so the static planner's
    * `muchSmaller` test never picks SHJ, and at the decades the two
    * 10⁸-row sorts dominate, guide §3.1). CAMPAIGN-ONLY knob, default
    * OFF, exactly like SPARK_GRAFT_INITIAL_PARTITIONS: measured r17 A/B —
    * at 1000× SHJ collapses the minhash band join (F6 125→72 s,
    * F7 96→37 s, keepBest 62→39 s same-run) but at sf0.1 the conversions
    * it makes cost the emb pair family ~20% per query (reps-sampled
    * subset: 7.6→9.4 s over 8 queries — many tiny hash builds where the
    * sort was already in-memory), and for the hot-key pigeonhole join the
    * sorted merge's sequential cross-product beats per-probe hash-chain
    * walks at every scale (mm M3 25.4 s SMJ vs 30.7 s SHJ at 1000×).
    * Campaigns export SPARK_GRAFT_SHJ_THRESHOLD=64m (the AQE advisory
    * partition size) where the band-join family dominates.
    */
  def sessionDefaults(b: SparkSession.Builder): SparkSession.Builder =
    withInitialPartitions(b)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.get("SPARK_GRAFT_SHJ_THRESHOLD").map(_.trim).filter(_.nonEmpty)
          .getOrElse("0"))

  /** Apply `SPARK_GRAFT_INITIAL_PARTITIONS` as AQE coalesce headroom —
    * the mass-scaled-shuffle knob scale campaigns export (2048+ at the
    * 100×/1000× decades, where a fixed small partition count spills).
    * AQE right-sizes every exchange from runtime map-output stats but can
    * only coalesce DOWN from the initial count, so this is the knob a
    * 1000-executor cluster sets cluster-wide.
    * CAMPAIGN-ONLY, never a session default: the r14 per-family A/B
    * measured even 256 as a 1.5–2.4× per-query tax on the two-phase
    * sliced-scan family at sf0.1 (many tiny exchanges, nothing to
    * spill).
    */
  def withInitialPartitions(b: SparkSession.Builder): SparkSession.Builder =
    initialPartitions(sys.env.get("SPARK_GRAFT_INITIAL_PARTITIONS")).fold(b)(n =>
      b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", n.toString))

  /** The parse behind [[withInitialPartitions]]. Unset, empty (the
    * `VAR= cmd` shell idiom) or non-positive means "leave the conf
    * alone" — Spark's `initialPartitionNum` is checkValue(_ > 0), so
    * passing a literal 0 through would throw at session creation instead
    * of reverting to the shuffle-partitions default. A non-numeric value
    * fails naming the variable instead of with a bare
    * NumberFormatException at session startup.
    */
  def initialPartitions(raw: Option[String]): Option[Int] =
    raw.map(_.trim).filter(_.nonEmpty).map { v =>
      try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_INITIAL_PARTITIONS must be an integer, got '$v'")
      }
    }.filter(_ > 0)
}
