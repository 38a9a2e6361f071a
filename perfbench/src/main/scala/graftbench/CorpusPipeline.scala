package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.{Corpus, Embeddings}
import graft.mm.Multimodal

/** corpus_pipeline: one client running the curation pass over a landed
  * corpus, stage after stage, each stage's output collected and checked.
  * The pass is pair joins, shuffles and the codegen kernels; it never
  * touches the time-series store.
  */
final class CorpusPipeline(run: Run) extends Workload {
  import CorpusPipeline._
  private val spark = run.spark
  private var gen = CorpusGen(run.seed, 300, 300)
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var recall10 = 0.0
  private var nearRecall = 0.0
  private var textPairs = 0L
  private var simPairs = 0L
  private var clustersOut = 0L
  private var mmPairs = 0L

  /** Land the generated corpus and vectors as parquet and open them. */
  private def setup(i: Int): Unit = {
    run.rmrf(run.dir(s"corpus${i - 1}"))
    val base = run.dir(s"corpus$i")
    import spark.implicits._
    gen.rows.toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$base/docs")
    gen.vecs.toDF("vec_id", "embedding", "label").write.parquet(s"$base/embeddings")
    docs = spark.read.parquet(s"$base/docs")
    emb = spark.read.parquet(s"$base/embeddings")
  }

  private var minhashPairs: Seq[(Long, Long)] = Nil

  /** One stage of the pass: run it, collect it, check it. */
  private def stage(kind: String, acc: Option[LayerAcc]): Option[Double] = {
    val corpus = Corpus(docs)
    val e = Embeddings(emb)
    val build: () => DataFrame = kind match {
      case "quality" => () => corpus.quality()
      case "minhash" => () => corpus.minhashPairs()
      case "clusters" =>
        import spark.implicits._
        val ps = minhashPairs
        () => corpus.clusters(ps.toDF("id_a", "id_b"))
      case "simhash" => () => corpus.simhashPairs()
      case "shard_near" => () => corpus.shardNear()
      case "cosine_pairs" => () => e.cosinePairsAuto(0.95)
      case "knn" => () => e.knn(0.4, 10)
      case "ann_lsh" => () => e.annLsh(Queries, 10)
      case "ann_ivfpq" => () => e.annIvfPq(Queries, 10)
      case "phash" => () => Multimodal.phashPairs(Multimodal.syntheticAssets(spark, docs))
    }
    run.read(kind)(build()).map { case (rows, lat, oc) =>
      for (a <- acc; c <- oc) { a.add(c); a.add(c, s"corpus.$kind.") }
      if (run.check(rows.nonEmpty, s"$kind produced no rows")) check(kind, rows)
      lat
    }
  }

  private def pairsOf(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet

  private def check(kind: String, rows: Array[Row]): Unit = kind match {
    case "quality" =>
      run.check(rows.length == gen.rows.size && rows.forall { r =>
        val q = r.getAs[Double]("quality_score"); q >= 0.0 && q <= 1.0
      }, s"quality: ${rows.length} rows for ${gen.rows.size} docs")
    case "minhash" =>
      val got = pairsOf(rows)
      minhashPairs = got.toSeq
      textPairs = got.size
      nearRecall = gen.nearPairs.count(got).toDouble / gen.nearPairs.size
      val exactPairs = gen.exactGroups.flatMap(g => g.combinations(2).map(p => (p.min, p.max)))
      run.check(exactPairs.forall(got), "minhash missed a planted exact-duplicate pair")
      run.check(nearRecall >= 0.9, s"minhash near-duplicate recall $nearRecall")
    case "clusters" =>
      val cl = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      clustersOut = cl.values.toSet.size
      run.check(gen.exactGroups.forall(g => g.map(cl).distinct.size == 1),
        "clusters split a planted exact-duplicate group")
    case "simhash" =>
      val got = pairsOf(rows)
      run.check(gen.exactGroups.forall(g => g.combinations(2).forall(p => got((p.min, p.max)))),
        "simhash missed a planted exact-duplicate pair")
    case "shard_near" =>
      val kept = rows.map(_.getAs[Long]("doc_id")).toSet
      run.check(gen.exactGroups.forall(g => g.count(kept) <= 1),
        "shard_near kept two copies of a planted duplicate")
    case "cosine_pairs" =>
      simPairs = rows.length
      val found = gen.vecPairs.count(pairsOf(rows)).toDouble / math.max(1, gen.vecPairs.size)
      run.check(found >= 0.8, s"cosine_pairs found $found of the planted vector pairs")
    case "knn" =>
      run.check(rows.groupBy(_.getAs[Long]("vec_id")).forall(_._2.length <= 10), "knn: more than k")
    case "ann_lsh" | "ann_ivfpq" =>
      val byQ = rows.groupBy(_.getAs[Long]("q_id"))
      run.check(byQ.size <= Queries && byQ.forall(_._2.length <= 10), s"$kind: malformed top-10")
    case "phash" =>
      mmPairs = rows.length
  }

  /** The IVF-PQ serving path's recall@10 gate, run once after the timed
    * passes of a traced run (it audits the pass's ANN output, it is not
    * part of the pass).
    */
  private def recallGate(): Double = {
    val t = run.now
    run.read("recall")(Embeddings(emb).recallIvfPq(Queries, 10)).foreach { case (rows, _, _) =>
      recall10 = rows.head.getAs[Double]("recall_10")
      run.check(recall10 >= 0.5, s"ivfpq recall@10 $recall10")
    }
    run.now - t
  }

  private def phase(seconds: Double, acc: Option[LayerAcc]): (Seq[Double], Double) = {
    val done = run.loop(seconds, Pass)(kind => stage(kind, acc))
    (done.map(_._2), Stats.passTime(done, Pass))
  }

  def execute(): Unit = {
    // warm-up on a small corpus: one pass, unmeasured
    setup(-1)
    val (a0, f0) = (run.attempted, run.failed)
    Pass.foreach(stage(_, None))
    require(run.failed == f0, "warm-up pass failed")
    run.attempted = a0
    run.mark("warm-up")
    gen = CorpusGen(run.seed, Docs, Vectors)

    val setupS = run.setups(SetupReps)(setup)
    if (!run.traced) {
      run.e2e.put("setup_s", setupS, "s")
      val (_, pass) = phase(run.seconds, None)
      run.e2eLatency(run.passReads(Pass), pass)
    } else {
      val (lat0, pass0) = phase(run.seconds / 2, None)
      run.startTracing()
      val acc = new LayerAcc
      val (lat, pass) = phase(run.seconds / 2, Some(acc))
      run.stopTracing()
      val n = lat.size.toDouble / Pass.size
      val L = run.layer
      Layers.generic(L, acc, n)
      def st(k: String) = acc(s"corpus.$k.latency_s") / math.max(1.0, acc(s"corpus.$k.ops"))
      Seq("quality", "minhash", "clusters", "simhash", "shard_near").foreach(k => L.put(s"text.${k}_s", st(k), "s"))
      Seq("cosine_pairs", "knn", "ann_lsh", "ann_ivfpq").foreach(k => L.put(s"sim.${k}_s", st(k), "s"))
      L.put("sim.recall_s", recallGate(), "s")
      L.put("mm.phash_s", st("phash"), "s")
      L.put("text.pairs_out", textPairs.toDouble, "count")
      L.put("text.clusters_out", clustersOut.toDouble, "count")
      L.put("text.neardup_recall", nearRecall, "ratio")
      L.put("sim.pairs_out", simPairs.toDouble, "count")
      L.put("sim.ann_recall_at_10", recall10, "ratio")
      L.put("mm.pairs_out", mmPairs.toDouble, "count")
      Kernels.measure(run, docs, emb).foreach { case (k, v) => L.put(s"kernel.$k.ns_per_row", v, "ns/row") }
      Layers.overhead(L, lat0, pass0, lat, pass)
    }
    run.report += f"corpus: ${gen.rows.size} docs, ${gen.vecs.size} vectors, near-dup recall $nearRecall%.3f, " +
      f"text pairs $textPairs, vector pairs $simPairs, phash pairs $mmPairs"
  }
}

object CorpusPipeline {
  /** The curation pass, in order. */
  val Pass = Seq("quality", "minhash", "clusters", "simhash", "shard_near", "cosine_pairs", "knn",
    "ann_lsh", "ann_ivfpq", "phash")
  val Docs = 2000
  val Vectors = 1200
  val Queries = 32
  val SetupReps = 5
}

/** The graft.plans codegen kernels through their SQL functions, timed
  * over the generated corpus in ns per input row: each kernel query minus
  * a baseline query that reads the same rows without the kernel, median
  * of five.
  */
object Kernels {
  def measure(run: Run, docs: DataFrame, emb: DataFrame): Seq[(String, Double)] = {
    val spark = run.spark
    import spark.implicits._
    // materialize the inputs in the client so every timing reads the same
    // in-memory rows; ten copies of the corpus, so the kernels' work is
    // well above the per-query overhead the baseline subtracts
    val norms = docs.select(graft.text.TextFunctions.norm.as("norm")).as[String].collect().toSeq
    Seq.fill(10)(norms).flatten.toDF("norm").createOrReplaceTempView("bench_norm")
    val vecs = emb.select(col("embedding")).as[Array[Float]].collect().toSeq
    val nDocs = spark.table("bench_norm").count().toDouble
    vecs.toDF("embedding").createOrReplaceTempView("bench_vec")
    val nPairs = vecs.size.toDouble * 16
    def time(sql: String): Double = Stats.median((0 until 5).map { _ =>
      val t = run.now; spark.sql(sql).collect(); run.now - t
    })
    val docBase = time("SELECT sum(length(norm)) FROM bench_norm")
    val vecBase = time("SELECT sum(size(a.embedding) + size(b.embedding)) FROM bench_vec a " +
      "CROSS JOIN (SELECT embedding FROM bench_vec LIMIT 16) b")
    def perDoc(expr: String) = (time(s"SELECT sum($expr) FROM bench_norm") - docBase) / nDocs * 1e9
    val out = Seq(
      "minhash_sig" -> perDoc("size(minhash_sig(norm, 3, 64))"),
      "simhash_sig" -> perDoc("simhash_sig(norm) & 1"),
      "hashed_shingles" -> perDoc("size(hashed_shingles(norm, 3))"),
      "fvec_dot" -> ((time("SELECT sum(fvec_dot(a.embedding, b.embedding)) FROM bench_vec a " +
        "CROSS JOIN (SELECT embedding FROM bench_vec LIMIT 16) b") - vecBase) / nPairs * 1e9))
    spark.catalog.dropTempView("bench_norm")
    spark.catalog.dropTempView("bench_vec")
    out
  }
}
