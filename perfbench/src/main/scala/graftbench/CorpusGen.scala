package graftbench

import scala.collection.mutable

/** Seeded training-data corpus with planted structure.
  *
  * Documents are sentences over a synthetic vocabulary with English
  * stopwords, so most pass the quality and language gates; a share is
  * Spanish-marked or too short, so the gates have something to drop.
  * Planted: exact-duplicate groups (copies differing only in case and
  * whitespace) and near-duplicate pairs (one word substituted). Vectors
  * are 64-d, drawn around `clusters` centres, with planted near-identical
  * pairs.
  */
final case class CorpusGen(seed: Long, docs: Int, vectors: Int) {
  val Sources = Seq("web", "books", "news", "code")
  val Dim = 64
  val Clusters = 32

  private val syll = Seq("ka", "lo", "mi", "ter", "von", "bra", "sul", "den", "po", "rix", "tan", "mel",
    "cor", "vid", "ash", "nu", "pel", "gor", "zin", "bu")
  /** Vocabulary words are at least two syllables: never a stopword. */
  private def word(k: Int): String = {
    val n = 2 + k % 3
    (0 until n).map(j => syll(Math.floorMod(Fleet.mix(k * 31L + j), syll.size.toLong).toInt)).mkString
  }
  private val vocab = (0 until 3000).map(word)
  private val en = Seq("the", "a", "is", "and", "of", "to", "in")
  private val es = Seq("el", "la", "los", "que", "de")

  private def words(r: java.util.Random, n: Int, stop: Seq[String]): IndexedSeq[String] =
    (0 until n).map { _ =>
      if (stop.nonEmpty && r.nextDouble() < 0.3) stop(r.nextInt(stop.size))
      else vocab(math.min(vocab.size - 1, (math.pow(r.nextDouble(), 2.5) * vocab.size).toInt))
    }

  private def sentences(ws: Seq[String]): String =
    ws.grouped(12).map(_.mkString(" ") + ".").mkString(" ")

  /** (doc_id, text, lang, source, n_chars), the planted exact-duplicate
    * groups and the planted near-duplicate pairs (lower id first).
    */
  lazy val (rows, exactGroups, nearPairs) = {
    val r = new java.util.Random(seed)
    val out = mutable.ArrayBuffer.empty[(Long, String, String, String)]
    val groups = mutable.ArrayBuffer.empty[Seq[Long]]
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    def emit(text: String, lang: String): Long = {
      val id = out.size.toLong
      out += ((id, text, lang, Sources(r.nextInt(Sources.size))))
      id
    }
    while (out.size < docs) {
      val u = r.nextDouble()
      if (u < 0.04 && out.size + 4 <= docs) {
        val base = sentences(words(r, 60 + r.nextInt(80), en))
        val copies = 2 + r.nextInt(3)
        groups += (0 until copies).map { c =>
          emit(if (c == 0) base else if (c % 2 == 1) base.toUpperCase else base.replace(" ", "  "), "en")
        }
      } else if (u < 0.10 && out.size + 2 <= docs) {
        val ws = words(r, 70 + r.nextInt(70), en)
        val pos = 10 + r.nextInt(ws.size - 20)
        val edited = ws.updated(pos, vocab(r.nextInt(vocab.size)) + "x")
        pairs += ((emit(sentences(ws), "en"), emit(sentences(edited), "en")))
      } else if (u < 0.18) emit(sentences(words(r, 50 + r.nextInt(90), es)), "es")
      else if (u < 0.22) emit(sentences(words(r, 5 + r.nextInt(8), Nil)), "en")
      else emit(sentences(words(r, 50 + r.nextInt(100), en)), "en")
    }
    (out.toIndexedSeq.map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }, groups.toSeq, pairs.toSeq)
  }

  /** (vec_id, embedding, label) and the planted near-identical pairs. */
  lazy val (vecs, vecPairs) = {
    val r = new java.util.Random(seed ^ 0x5DEECE66DL)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centres = (0 until Clusters).map(_ => Array.fill(Dim)(r.nextGaussian()))
      .map(c => unit(c).map(_.toDouble))
    val out = mutable.ArrayBuffer.empty[(Long, Array[Float], Long)]
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    while (out.size < vectors) {
      val c = r.nextInt(Clusters)
      val v = unit(centres(c).map(_ + 0.12 * r.nextGaussian()))
      out += ((out.size.toLong, v, c.toLong))
      if (r.nextDouble() < 0.05 && out.size < vectors) {
        val w = unit(v.map(_ + 0.01 * r.nextGaussian()))
        pairs += ((out.size - 1L, out.size.toLong))
        out += ((out.size.toLong, w, c.toLong))
      }
    }
    (out.toIndexedSeq, pairs.toSeq)
  }
}
