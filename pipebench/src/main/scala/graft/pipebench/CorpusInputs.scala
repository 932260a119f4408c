package graft.pipebench

import java.util.SplittableRandom

import WeatherInputs.mix

final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Vec(vec_id: Long, embedding: Seq[Float], label: Int)

/** Seeded generator of the curation corpus: documents with a stated
  * near-duplicate share, and clustered 64-dimensional vectors.
  *
  *  - A fresh document is 40–80 words drawn uniformly from a 3,000-word
  *    vocabulary, so two fresh documents share almost no word 3-grams.
  *  - With probability `nearDupShare` a document is instead a copy of an
  *    earlier document (base corpus, an earlier batch, or earlier in its
  *    own batch) with one or two words replaced: word-3-gram Jaccard
  *    ≈ 0.8–0.9, above the pair graph's 0.5 threshold.
  *  - Vectors are a centroid (one of `clusters`, N(0, 1) per coordinate)
  *    plus N(0, 1) noise per coordinate. Rows `vec_id < 5` are the NSW query set.
  *
  * Batch `b` continues the id ranges of the base corpus, so batch ids are
  * disjoint from everything resident, as the appends require.
  */
final case class CorpusInputs(seed: Long, baseDocs: Int, batchDocs: Int,
                              baseVecs: Int, batchVecs: Int,
                              nearDupShare: Double = 0.2, clusters: Int = 8) {
  import CorpusInputs._

  private def rng(salt: Long, a: Long): SplittableRandom = new SplittableRandom(mix(mix(seed, salt), a))

  private def freshWords(r: SplittableRandom): Array[Int] =
    Array.fill(40 + r.nextInt(41))(r.nextInt(Vocab))

  /** Documents `from until until` (ids), each derived from its own id, so
    * any prefix of the id space is generated identically.
    */
  def docs(from: Long, until: Long): Seq[Doc] = {
    val words = new scala.collection.mutable.HashMap[Long, Array[Int]]
    def wordsOf(id: Long): Array[Int] = words.getOrElseUpdate(id, {
      val r = rng(3, id)
      if (id > 0 && r.nextDouble() < nearDupShare) {
        val w = wordsOf(r.nextLong(id)).clone()
        (0 until 1 + r.nextInt(2)).foreach(_ => w(r.nextInt(w.length)) = r.nextInt(Vocab))
        w
      } else freshWords(r)
    })
    (from until until).map { id =>
      val text = wordsOf(id).map(word).mkString(" ")
      Doc(id, text, "en", s"src${id % 7}", text.length.toLong)
    }
  }

  private lazy val centroids: Array[Array[Double]] = {
    val r = rng(4, 0)
    Array.fill(clusters)(Array.fill(Dim)(gaussian(r)))
  }

  def vecs(from: Long, until: Long): Seq[Vec] = (from until until).map { id =>
    val r = rng(5, id)
    val c = r.nextInt(clusters)
    Vec(id, centroids(c).toSeq.map(x => (x + Noise * gaussian(r)).toFloat), c)
  }

  def baseDocRows: Seq[Doc] = docs(0, baseDocs)
  def baseVecRows: Seq[Vec] = vecs(0, baseVecs)
  def batchDocRows(b: Int): Seq[Doc] = docs(baseDocs + b.toLong * batchDocs, baseDocs + (b + 1L) * batchDocs)
  def batchVecRows(b: Int): Seq[Vec] = vecs(baseVecs + b.toLong * batchVecs, baseVecs + (b + 1L) * batchVecs)
}

object CorpusInputs {
  val Vocab = 3000
  val Dim = 64
  val Queries = 5
  val K = 3
  val Noise = 1.0

  private val syllables = Array("ka", "lo", "mi", "ne", "su", "ta", "ro", "vi", "da", "pe",
    "zu", "go", "ha", "ji", "qu", "ya")
  /** Word `i` of the vocabulary: its base-16 digits spelled as syllables. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb.append(syllables(x & 15)); x >>>= 4 } while (x > 0)
    sb.toString
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box–Muller: deterministic for a given generator state
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact cosine top-k of each query (`vec_id < Queries`) over the corpus
    * rows `vec_id >= Queries`, ties broken by the smaller id — the
    * brute-force answer the NSW recall is measured against.
    */
  def exactTopK(all: Seq[Vec]): Map[Long, Seq[Long]] = {
    val (qs, corpus) = all.partition(_.vec_id < Queries)
    qs.map { q =>
      q.vec_id -> corpus
        .map(v => (BigDecimal(cosine(q.embedding, v.embedding)).setScale(6, BigDecimal.RoundingMode.HALF_UP), v.vec_id))
        .sortBy { case (s, id) => (-s, id) }
        .take(K).map(_._2)
    }.toMap
  }
}
