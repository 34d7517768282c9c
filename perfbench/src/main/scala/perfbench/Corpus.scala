package perfbench

import org.apache.spark.sql.catalyst.expressions.XXH64

/**
 * The `corpus_dedup` documents, a pure function of (seed, id).
 *
 * Ids below `base` are originals: 60–149 words drawn uniformly from a
 * 30k-word vocabulary of lower-case pseudo-words, one space apart, so two
 * originals share no 3-word shingle in practice. The last `planted` ids
 * are derived from distinct originals (a smaller id, so the original is
 * the one a cluster keeps), cycling through three kinds: an exact copy,
 * a near copy (one inner word replaced: shingle Jaccard 55/61 to 143/149,
 * all at least 0.9) and a far edit (one word in five replaced, Jaccard
 * about 0.35). The checks use each pair's Jaccard as computed here, not
 * these design figures.
 */
final case class Corpus(seed: Long, docs: Int, planted: Int) {
  val base: Int = docs - planted
  private val stride = base / planted
  require(stride >= 2, "too many planted documents")

  /** Planted kinds. */
  val Exact = 0
  val Near = 1
  val Far = 2

  def kind(id: Int): Int = if (id < base) -1 else (id - base) % 3

  def parent(id: Int): Int =
    (id - base) * stride + Math.floorMod(seed, stride.toLong).toInt

  private def h(a: Long, b: Long): Long = XXH64.hashLong(b, XXH64.hashLong(a, seed))

  private def originalWords(id: Int): Array[String] = {
    val n = 60 + Math.floorMod(h(id, -1L), 90L).toInt
    Array.tabulate(n)(t => Corpus.vocab(Math.floorMod(h(id, t), Corpus.Vocab.toLong).toInt))
  }

  def words(id: Int): Array[String] = kind(id) match {
    case -1 => originalWords(id)
    case Exact => originalWords(parent(id))
    case Near =>
      val w = originalWords(parent(id))
      val at = 5 + Math.floorMod(h(id, -2L), (w.length - 10).toLong).toInt
      w(at) = Corpus.vocab(Math.floorMod(h(id, -3L), Corpus.Vocab.toLong).toInt) + "x"
      w
    case _ =>
      val w = originalWords(parent(id))
      w.indices.foreach { t =>
        if (Math.floorMod(h(id, 1000L + t), 5L) == 0L)
          w(t) = Corpus.vocab(Math.floorMod(h(id, 5000L + t), Corpus.Vocab.toLong).toInt) + "y"
      }
      w
  }

  def text(id: Int): String = words(id).mkString(" ")
}

object Corpus {
  val Vocab = 30000

  /** Lower-case pseudo-words of 1–9 letters, distinct by construction:
    * the index in base 20 over a–t, then 0–5 letters from u–z. */
  lazy val vocab: Array[String] = Array.tabulate(Vocab) { j =>
    val b = new StringBuilder
    var x = j
    do { b += ('a' + x % 20).toChar; x /= 20 } while (x > 0)
    val pad = Math.floorMod(XXH64.hashInt(j, 11L), 6L).toInt
    (0 until pad).foreach(p =>
      b += ('u' + Math.floorMod(XXH64.hashInt(j * 8 + p, 13L), 6L).toInt).toChar)
    b.toString
  }

  /** Distinct 3-word shingles, as the engine's `wordShingles` forms them
    * (a document under 3 words is one shingle). */
  def shingles(w: Array[String]): Set[String] =
    if (w.length <= 3) Set(w.mkString(" "))
    else w.sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: Array[String], b: Array[String]): Double = {
    val x = shingles(a)
    val y = shingles(b)
    (x intersect y).size.toDouble / (x union y).size
  }
}
