package perfbench

import java.util.SplittableRandom

/** One generated document. */
final case class Doc(doc_id: Long, lang: String, text: String)

/** Seeded corpus in the shape of the `documents` test table: short
  * documents of random words in five languages. The
  * held-out benchmark is every doc whose id is a multiple of 97 (q112's
  * rule); the rest arrive in two turns chosen by a seeded hash of the id.
  * Planted: exact and one-word-edited copies of earlier docs (so dedup
  * has work within and across turns) and verbatim copies of benchmark
  * docs (so decontamination has work). Every other doc is long enough
  * and random enough to survive every gate, so the shipped id set is
  * known by construction.
  */
object DocGen {

  final case class Corpus(turn1: Seq[Doc], turn2: Seq[Doc], bench: Seq[Doc], shipped: Set[Long])

  /** 4,000 pseudo-words of two to four syllables. The release's leak
    * gate counts shared character 13-grams, so the vocabulary must be
    * large enough that unrelated documents share almost none.
    */
  private val vocab: IndexedSeq[String] = {
    val syl = for (c <- "bcdfglmnprstvz"; v <- "aeiou") yield s"$c$v"
    val r = new SplittableRandom(97L)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < 4000) out += (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.size))).mkString
    out.toIndexedSeq
  }

  private val langs = Seq("en", "en", "en", "fr", "de", "es", "zh")

  /** The turn (1 or 2) a non-benchmark doc arrives in. */
  def turnOf(seed: Long, id: Long): Int = {
    var z = seed * 0x9E3779B97F4A7C15L + id
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    if (((z ^ (z >>> 31)) & 1L) == 0L) 1 else 2
  }

  def generate(seed: Long, n: Int): Corpus = {
    val r = new SplittableRandom(seed)
    def words(k: Int) = Array.fill(k)(vocab(r.nextInt(vocab.size)))
    val texts = Array.fill(n)(words(20 + r.nextInt(51)))
    val isBench = (i: Int) => i % 97 == 0
    val benchIds = (0 until n).filter(isBench)
    val pool = new scala.util.Random(r.nextLong()).shuffle((0 until n).filterNot(isBench).toVector)

    // 2% verbatim copies of distinct benchmark docs: decontamination drops them
    val contaminated = pool.take(math.min(n / 50, benchIds.size))
    contaminated.zip(benchIds).foreach { case (i, b) => texts(i) = texts(b) }
    // 6% disjoint (original, copy) pairs: half verbatim, half one word
    // changed in a doc of at least 50 words (3-shingle Jaccard >= 0.88)
    val pairs = pool.drop(contaminated.size).take(n * 6 / 100).grouped(2).collect {
      case Seq(a, b) => (a, b)
    }.toVector
    pairs.zipWithIndex.foreach { case ((orig, copy), k) =>
      if (texts(orig).length < 50) texts(orig) = words(50 + r.nextInt(21))
      val t = texts(orig).clone()
      if (k % 2 == 1) {
        val at = r.nextInt(t.length)
        t(at) = vocab.filterNot(_ == t(at))(r.nextInt(vocab.size - 1))
      }
      texts(copy) = t
    }
    // first-arrived survives: the earlier turn, then the lower id
    val dropped = pairs.map { case (a, b) =>
      val (ta, tb) = (turnOf(seed, a), turnOf(seed, b))
      if (ta != tb) (if (ta > tb) a else b) else math.max(a, b)
    } ++ contaminated

    val docs = (0 until n).map(i => Doc(i.toLong, langs(r.nextInt(langs.size)), texts(i).mkString(" ")))
    val (bench, rest) = docs.partition(d => isBench(d.doc_id.toInt))
    val (t1, t2) = rest.partition(d => turnOf(seed, d.doc_id) == 1)
    Corpus(t1, t2, bench, rest.map(_.doc_id).toSet -- dropped.map(_.toLong))
  }

  def cellBytes(docs: Seq[Doc]): Long =
    docs.iterator.map(d => 8L + d.lang.length + d.text.getBytes("UTF-8").length).sum
}
