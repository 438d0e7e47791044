package graft.perfbench

import java.util.SplittableRandom

/** One generated document. `text` is the raw text handed to graft (null
  * for the planted null-text docs); `clean` is what graft's silver
  * cleaning must turn it into (the body words joined by single spaces),
  * known by construction because every boilerplate piece the generator
  * inserts is one the cleaning rules remove whole. */
final case class Doc(id: Long, text: String, clean: String, lang: String, source: String,
                     vec: Array[Float] = null) {
  def nChars: Long = if (text == null) 0L else text.length.toLong
}

/** Seeded text source: a pseudo-word vocabulary with a Zipf-like rank
  * distribution, gazetteer words sprinkled in so NER has mentions to
  * find, and the boilerplate the silver cleaning strips. */
final class Words(seed: Long, vocabSize: Int = 4000) {
  private val onsets = "bdgklmnprstwy"
  private val vowels = "aeiou"

  /** Lowercase pseudo-words, 2-4 syllables, distinct, none equal to a
    * gazetteer word. */
  val vocab: Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < vocabSize) {
      val n = 2 + r.nextInt(3)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        sb += onsets.charAt(r.nextInt(onsets.length)); sb += vowels.charAt(r.nextInt(5))
      }
      val w = sb.toString
      if (!Words.Gazetteer.contains(w)) seen.add(w)
    }
    seen.toArray(new Array[String](0))
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocab.length)(i => 1.0 / math.pow(i + 1, 1.05))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  def word(r: SplittableRandom): String =
    if (r.nextDouble() < 0.03) Words.Gazetteer(r.nextInt(Words.Gazetteer.length))
    else {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
    }

  def body(r: SplittableRandom, n: Int): Array[String] = Array.fill(n)(word(r))

  /** A pseudo-word of 4-5 random syllables: ordinary letter trigrams,
    * but (almost surely) outside the vocabulary and never repeated. */
  def freshWord(r: SplittableRandom): String = {
    val sb = new StringBuilder
    (0 until 4 + r.nextInt(2)).foreach { _ =>
      sb += onsets.charAt(r.nextInt(onsets.length)); sb += vowels.charAt(r.nextInt(5))
    }
    sb.toString
  }

  /** Body words with boilerplate pieces spliced between them (and a
    * dateline in front). Cleaning removes each piece whole, so the
    * cleaned form is exactly `body.mkString(" ")`. */
  def withBoilerplate(r: SplittableRandom, body: Array[String]): String = {
    val sb = new StringBuilder
    if (r.nextDouble() < 0.5) sb ++= Words.Dateline
    var i = 0
    while (i < body.length) {
      if (i > 0) {
        sb += ' '
        if (r.nextDouble() < 0.04) {
          sb ++= Words.Boilerplate(r.nextInt(Words.Boilerplate.length)); sb += ' '
        }
      }
      sb ++= body(i)
      i += 1
    }
    sb.toString
  }
}

object Words {
  /** graft's built-in gazetteer words, valid or not (blocklisted,
    * below the confidence floor, too short). */
  val Gazetteer: Array[String] =
    Array("spark", "customer", "stream", "data", "query", "window", "merge", "table", "a")
  /** The gazetteer entries NER must keep, with their entity type. */
  val ValidEntities: Map[String, String] = Map(
    "spark" -> "ORG", "customer" -> "PER", "stream" -> "NOR",
    "query" -> "LAW", "window" -> "LAW", "merge" -> "NOR")

  val Dateline = "Jakarta, CNN Indonesia -- "
  val Boilerplate: Array[String] = Array(
    "ADVERTISEMENT BERITA TERKAIT SCROLL TO CONTINUE WITH CONTENT",
    "(ANTARA FOTO/Wahyu Putro)",
    "(CNN Indonesia/Andry Novelino)",
    "[Gambas:Video CNN]",
    "Lihat Juga : Berita Utama Hari Ini\n",
    "\n\n\n")

  /** Sources and the topic category gold's enrichment maps each to. */
  val Sources: Array[(String, String)] = Array(
    "politik-nasional" -> "Politik", "ekonomi-bisnis" -> "Ekonomi",
    "olahraga" -> "Olahraga", "teknologi" -> "Teknologi",
    "kesehatan" -> "Kesehatan", "pendidikan" -> "Pendidikan",
    "hukum-kriminal" -> "Hukum", "internasional" -> "Internasional",
    "hiburan" -> "hiburan", "otomotif" -> "otomotif")

  def lang(r: SplittableRandom): String = if (r.nextDouble() < 0.7) "id" else "en"
  def source(r: SplittableRandom): String = Sources(r.nextInt(Sources.length))._1

  /** Token counts the way graft splits text for NER: Java's
    * `split(" ", -1)`, exact token match. */
  def tokenCounts(text: String): Map[String, Int] =
    if (text == null) Map.empty
    else text.split(" ", -1).iterator.filter(ValidEntities.contains)
      .toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
}

/** Unit vectors with bounded mutual cosine, so the generator knows which
  * docs graft's semantic arm (cosine >= 0.35) must catch.
  *
  * Each direction is `(-1)^(Q(x) + a.x) / 8` over x in GF(2)^6, where Q
  * is a quadratic form from a set whose pairwise differences are all
  * non-degenerate (bent). Two directions from different forms then have
  * cosine exactly +-1/8, two from the same form 0 or -1. A seeded greedy
  * search over the 2^15 alternating 6x6 matrices finds the form set. */
object Directions {
  private val pairs = for (i <- 0 until 6; j <- i + 1 until 6) yield (i, j)

  private def rank2(rows: Array[Int]): Int = {
    val m = rows.clone(); var rank = 0; var col = 0
    while (col < 6 && rank < 6) {
      val p = (rank until 6).find(r => (m(r) >> col & 1) == 1)
      p.foreach { pr =>
        val t = m(pr); m(pr) = m(rank); m(rank) = t
        (0 until 6).foreach(r => if (r != rank && (m(r) >> col & 1) == 1) m(r) ^= m(rank))
        rank += 1
      }
      col += 1
    }
    rank
  }

  /** 15-bit mask → the symmetric zero-diagonal matrix's row bitmasks. */
  private def rows(mask: Int): Array[Int] = {
    val r = new Array[Int](6)
    pairs.zipWithIndex.foreach { case ((i, j), b) =>
      if ((mask >> b & 1) == 1) { r(i) |= 1 << j; r(j) |= 1 << i }
    }
    r
  }

  private def forms(seed: Long): Array[Int] = {
    val order = Array.range(1, 1 << 15)
    val r = new SplittableRandom(seed ^ 0xd1eL)
    for (i <- order.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    order.foreach { m =>
      if (chosen.forall(c => rank2(rows(m ^ c)) == 6)) chosen += m
    }
    chosen.toArray
  }

  /** All directions for `seed`, shuffled; both signs of every vector. */
  def all(seed: Long): Array[Array[Float]] = {
    val out = for {
      q <- forms(seed); a <- 0 until 64; sign <- Seq(1, -1)
    } yield Array.tabulate(64) { x =>
      var e = Integer.bitCount(a & x)
      pairs.zipWithIndex.foreach { case ((i, j), b) =>
        if ((q >> b & 1) == 1 && (x >> i & 1) == 1 && (x >> j & 1) == 1) e += 1
      }
      (if ((e & 1) == 0) sign else -sign) / 8.0f
    }
    val r = new SplittableRandom(seed ^ 0xd12L)
    for (i <- out.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = out(i); out(i) = out(j); out(j) = t
    }
    out
  }

  /** A direction plus small Gaussian noise, renormalized: docs sharing a
    * direction sit at cosine ~0.98, docs on different directions stay
    * below ~0.2. */
  def jitter(r: SplittableRandom, dir: Array[Float], sigma: Double = 0.15): Array[Float] = {
    val v = Array.tabulate(64)(i => dir(i) + sigma / 8.0 * gaussian(r))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-12); val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}
