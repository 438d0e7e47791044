package graft.perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The medallion layer counts `Pipeline.runBatch` must return for a
  * generated corpus, computed from the generator's own knowledge. */
final case class BatchExpect(bronze: Long, gold: Long, entities: Long, categories: Long) {
  def summary: Map[String, Long] = Map("bronze" -> bronze, "silver" -> bronze, "gold" -> gold,
    "entities" -> entities, "gold_analytics" -> categories, "gold_trends" -> categories)
}

/** One generated delta: its docs and the verdict each must get. */
final case class Day(docs: Seq[Doc], verdict: Map[Long, String]) {
  /** Gate counts `Pipeline.runIncremental` must return. */
  def expect: Map[String, Long] = {
    def n(v: String) = verdict.count(_._2 == v).toLong
    // runIncremental reports `quality` after the charlm gate
    val quality = docs.size - n("quality") - n("charlm")
    val exactWithin = quality - n("id_collision") - n("exact_within")
    Map("input" -> docs.size.toLong, "quality" -> quality,
      "charlm_dropped" -> n("charlm"), "id_collision_dropped" -> n("id_collision"),
      "exact_within" -> exactWithin, "exact_new" -> (exactWithin - n("exact_corpus")),
      "neardup_vs_corpus_dropped" -> n("neardup"),
      "substring_vs_corpus_dropped" -> n("substring"),
      "semantic_vs_corpus_dropped" -> n("semantic"),
      "decontaminated" -> 0L, "accepted" -> n("accepted"))
  }
  def acceptedIds: Set[Long] = verdict.collect { case (id, "accepted") => id }.toSet
}

object Inputs {
  /** A medallion corpus: mostly news-like docs (some wrapped in
    * boilerplate), plus planted exact copies, short docs, null texts
    * and boilerplate-only docs that bronze dedup or the gold gate must
    * remove. */
  def batchCorpus(seed: Long, n: Int): Seq[Doc] = {
    val w = new Words(seed)
    val r = new SplittableRandom(seed * 31 + 7)
    val docs = new scala.collection.mutable.ArrayBuffer[Doc](n)
    while (docs.size < n) {
      val id = docs.size.toLong
      val u = r.nextDouble()
      val doc =
        if (u < 0.05 && docs.size > 10) {
          val src = docs(r.nextInt(docs.size))
          src.copy(id = id, lang = Words.lang(r), source = Words.source(r))
        } else if (u < 0.06) Doc(id, null, null, Words.lang(r), Words.source(r))
        else if (u < 0.09) {
          val b = w.body(r, 2 + r.nextInt(3)); Doc(id, b.mkString(" "), b.mkString(" "),
            Words.lang(r), Words.source(r))
        } else if (u < 0.10) {
          val b = w.body(r, 1 + r.nextInt(2))
          Doc(id, Words.Dateline + Words.Boilerplate(r.nextInt(Words.Boilerplate.length)) +
            " " + b.mkString(" "), b.mkString(" "), Words.lang(r), Words.source(r))
        } else {
          val b = w.body(r, words(r))
          val text = if (r.nextDouble() < 0.3) w.withBoilerplate(r, b) else b.mkString(" ")
          Doc(id, text, b.mkString(" "), Words.lang(r), Words.source(r))
        }
      docs += doc
    }
    docs.toSeq
  }

  private def words(r: SplittableRandom): Int = {
    val g = math.sqrt(-2 * math.log(math.max(r.nextDouble(), 1e-12))) *
      math.cos(2 * math.Pi * r.nextDouble())
    math.min(600, 20 + (80 * math.exp(0.6 * g)).toInt)
  }

  /** Bronze keeps the first doc (lowest id) per distinct text and every
    * null-text doc. */
  def bronze(docs: Seq[Doc]): Seq[Doc] = {
    val seen = new java.util.HashSet[String]()
    docs.sortBy(_.id).filter(d => d.text == null || seen.add(d.text))
  }

  def inGold(d: Doc): Boolean = d.clean != null && d.clean.length > 50

  def expectBatch(docs: Seq[Doc]): BatchExpect = {
    val kept = bronze(docs)
    val gold = kept.filter(inGold)
    val cat = Words.Sources.toMap
    BatchExpect(kept.size.toLong, gold.size.toLong,
      kept.map(d => Words.tokenCounts(d.text).size.toLong).sum,
      gold.map(d => cat(d.source)).distinct.size.toLong)
  }

  // ---- daily ingest ---------------------------------------------------

  /** Directions reserved for the standing corpus; each day draws novel
    * docs from its own disjoint block of `DayDirs`. */
  val CorpusDirs = 640
  val DayDirs = 96

  /** The accepted corpus the daily state is bootstrapped from: clean
    * single-spaced text (what `runIncremental` itself indexes), each doc
    * with a vector on one of the corpus directions. */
  def dailyCorpus(seed: Long, n: Int, dirs: Array[Array[Float]]): Seq[Doc] = {
    val w = new Words(seed)
    val r = new SplittableRandom(seed * 17 + 3)
    (0 until n).map { i =>
      val b = w.body(r, if (r.nextDouble() < 0.3) 130 + r.nextInt(30) else 30 + r.nextInt(90))
      Doc(i.toLong, b.mkString(" "), b.mkString(" "), Words.lang(r), Words.source(r),
        Directions.jitter(r, dirs(r.nextInt(CorpusDirs))))
    }
  }

  /** Day `d`'s delta over `corpus`: novel docs plus a planted mix, each
    * planted doc built so exactly one gate must drop it. */
  def dailyDelta(seed: Long, d: Int, size: Int, corpus: IndexedSeq[Doc],
                 dirs: Array[Array[Float]]): Day = {
    val w = new Words(seed)
    val r = new SplittableRandom(seed * 1000003L + d)
    val base = 10000000L * (d + 1)
    val dayDirs = dirs.slice(CorpusDirs + d * DayDirs, CorpusDirs + (d + 1) * DayDirs)
    require(dayDirs.length == DayDirs, s"day $d: out of vector directions")
    def fresh(): Array[Float] = Directions.jitter(r, dayDirs(r.nextInt(dayDirs.length)))
    // every planted doc gets its own corpus source, so no two planted
    // docs can collide with each other instead of with the corpus
    val used = new java.util.HashSet[java.lang.Long]()
    def pick(p: Doc => Boolean): Doc = {
      var c = corpus(r.nextInt(corpus.size))
      while (!p(c) || used.contains(c.id)) c = corpus(r.nextInt(corpus.size))
      used.add(c.id)
      c
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Doc, String)]
    var next = base
    def add(text: String, v: String, vec: Array[Float], id: Long = -1L): Doc = {
      val doc = Doc(if (id >= 0) id else { next += 1; next }, text, text,
        Words.lang(r), Words.source(r), vec)
      out += ((doc, v)); doc
    }
    val k = math.max(1, size / 25) // planted docs per kind: 4% each
    val novel = (0 until size - 8 * k).map { _ =>
      add(w.body(r, 30 + r.nextInt(120)).mkString(" "), "accepted", fresh())
    }
    // within-day exact re-sends: a later copy of today's novel doc
    (0 until k).foreach { _ =>
      val src = novel(r.nextInt(novel.size)); add(src.text, "exact_within", src.vec)
    }
    (0 until k).foreach { _ => val c = pick(_ => true); add(c.text, "exact_corpus", c.vec) }
    (0 until k).foreach { _ =>
      val c = pick(_ => true); add(c.text + " redelivered", "id_collision", c.vec, c.id)
    }
    // one-word edit of a short corpus doc: MinHash catches it, and it
    // is too short to share the substring arm's 64 tokens
    (0 until k).foreach { _ =>
      val c = pick(x => x.text.count(_ == ' ') < 60)
      val t = c.text.split(" "); val i = 1 + r.nextInt(t.length - 2)
      var rep = w.word(r); while (rep == t(i)) rep = w.word(r)
      t(i) = rep
      add(t.mkString(" "), "neardup", fresh())
    }
    // passage lift: 400 words of filler made of fresh pseudo-words,
    // then a whole long corpus doc: whole-doc Jaccard stays far below
    // MinHash's bar, but the copied passage shares every CDC chunk
    (0 until k).foreach { _ =>
      val c = pick(x => x.text.count(_ == ' ') >= 129)
      add(Array.fill(400)(w.freshWord(r)).mkString(" ") + " " + c.text, "substring", fresh())
    }
    // paraphrase: word order reversed, carrying the source's vector
    (0 until k).foreach { _ =>
      val c = pick(_ => true)
      add(c.text.split(" ").reverse.mkString(" "), "semantic", c.vec)
    }
    // garbled: every vowel doubled, so about a third of the doc's char
    // trigrams are ones the corpus model has seen almost never
    (0 until k).foreach { _ =>
      val c = pick(_ => true)
      add(c.text.flatMap(ch => if ("aeiou".indexOf(ch.toInt) >= 0) s"$ch$ch" else ch.toString),
        "charlm", fresh())
    }
    (0 until k).foreach { i =>
      add(if (i % 2 == 0) null else w.body(r, 2).mkString(" "), "quality", fresh())
    }
    Day(out.map(_._1).toSeq, out.map { case (doc, v) => doc.id -> v }.toMap)
  }

  // ---- parquet --------------------------------------------------------

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** Write `docs` as `<dir>/documents.parquet` (and their vectors as
    * `<dir>/embeddings.parquet` when they have any), the schema graft's
    * `Tables` loaders check. */
  def write(spark: SparkSession, docs: Seq[Doc], dir: String, parts: Int = 4): Unit = {
    val rows = docs.map(d => Row(d.id, d.text, d.lang, d.source, d.nChars))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vecs = docs.filter(_.vec != null).map(d => Row(d.id, d.vec.toSeq, 0))
    if (vecs.nonEmpty)
      spark.createDataFrame(spark.sparkContext.parallelize(vecs, parts), vecSchema)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
