package graft.perfbench

import graft.operators.{Analytics, Ner, Search}
import org.apache.spark.sql.{DataFrame, Row}

/** A dashboard query: its layer, how to run it and how to check what it
  * returned. */
final case class Query(name: String, layer: String,
                       run: () => Array[Row], check: Array[Row] => Boolean)

/** The dashboard's query mix over the bronze and gold layers: search
  * (keyword, ranked, page 2, bm25, fuzzy, filtered), analytics panels
  * and entity views, each checked against a driver-side reference. */
object Queries {
  def mix(c: Ctx, bronze: DataFrame, gold: DataFrame, ref: Reference): Seq[Query] = {
    val spark = c.spark
    import spark.implicits._
    val Seq(t1, t2, t3, t4) = ref.terms
    def keyword(t: String) = Query(s"keyword_$t", "search",
      () => Search.keywordSearch(bronze, t).collect(),
      rows => rows.length == ref.keywordHits(t))
    def ranked(t: String) = Query(s"ranked_$t", "search",
      () => Search.rankedSearch(bronze, t).collect(),
      rows => rows.map(r => (r.getAs[Long]("score"), r.getAs[Long]("doc_id"))).toSeq ==
        ref.ranked(t).take(20))
    def page2(t: String) = {
      val (s, id) = ref.ranked(t)(19)
      val cursor = Seq((s, id)).toDF("cursor_score", "cursor_doc")
      Query(s"page2_$t", "search",
        () => Search.rankedSearchAfter(bronze, t, cursor).collect(),
        rows => rows.map(r => (r.getAs[Long]("score"), r.getAs[Long]("doc_id"))).toSeq ==
          ref.ranked(t).slice(20, 40))
    }
    Seq(
      keyword(t1), keyword(t2), keyword(t3), keyword(t4),
      ranked(t1), ranked(t3), page2(t2),
      Query("bm25", "search", () => Search.bm25Search(bronze, Seq(t2, t4)).collect(),
        rows => rows.length == 20 && rows.forall(r => ref.containsAny(r.getAs[Long]("doc_id"), Seq(t2, t4)))),
      Query("fuzzy", "search", () => Search.fuzzySearch(bronze, t3).collect(),
        rows => rows.length == 20 && rows.map(_.getAs[Long]("score")).sliding(2).forall(p => p.head >= p.last)),
      Query("filtered", "search", () => Search.searchFiltered(bronze, t2, "id", 200L, 2000L).collect(),
        rows => rows.length == ref.filteredHits(t2, "id", 200L, 2000L)),
      Query("gold_analytics", "analytics", () => Analytics.goldAnalytics(gold).collect(),
        rows => rows.map(_.getAs[Long]("total_articles")).sum == ref.goldDocs &&
          rows.length == ref.categories),
      Query("topic_analytics", "analytics", () => Analytics.topicAnalytics(gold).collect(),
        rows => rows.map(_.getAs[Long]("total_articles")).sum == ref.goldDocs),
      Query("overview_metrics", "analytics", () => Analytics.overviewMetrics(gold).collect(),
        rows => rows.length == 1 && rows.head.getAs[Long]("total_articles") == ref.goldDocs),
      Query("content_analytics", "analytics", () => Analytics.contentAnalytics(gold).collect(),
        rows => rows.map(_.getAs[Long]("cnt")).sum == ref.goldDocs),
      Query("top_entities", "ner", () => Ner.topEntities(spark, bronze).collect(),
        rows => rows.map(r => (r.getAs[String]("entity_type"), r.getAs[String]("top_entity"),
          r.getAs[Long]("top_entity_count"))).toSet == ref.topEntities),
      Query("entity_insights", "ner", () => Ner.entityInsights(spark, bronze).collect(),
        rows => rows.map(r => (r.getAs[String]("entity_text"), r.getAs[Long]("mention_count"),
          r.getAs[Long]("article_count"))).toSet == ref.entityInsights),
      Query("entity_pagerank", "ner", () => Ner.entityPagerank(spark, bronze).collect(),
        rows => rows.map(_.getAs[String]("entity")).toSet == ref.cooccurring),
      Query("entity_communities", "ner", () => Ner.entityCommunities(spark, bronze).collect(),
        rows => rows.map(_.getAs[String]("entity")).toSet == ref.cooccurring))
  }

  /** Run every query of the mix once, checked, and report the per-layer
    * medians. */
  def tracedPass(c: Ctx, queries: Seq[Query]): Unit = {
    val runs = queries.map { q =>
      val before = c.meter.snapshot()
      val t0 = System.nanoTime()
      val rows = c.tracer.span(q.name)(q.run())
      val ms = (System.nanoTime() - t0) / 1e6
      c.result.check(q.name, q.check(rows))
      (q, ms, c.meter.snapshot() - before)
    }
    def of(layer: String) = runs.filter(_._1.layer == layer)
    Seq("search", "analytics", "ner").foreach { l =>
      c.result.put(s"$l.p50_ms", Stats.median(of(l).map(_._2)), "ms") }
    c.result.put("search.cpu_ms", Stats.median(of("search").map(_._3.cpuNs / 1e6)), "ms")
    c.result.put("ner.fixpoint_jobs",
      Stats.median(runs.filter(r => Fixpoints.contains(r._1.name)).map(_._3.jobs.toDouble)), "count")
  }

  val Fixpoints = Set("entity_pagerank", "entity_communities")
}

/** Driver-side answers computed from the generated bronze docs. */
final class Reference(kept: Seq[Doc], words: Words) {
  private val texts = kept.filter(_.text != null)
  private val byId = texts.map(d => d.id -> d.text).toMap
  val goldDocs: Long = kept.count(Inputs.inGold).toLong
  val categories: Long = kept.filter(Inputs.inGold)
    .map(d => Words.Sources.toMap.apply(d.source)).distinct.size.toLong

  /** Query terms: vocabulary words from frequent to rare. */
  val terms: Seq[String] = Seq(3, 40, 400, 1200).map(words.vocab(_))

  def keywordHits(t: String): Long = texts.count(_.text.contains(t)).toLong

  def filteredHits(t: String, lang: String, lo: Long, hi: Long): Long =
    texts.count(d => d.lang == lang && d.nChars >= lo && d.nChars <= hi && d.text.contains(t)).toLong

  def containsAny(id: Long, ts: Seq[String]): Boolean = byId.get(id).exists(x => ts.exists(x.contains))

  private def tf(text: String, t: String): Long = {
    val m = java.util.regex.Pattern.compile("\\b" + java.util.regex.Pattern.quote(t) + "\\b").matcher(text)
    var n = 0L; while (m.find()) n += 1; n
  }

  private val rankedCache = scala.collection.mutable.Map.empty[String, Seq[(Long, Long)]]
  /** Every hit of `t` as (score, doc_id) in rank order: 3 x tf in the
    * first 80 chars + tf in the whole text, score desc then doc_id. */
  def ranked(t: String): Seq[(Long, Long)] = rankedCache.getOrElseUpdate(t,
    texts.map(d => (3 * tf(d.text.take(80), t) + tf(d.text, t), d.id)).filter(_._1 > 0)
      .sortBy { case (s, id) => (-s, id) })

  private val counts = texts.map(d => d.id -> Words.tokenCounts(d.text))

  /** entity -> (mentions, docs mentioning it). */
  private val perEntity: Map[String, (Long, Long)] = Words.ValidEntities.keys.map { e =>
    val hits = counts.flatMap(_._2.get(e))
    e -> (hits.map(_.toLong).sum, hits.size.toLong)
  }.toMap

  val entityInsights: Set[(String, Long, Long)] =
    perEntity.collect { case (e, (m, a)) if a >= 2 => (e, m, a) }.toSet

  val topEntities: Set[(String, String, Long)] =
    Words.ValidEntities.groupBy(_._2).map { case (tpe, es) =>
      val (e, m) = es.keys.toSeq.map(e => e -> perEntity(e)._1).filter(_._2 > 0)
        .sortBy { case (e, m) => (-m, e) }.head
      (tpe, e, m)
    }.toSet

  /** Entities that share a doc with another entity (the graph's nodes). */
  val cooccurring: Set[String] = counts.map(_._2.keySet).filter(_.size >= 2).flatten.toSet
}
