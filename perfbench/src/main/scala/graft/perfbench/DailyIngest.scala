package graft.perfbench

import graft.{Pipeline, Tables}
import graft.operators.{Cleaning, Dedup, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `daily_ingest`: `Pipeline.bootstrapIncremental` with every arm
  * (chunk, semantic + PQ, charlm, blooms) over a standing corpus, then
  * timed days of `Pipeline.runIncremental`, each delta a planted mix
  * whose every doc has a known verdict. The run's time budget leaves
  * room for one day. */
object DailyIngest {
  val Gates: Seq[String] = Seq("input", "quality", "charlm_dropped", "id_collision_dropped",
    "exact_within", "exact_new", "neardup_vs_corpus_dropped", "substring_vs_corpus_dropped",
    "semantic_vs_corpus_dropped", "accepted")
  val CorpusDocs = 1200
  val DayDocs = 150
  /** Index buckets. graft's default (64) is sized for corpora 100x this
    * one; 4 is the benchmark's own choice for a 1 200-doc corpus. */
  val Buckets = 4
  /** The sharded bloom shape (torrent-broadcast probe, per-shard merge)
    * graft's own daily harnesses (`Bench`, `ScaleCheck`) run. */
  val BloomShards = 16
  /** Timed days after bootstrap. The first day after bootstrap is cold
    * (~24 s on a 4-core VM, against ~18 s for later days: JIT and plan
    * code generation); an untimed warm-up day would not fit the run's
    * time budget, so the timed day is that cold first day. */
  val MinDays = 1
  /** The charlm bar of graft's own accept-preview audit
    * (`Pipeline.acceptPreviewAudit`). */
  val CharlmRareBelow = 0.01
  val CharlmMaxFrac = 0.15

  /** One bootstrap's table names: fresh per seed and run,
    * so no dir- or name-keyed cache in graft can turn a timed op into a
    * hit. */
  final case class State(prefix: String) {
    val post = s"${prefix}_post"; val hash = s"${prefix}_hash"; val chunk = s"${prefix}_chunk"
    val sem = s"${prefix}_sem"; val charlm = s"${prefix}_charlm"
    def drop(c: Ctx): Unit = Pipeline.dropIncrementalState(c.spark, post, hash,
      chunkTable = Some(chunk), semanticTable = Some(sem), charlmTable = Some(charlm))
  }

  def run(c: Ctx): Unit = {
    import c._
    val dirs = Directions.all(seed)
    val corpus = Inputs.dailyCorpus(seed, CorpusDocs, dirs).toIndexedSeq
    val corpusDir = dir("corpus")
    Inputs.write(spark, corpus, corpusDir)
    log("corpus written")
    val docs = Tables.documents(spark, corpusDir).select(col("doc_id"), col("text"))
    val vecs = Tables.embeddings(spark, corpusDir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val tag = s"pb${seed.abs}_${ProcessHandle.current().pid()}"

    // set-up: one bootstrap (a second one would not fit the run's time)
    val st = State(tag)
    st.drop(c)
    val b0 = System.currentTimeMillis()
    val t1 = System.nanoTime()
    Pipeline.bootstrapIncremental(docs, st.post, st.hash,
      chunkTable = Some(st.chunk), semanticTable = Some(st.sem), corpusEmbeddings = Some(vecs),
      charlmTable = Some(st.charlm), bloomShards = BloomShards, buckets = Buckets)
    val setupS = sessionS + secondsS(t1)
    log(f"bootstrap: ${setupS - sessionS}%.2f s")
    if (trace) {
      // bootstrap builds the semantic index (Lloyd + PQ training) between
      // its chunk-index writes and its charlm write
      val ex = meter.execsBetween(b0, System.currentTimeMillis())
      val span = for {
        chunkEnd <- ex.filter(e => table(e.target).startsWith(st.chunk)).map(_.end).maxOption
        charlmStart <- ex.filter(e => table(e.target).startsWith(st.charlm)).map(_.start).minOption
      } yield (charlmStart - chunkEnd) / 1e3
      attributed("semantic.train_s", span)
      meter.clearTimeline()
    }

    /** Day `d`'s delta, written as the day's input dir. */
    def delta(d: Int): (Day, String, DataFrame) = {
      val day = Inputs.dailyDelta(seed, d, DayDocs, corpus, dirs)
      val dayDir = dir(s"day$d")
      Inputs.write(spark, day.docs, dayDir)
      (day, dayDir, Tables.embeddings(spark, dayDir)
        .select(col("vec_id").as("doc_id"), col("embedding")))
    }

    /** Check a day's gate counts and accepted ids against its plan. */
    def check(d: Int, day: Day, s: Map[String, Long]): Unit = {
      val got = Gates.map(g => g -> s.getOrElse(g, -1L)).toMap
      val want = day.expect.filter(g => Gates.contains(g._1))
      result.check(s"day $d gate counts", got == want, s"$got != $want")
      val accepted = spark.read.parquet(s"${dir(s"day$d-out")}/accepted").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      result.check(s"day $d accepted ids", accepted == day.acceptedIds,
        s"${(accepted -- day.acceptedIds).size} extra, " +
          s"${(day.acceptedIds -- accepted).size} missing")
      if (trace) Gates.foreach(g => sample(s"gate.${g}_rows", got(g).toDouble))
    }

    val t0 = System.nanoTime()
    val maxDays = (dirs.length - Inputs.CorpusDirs) / Inputs.DayDirs - 1
    var d = 0
    while ((d < MinDays || secondsS(t0) < seconds) && d < maxDays) {
      val (day, dayDir, embs) = delta(d)
      val w0 = System.currentTimeMillis()
      val s = timed("runIncremental")(Pipeline.runIncremental(spark, dayDir, dir(s"day$d-out"),
        st.post, st.hash, chunkTable = Some(st.chunk), semanticTable = Some(st.sem),
        deltaEmbeddings = Some(embs), charlmTable = Some(st.charlm),
        charlmRareFracMax = Some(CharlmMaxFrac), charlmRareBelow = CharlmRareBelow))
      val w1 = System.currentTimeMillis()
      log(f"day $d: ${ops.last.wallMs / 1e3}%.2f s $s")
      check(d, day, s)
      if (trace) {
        attributeCommit(c, st, w0, w1)
        meter.clearTimeline()
      }
      sampleHeap()
      d += 1
    }
    endToEnd(setupS)
    if (trace) {
      sparkLayer()
      // the decision's arms, each on its own, on a spare delta against
      // the state the timed days left: after them, so no timed day runs
      // on state or code the arms warmed
      val (_, dayDir, embs) = delta(d)
      traceArms(c, st, dayDir, embs)
      putSamples()
    }
  }

  /** Time the decision's arms on a delta against the day's state,
    * read-only: the MinHash probe, the within-delta clustering, the
    * semantic probe and the charlm gate, each on the cleaned delta and
    * materialized on its own. */
  private def traceArms(c: Ctx, st: State, dayDir: String, embs: DataFrame): Unit = {
    import c._
    def wall[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val out = tracer.span(name)(body); (out, secondsS(t0))
    }
    val text = Cleaning.silver(Tables.documents(spark, dayDir))
      .filter(col("content").isNotNull && col("content_length") > 50)
      .select(col("doc_id"), col("content").as("text")).localCheckpoint()
    val (pairs, probeS) = wall("dedup.probe") {
      val (postings, sigs) = Dedup.postingsFrames(spark, st.post)
      Dedup.incrementalMinhashCandidates(text, postings,
        bandPrefilter = Dedup.bloomProbeFor(spark, st.post), sigs = sigs).localCheckpoint()
    }
    sample("dedup.probe_s", probeS)
    val ids = text.select(col("doc_id"))
    val ddPairs = pairs
      .join(ids.select(col("doc_id").as("doc_id_1")), Seq("doc_id_1"), "left_semi")
      .join(ids.select(col("doc_id").as("doc_id_2")), Seq("doc_id_2"), "left_semi")
      .select(col("doc_id_1"), col("doc_id_2"))
    val before = meter.snapshot()
    wall("dedup.cluster")(Dedup.clusterPairsStar(ddPairs).count())
    sample("dedup.cluster_jobs", (meter.snapshot() - before).jobs.toDouble)
    sample("semantic.probe_s",
      wall("semantic.probe")(Pipeline.semanticCorpusHits(spark, embs, st.sem).count())._2)
    sample("textops.charlm_s", wall("textops.charlm")(TextOps.charlmRareDropIds(text,
      spark.table(st.charlm).groupBy(col("tri")).agg(sum(col("n")).as("c3")),
      CharlmRareBelow, CharlmMaxFrac).count())._2)
  }

  /** Attribute the day from its own timeline: the decision runs from the
    * heavy-hitters write to the accepted-output write, the commit from
    * there to the end; appends are the jobs `Sinks.appendBucketed` labels,
    * and the bloom merge runs from the pending-manifest write to the first
    * append. */
  private def attributeCommit(c: Ctx, st: State, w0: Long, w1: Long): Unit = {
    import c._
    val execs = meter.execsBetween(w0, w1)
    def write(name: String) = execs.find(e => table(e.target) == name)
    val accepted = write("accepted")
    attributed("pipeline.decide_s",
      for (h <- write("heavy_hitters"); a <- accepted) yield (a.start - h.end) / 1e3)
    attributed("pipeline.commit_s", accepted.map(a => (w1 - a.start) / 1e3))
    val appends = meter.jobsBetween(w0, w1)
      .filter(_.description.startsWith("graft appendBucketed"))
    attributed("sinks.append_jobs", Option.when(appends.nonEmpty)(appends.size.toDouble))
    sample("sinks.append_s", Stats.covered(appends.map(j => (j.start, j.end))) / 1e3)
    attributed("dedup.bloom_merge_s", for {
      m <- write(st.post + "__pending"); a <- appends.map(_.start).minOption
    } yield math.max(0L, a - m.end) / 1e3)
  }

  /** The table or directory name a write target ends in. */
  private def table(target: String): String = target.split('/').last
}
