package graft.perfbench

import graft.Pipeline
import graft.sources.Sinks

/** `batch_medallion`: the nightly `Pipeline.runBatch` (bronze, silver,
  * gold, entities, rollup views) over a generated corpus, repeated on
  * fresh output dirs for the run's seconds. */
object BatchMedallion {
  val Gates: Seq[String] = Seq("bronze", "silver", "gold", "entities", "gold_analytics", "gold_trends")
  /** Large enough that running stages, not driver gaps, cover most of
    * an op's wall (~80% at 40k docs on a 4-core VM, ~50% at 3k). */
  val CorpusDocs = 40000
  /** The warm-up batch's corpus; the traced run's query pass reads the
    * layers it wrote. */
  val WarmDocs = 2000
  val MinOps = 2

  /** runBatch's layers, told apart by the path each SQL execution writes. */
  private val Layers: Seq[(String, String => Boolean)] = Seq(
    "cleaning" -> (t => t.endsWith("/bronze") || t.endsWith("/silver")),
    "enrichment" -> (t => t.endsWith("/gold")),
    "ner" -> (t => t.endsWith("/entities")),
    "analytics" -> (t => t.contains("/views/")))

  def run(c: Ctx): Unit = {
    import c._
    val docs = Inputs.batchCorpus(seed, CorpusDocs)
    val expect = Inputs.expectBatch(docs).summary
    val input = dir("input")
    Inputs.write(spark, docs, input)
    val warmDocs = Inputs.batchCorpus(seed + 1, WarmDocs)
    val warmExpect = Inputs.expectBatch(warmDocs).summary
    val warmIn = dir("warm-input")
    Inputs.write(spark, warmDocs, warmIn)
    log("inputs written")

    // set-up: one warm-up batch over a small corpus, mostly the JVM
    // compiling the pipeline's code
    val warmOut = dir("warm-out")
    val t1 = System.nanoTime()
    val warm = Pipeline.runBatch(spark, warmIn, warmOut)
    val setupS = sessionS + secondsS(t1)
    result.check("warm-up layer counts", warm == warmExpect, s"$warm != $warmExpect")
    log(f"warm-up runBatch: ${setupS - sessionS}%.2f s")

    val t0 = System.nanoTime()
    var i = 0
    var last = ""
    while (i < MinOps || secondsS(t0) < seconds) {
      val out = dir(s"out$i")
      val w0 = System.currentTimeMillis()
      val s = timed("runBatch")(Pipeline.runBatch(spark, input, out))
      val w1 = System.currentTimeMillis()
      result.check("layer counts", s == expect, s"$s != $expect")
      log(f"runBatch $i: ${(w1 - w0) / 1e3}%.2f s, ${ops.last.work.cpuS}%.2f s task CPU, " +
        f"${ops.last.gapMs / 1e3}%.2f s driver gap")
      if (trace) {
        val execs = meter.execsBetween(w0, w1)
        Layers.foreach { case (layer, owns) =>
          val mine = execs.filter(e => owns(e.target))
          val work = mine.map(e => meter.execWork(e.id)).foldLeft(Counters())(_ + _)
          attributed(s"$layer.wall_s",
            Option.when(mine.nonEmpty)(mine.map(e => e.end - e.start).sum / 1e3))
          sample(s"$layer.cpu_s", work.cpuS)
          sample(s"$layer.shuffle_mb", work.shuffleBytes / 1048576.0)
        }
        val files = Files.list(out).filter(_.getName.startsWith("part-"))
        attributed("sinks.files", Option.when(files.nonEmpty)(files.size.toDouble))
        sample("sinks.bytes_mb", files.map(_.length).sum / 1048576.0)
        Gates.foreach(g => sample(s"gate.${g}_rows", s.getOrElse(g, 0L).toDouble))
        meter.clearTimeline()
      }
      sampleHeap()
      if (trace && i + 1 >= MinOps && secondsS(t0) >= seconds) last = out else rmrf(out)
      i += 1
    }
    endToEnd(setupS)
    if (trace) {
      sparkLayer()
      // the sink alone: re-write the gold layer as runBatch writes it
      val ts = System.nanoTime()
      tracer.span("sinks.write")(
        Sinks.writeParquet(spark.read.parquet(s"$last/gold"), dir("sink"), Seq("lang")))
      sample("sinks.write_s", secondsS(ts))
      // the dashboard's query layers, over the layers the warm-up batch
      // wrote (a dashboard-sized corpus)
      Queries.tracedPass(c, Queries.mix(c, spark.read.parquet(s"$warmOut/bronze"),
        spark.read.parquet(s"$warmOut/gold"),
        new Reference(Inputs.bronze(warmDocs), new Words(seed + 1))))
      putSamples()
    }
  }
}

/** Plain local-file listing (the benchmark's own, not graft's). */
object Files {
  def list(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(path))
  }
}
