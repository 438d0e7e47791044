package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own statistics, accounting and generator helpers. */
class HelpersSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median((1 to 11).map(_.toDouble)) == 6.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("every check counts as attempted; a failing one counts as failed") {
    val r = new Result
    r.check("a", ok = true); r.check("b", ok = false, "detail"); r.check("c", ok = true)
    assert(r.attempted == 3 && r.failed == 1)
    assert(r.notes == Seq("check failed: b detail"))
    r.put("op_p50_ms", 1.5, "ms")
    assert(r.json(correct = false) == """{"correct": false, "attempted": 3, "failed": 1, """ +
      """"metrics": {"op_p50_ms": {"value": 1.5, "unit": "ms"}}}""")
  }

  test("covered length merges overlapping intervals") {
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20)
    assert(Stats.covered(Nil) == 0)
  }

  test("a span's self time excludes the part its children cover") {
    val parent = Span(0, "day", -1, 0, 100)
    val spans = Seq(parent, Span(1, "probe", 0, 10, 40), Span(2, "append", 0, 30, 60),
      Span(3, "inner", 1, 12, 20))
    assert(Tracer.selfNs(parent, spans) == 50)
    assert(Tracer.selfNs(spans(1), spans) == 22)
  }

  test("tracer records nested spans only when on") {
    val t = new Tracer(on = true)
    t.span("outer")(t.span("inner")(()))
    assert(t.all.map(s => (s.name, s.parent)) == Seq(("outer", -1), ("inner", 0)))
    assert(t.jsonLines.head.startsWith("""{"id": 0, "name": "outer", "parent": -1"""))
    val off = new Tracer(on = false)
    assert(off.span("x")(7) == 7 && off.all.isEmpty)
  }

  test("vector directions stay far below the semantic arm's 0.35 bar") {
    val dirs = Directions.all(seed = 3)
    assert(dirs.length >= Inputs.CorpusDirs + 4 * Inputs.DayDirs)
    val sample = dirs.take(300)
    val worst = (for (i <- sample.indices; j <- i + 1 until sample.length)
      yield Directions.cosine(sample(i), sample(j))).max
    assert(worst <= 0.125 + 1e-6)
    val r = new java.util.SplittableRandom(1)
    assert(Directions.cosine(Directions.jitter(r, dirs(0)), Directions.jitter(r, dirs(0))) > 0.9)
    assert(Directions.cosine(Directions.jitter(r, dirs(0)), Directions.jitter(r, dirs(1))) < 0.3)
  }

  test("a day's expected gate counts add up from input to accepted") {
    val dirs = Directions.all(seed = 5)
    val corpus = Inputs.dailyCorpus(5, 400, dirs).toIndexedSeq
    val day = Inputs.dailyDelta(5, 0, 100, corpus, dirs)
    val e = day.expect
    val dropped = Seq("neardup_vs_corpus_dropped", "substring_vs_corpus_dropped",
      "semantic_vs_corpus_dropped", "decontaminated").map(e).sum
    assert(e("input") == day.docs.size)
    assert(e("exact_new") - dropped == e("accepted"))
    assert(e("accepted") == day.acceptedIds.size)
    assert(day.docs.map(_.id).distinct.size == day.docs.size)
    // the same seed gives the same inputs
    assert(Inputs.dailyDelta(5, 0, 100, corpus, dirs).docs.map(_.text) == day.docs.map(_.text))
  }

  test("boilerplate-wrapped docs clean to their body words") {
    val docs = Inputs.batchCorpus(7, 2000)
    val wrapped = docs.filter(d => d.text != null && d.text != d.clean)
    assert(wrapped.nonEmpty)
    wrapped.foreach { d =>
      val stripped = Words.Boilerplate.foldLeft(d.text.stripPrefix(Words.Dateline))(_.replace(_, " "))
      assert(stripped.split("\\s+").filter(_.nonEmpty).mkString(" ") == d.clean)
    }
    val e = Inputs.expectBatch(docs)
    assert(e.bronze < docs.size && e.gold < e.bronze)
  }
}
