package graft.perfbench

/** Summary statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Length of the union of intervals. */
  def covered(spans: Seq[(Long, Long)]): Long = {
    var total = 0L; var a = Long.MinValue; var b = Long.MinValue
    spans.filter(s => s._2 > s._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > b) { if (b > a) total += b - a; a = s; b = e } else b = math.max(b, e)
    }
    if (b > a) total += b - a
    total
  }
}

/** A traced call: name, start and end (ns), and the span that caused it. */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Spans are kept until the run ends. */
final class Tracer(val on: Boolean) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  /** Run `body` inside a span named `name` (a plain call when off). */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, System.nanoTime(), -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toList

  /** The spans as JSON lines, with each span's self time. */
  def jsonLines: Seq[String] = {
    val all = spans.toList
    all.map(s => s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
      s""""start_ns": ${s.start}, "end_ns": ${s.end}, "self_ns": ${Tracer.selfNs(s, all)}}""")
  }
}

object Tracer {
  /** A span's self time: its duration minus the part of it its direct
    * children cover. */
  def selfNs(span: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == span.id)
      .map(k => (math.max(k.start, span.start), math.min(k.end, span.end)))
    span.durNs - Stats.covered(kids)
  }
}
