package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one benchmark run measured. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count one operation; a failed check is logged and counted. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; notes += s"check failed: $what $detail" }
  }

  def json(correct: Boolean): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** One timed operation of a workload. */
final case class Op(kind: String, wallMs: Double, work: Counters, gapMs: Long)

/** Shared run state: the session, the meter, the tracer and the clock. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: String, val sessionS: Double) {
  val meter = new Meter(spark, timeline = trace)
  val tracer = new Tracer(trace)
  val result = new Result
  val ops = mutable.ArrayBuffer.empty[Op]
  private var heapPeak = 0L

  /** Run `body` as one timed op: wall, engine work and the share of the
    * wall no stage covered. Listener draining happens outside the wall. */
  def timed[T](kind: String)(body: => T): T = {
    val before = meter.snapshot()
    val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val out = tracer.span(kind)(body)
    val wallMs = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    val work = meter.snapshot() - before
    ops += Op(kind, wallMs, work, math.max(0L, (w1 - w0) - meter.stageCoveredMs(w0, w1)))
    out
  }

  private val samples = mutable.LinkedHashMap.empty[String, List[Double]]

  /** One traced sample of a per-layer metric; the median is reported. */
  def sample(name: String, v: Double): Unit = samples(name) = v :: samples.getOrElse(name, Nil)

  /** A sample the timeline must yield, for a layer the workload enters:
    * a missing one fails a check instead of reading as 0. */
  def attributed(name: String, v: Option[Double]): Unit = {
    result.check(s"attribution of $name", v.isDefined, "(no matching executions)")
    v.foreach(sample(name, _))
  }

  def putSamples(): Unit = samples.foreach { case (k, v) =>
    result.put(k, Stats.median(v), Main.PerLayer.toMap.getOrElse(k, "")) }

  /** Driver heap in use after a full collection; the peak is reported. */
  def sampleHeap(): Unit = {
    // the second collection also frees what Spark's context cleaner
    // released after the first one (unpersisted checkpoint blocks)
    System.gc(); Thread.sleep(200); System.gc()
    heapPeak = math.max(heapPeak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def secondsS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val born = System.nanoTime()
  /** Progress line for the run's log. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${secondsS(born)}%7.1f s] $msg")

  /** The end-to-end metrics every workload reports. */
  def endToEnd(setupS: Double): Unit = {
    val walls = ops.map(_.wallMs).toSeq
    result.put("setup_s", setupS, "s")
    result.put("op_p50_ms", Stats.median(walls), "ms")
    result.put("executor_cpu_s", Stats.median(ops.map(_.work.cpuS).toSeq), "s")
    result.put("heap_peak_mb", heapPeak / 1048576.0, "MB")
  }

  /** Engine-level per-layer metrics, per timed op. */
  def sparkLayer(): Unit = {
    def mean(f: Op => Double) = ops.map(f).sum / ops.size
    result.put("spark.jobs", mean(_.work.jobs.toDouble), "count")
    result.put("spark.stages", mean(_.work.stages.toDouble), "count")
    result.put("spark.tasks", mean(_.work.tasks.toDouble), "count")
    result.put("spark.plan_ms", mean(_.work.planMs.toDouble), "ms")
    result.put("spark.driver_gap_s", mean(_.gapMs / 1e3), "s")
    result.put("spark.gc_s", mean(_.work.gcMs / 1e3), "s")
    result.put("spark.shuffle_mb", mean(_.work.shuffleBytes / 1048576.0), "MB")
    result.put("sources.scan_mb", mean(_.work.scanBytes / 1048576.0), "MB")
    result.put("trace.op_p50_ms", Stats.median(ops.map(_.wallMs).toSeq), "ms")
  }

  /** A fresh directory under the run's work dir. */
  def dir(name: String): String = s"$work/$name"

  def rmrf(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "batch_medallion" -> BatchMedallion.run,
    "daily_ingest" -> DailyIngest.run)

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_ms" -> "ms",
    "executor_cpu_s" -> "s", "heap_peak_mb" -> "MB")

  /** The per-layer metric names every traced run reports (0 where the
    * workload does not exercise the layer). */
  val PerLayer: Seq[(String, String)] = Seq(
    "cleaning.wall_s" -> "s", "cleaning.cpu_s" -> "s",
    "enrichment.wall_s" -> "s", "enrichment.cpu_s" -> "s",
    "ner.wall_s" -> "s", "ner.cpu_s" -> "s", "ner.shuffle_mb" -> "MB",
    "ner.fixpoint_jobs" -> "count", "ner.p50_ms" -> "ms",
    "analytics.wall_s" -> "s", "analytics.p50_ms" -> "ms",
    "search.p50_ms" -> "ms", "search.cpu_ms" -> "ms",
    "sinks.write_s" -> "s", "sinks.bytes_mb" -> "MB", "sinks.files" -> "count",
    "sinks.append_s" -> "s", "sinks.append_jobs" -> "count",
    "sources.scan_mb" -> "MB",
    "dedup.probe_s" -> "s", "dedup.bloom_merge_s" -> "s", "dedup.cluster_jobs" -> "count",
    "semantic.train_s" -> "s", "semantic.probe_s" -> "s",
    "textops.charlm_s" -> "s",
    "pipeline.decide_s" -> "s", "pipeline.commit_s" -> "s") ++
    (BatchMedallion.Gates ++ DailyIngest.Gates).map(g => s"gate.${g}_rows" -> "count") ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.plan_ms" -> "ms", "spark.driver_gap_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_mb" -> "MB", "trace.op_p50_ms" -> "ms")

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val work = new java.io.File(opts("work")).getAbsolutePath
    val trace = opts.getOrElse("trace", "0") == "1"
    val t0 = System.nanoTime()
    val spark = session(work)
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt, trace, work,
      (System.nanoTime() - t0) / 1e9)
    try {
      run(ctx)
      val res = ctx.result
      // every run of a mode reports the same metric set: a traced run
      // only per-layer metrics, 0 for layers its workload never enters
      val wanted = if (trace) PerLayer else EndToEnd
      if (trace)
        PerLayer.foreach { case (k, u) => if (!res.metrics.contains(k)) res.put(k, 0.0, u) }
      res.metrics.keys.filterNot(wanted.map(_._1).toSet).toList.foreach(res.metrics.remove)
      res.notes.foreach(n => System.err.println(n))
      def write(path: String, lines: Seq[String]): Unit = {
        val out = new java.io.PrintWriter(path)
        try lines.foreach(out.println) finally out.close()
      }
      if (trace) write(s"$work/spans.jsonl", ctx.tracer.jsonLines)
      write(opts("result"), Seq(res.json(correct = res.failed == 0)))
    } finally spark.stop()
  }
}
