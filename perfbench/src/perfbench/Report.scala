package perfbench

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
}

/** Turns the spans of one run into the benchmark's metrics. */
final class Report(rec: Recorder, buildLayer: String, cores: Int, outputRows: Map[String, Long]) {
  private val spans = rec.spans.toSeq
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private val passes = spans.filter(_.name == "pass").sortBy(_.pass)

  /** Query spans that completed (a failed query leaves no `exec` child). */
  val queries: Seq[Span] = spans.filter(s => s.name == "query" &&
    children.getOrElse(s.id, Nil).exists(_.name == "exec"))

  private def childMs(q: Span, names: Set[String]): Double =
    children.getOrElse(q.id, Nil).filter(c => names(c.name)).map(_.ms).sum

  private val textToResult = Set("parse", "build", "plan", "exec")

  def endToEnd(setups: Seq[Double], startS: Double): Seq[(String, Double, String)] = {
    val latency = queries.map(childMs(_, textToResult))
    val ready = queries.map(childMs(_, Set("parse", "build", "plan")))
    val busyS = passes.map(_.ms).sum / 1e3
    Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("start_s", startS, "s"),
      ("pass_s_p50", Stats.median(passes.map(_.ms / 1e3)), "s"),
      ("query_ms_p50", Stats.median(latency), "ms"),
      ("ready_ms_p50", Stats.median(ready), "ms"),
      ("queries_per_s", queries.size / busyS, "1/s"))
  }

  /** Per-pass sums of every layer counter, reported as the median over passes. */
  def perLayer: Seq[(String, Double, String)] = {
    val perPass: Seq[mutable.LinkedHashMap[String, (Double, String)]] = passes.map { p =>
      val m = mutable.LinkedHashMap.empty[String, (Double, String)]
      def add(k: String, v: Double, unit: String): Unit = m(k) = (v, unit)
      val qs = children.getOrElse(p.id, Nil)
      val layer = qs.flatMap(q => children.getOrElse(q.id, Nil))
      def named(n: String) = layer.filter(_.name == n)
      def work(n: String) = named(n).map(s => rec.work(s.id))

      add("parser.ms", named("parse").map(_.ms).sum, "ms")
      add("parser.calls", named("parse").size, "count")
      // A build is the compiler's on PQL workloads and graft.ops' on library ones.
      val (compiler, ops) = if (buildLayer == "ops") (Nil, named("build")) else (named("build"), Nil)
      add("compiler.ms", compiler.map(_.ms).sum, "ms")
      add("compiler.jobs", compiler.map(s => rec.work(s.id).jobs).sum.toDouble, "count")
      add("ops.build_ms", ops.map(_.ms).sum, "ms")
      add("ops.build_jobs", ops.map(s => rec.work(s.id).jobs).sum.toDouble, "count")
      add("ops.build_tasks", ops.map(s => rec.work(s.id).tasks).sum.toDouble, "count")
      add("catalyst.ms", named("plan").map(_.ms).sum, "ms")
      add("catalyst.jobs", work("plan").map(_.jobs).sum.toDouble, "count")
      add("sqlgen.ms", named("render").map(_.ms).sum, "ms")
      add("sqlgen.calls", named("render").count(s => !rec.rejected(s.id)), "count")
      add("sqlgen.rejects", named("render").count(s => rec.rejected(s.id)), "count")
      add("codegen.compiles", layer.map(_.codegenCompiles).sum.toDouble, "count")
      add("codegen.compile_ms", layer.map(_.codegenMs).sum, "ms")

      val execMs = named("exec").map(_.ms).sum
      val ew = work("exec")
      def esum(f: SparkWork => Long): Double = ew.map(f).sum.toDouble
      add("exec.ms", execMs, "ms")
      add("exec.jobs", esum(_.jobs), "count")
      add("exec.stages", esum(_.stages), "count")
      add("exec.tasks", esum(_.tasks), "count")
      add("exec.task_ms", esum(_.taskMs), "ms")
      add("exec.task_cpu_ms", esum(_.taskCpuNs) / 1e6, "ms")
      add("exec.task_wait_ms", esum(_.taskWaitMs), "ms")
      add("exec.gc_ms", esum(_.gcMs), "ms")
      add("exec.core_util", if (execMs > 0) esum(_.taskMs) / (execMs * cores) else 0.0, "ratio")
      add("exec.shuffle_write_bytes", esum(_.shuffleWrite), "bytes")
      add("exec.shuffle_read_bytes", esum(_.shuffleRead), "bytes")
      add("exec.spill_bytes", esum(_.spill), "bytes")
      add("sources.input_bytes", esum(_.inputBytes), "bytes")
      add("sources.input_rows", esum(_.inputRows), "count")
      add("sources.files_discovered", layer.map(_.filesDiscovered).sum.toDouble, "count")
      // Output rows are known for the queries whose digest was taken; the
      // ratio is reported only when that covers the whole pass.
      val outRows = qs.map(q => outputRows.get(q.label))
      add("sources.rows_per_output_row",
        if (outRows.forall(_.isDefined) && outRows.flatten.sum > 0) esum(_.inputRows) / outRows.flatten.sum
        else 0.0, "ratio")

      val queryMs = qs.map(_.ms).sum
      add("query.self_ms", queryMs - layer.map(_.ms).sum, "ms")
      add("pass.self_ms", p.ms - queryMs, "ms")
      add("trace.layer_share", if (p.ms > 0) layer.map(_.ms).sum / p.ms else 0.0, "ratio")
      m
    }
    val keys = perPass.headOption.map(_.toSeq.map { case (k, (_, u)) => k -> u }).getOrElse(Nil)
    keys.map { case (k, u) => (k, Stats.median(perPass.map(_(k)._1)), u) } ++ Seq(
      ("trace.pass_s_p50", Stats.median(passes.map(_.ms / 1e3)), "s"),
      ("jvm.rss_peak_mb", Report.rssPeakMb, "MB"),
      ("sqlgen.render_ms_p50",
        Stats.median(spans.filter(s => s.name == "render" && !rec.rejected(s.id)).map(_.ms)), "ms"))
  }
}

object Report {
  /** Every span of the run with the Spark work attributed to it, one JSON
    * object per line.
    */
  def writeSpans(path: String, rec: Recorder): Unit = {
    val lines = rec.spans.sortBy(_.id).map { s =>
      val w = rec.work(s.id)
      s"""{"id": ${s.id}, "parent": ${s.parent}, "pass": ${s.pass}, "name": "${s.name}", """ +
        s""""label": ${Main.jstr(s.label)}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "codegen_compiles": ${s.codegenCompiles}, """ +
        s""""files_discovered": ${s.filesDiscovered}, "jobs": ${w.jobs}, "stages": ${w.stages}, """ +
        s""""tasks": ${w.tasks}, "task_ms": ${w.taskMs}, "shuffle_write_bytes": ${w.shuffleWrite}, """ +
        s""""shuffle_read_bytes": ${w.shuffleRead}, "input_rows": ${w.inputRows}}"""
    }
    Main.write(path, lines.mkString("", "\n", "\n"))
  }

  /** Peak resident set of this JVM, from /proc. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}
