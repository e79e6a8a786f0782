package perfbench

/** Metric names, units, and how each is computed from a run's samples and
  * spans. The end-to-end set is printed by untraced runs, the per-layer set
  * by traced runs; `BENCHMARK.json` lists the same names. */
object Report {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "call_p50_s" -> "s", "call_p90_s" -> "s", "pass_s" -> "s")

  val Layers: Seq[String] = Seq("api", "filter", "sql", "query", "federate", "catalyst",
    "operators", "exec", "result")

  val PerLayer: Seq[(String, String)] = Seq(
    "failed_share" -> "ratio", "export_p50_s" -> "s",
    "trace.overhead_s" -> "s", "trace.overhead_share" -> "ratio",
    "filter.compile_ms" -> "ms", "sql.guard_ms" -> "ms", "query.build_ms" -> "ms",
    "federate.load_s" -> "s", "federate.load_jobs" -> "count",
    "federate.stats_s" -> "s", "federate.stats_jobs" -> "count",
    "federate.quota_ms" -> "ms", "federate.apply_ms" -> "ms", "federate.kept_ratio" -> "ratio",
    "catalyst.plan_ms" -> "ms", "catalyst.plan_nodes" -> "count",
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.peak_storage_mb" -> "MB", "exec.rows_out" -> "count", "exec.idle_s" -> "s",
    "result.write_s" -> "s", "result.files" -> "count", "result.files_failed" -> "count",
    "result.plan_executions" -> "count") ++
    Layers.map(l => s"self.${l}_s" -> "s") ++
    Corpus.ToolNames.map(t => s"api.${t}_p50_s" -> "s") ++
    QueryRuns.AllQueries.flatMap(q => Seq(s"q.$q.s" -> "s", s"q.$q.jobs" -> "count"))

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-layer values from the traced operations' spans. Times and counters
    * are means per span of that name (per call or query for self times and
    * Catalyst); a layer a workload never enters reads 0. */
  def perLayer(spans: Seq[Span], cores: Int): Map[String, Double] = {
    val byName = spans.groupBy(_.name)
    def named(n: String) = byName.getOrElse(n, Seq.empty)
    def dur(n: String) = mean(named(n).map(_.seconds))
    def jobs(n: String) = mean(named(n).map(_.work.jobs.toDouble))
    def attr(n: String, k: String) = named(n).flatMap(_.attrs.get(k))
    val roots = spans.filter(_.parent < 0)
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    val self = spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum).sum
    }
    // Catalyst time per call or query: a query re-plans in every loop round
    // of its build as well as for its final sink.
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Int = if (s.parent < 0) s.id else root(byId(s.parent))
    val plans = named("catalyst.plan").groupBy(root).values.toSeq
    val exec = named("exec")
    val writes = named("result.write")
    val fetched = roots.flatMap(_.attrs.get("fetched")).sum
    val returned = roots.filter(_.attrs.contains("fetched")).flatMap(_.attrs.get("returned")).sum
    val rootsByName = roots.groupBy(_.name)
    def rootMedian(n: String, f: Span => Double) = median(rootsByName.getOrElse(n, Nil).map(f))
    val planExecutions = writes.map { w =>
      (w.work.sqlExecs + spans.filter(s => s.name == "exec" && s.parent == w.parent)
        .map(_.work.sqlExecs).sum).toDouble
    }
    Map(
      "filter.compile_ms" -> dur("filter.compile") * 1000,
      "sql.guard_ms" -> dur("sql.guard") * 1000,
      "query.build_ms" -> dur("query.build") * 1000,
      "federate.load_s" -> dur("federate.load"), "federate.load_jobs" -> jobs("federate.load"),
      "federate.stats_s" -> dur("federate.stats"), "federate.stats_jobs" -> jobs("federate.stats"),
      "federate.quota_ms" -> dur("federate.quota") * 1000,
      "federate.apply_ms" -> dur("federate.apply") * 1000,
      "federate.kept_ratio" -> (if (fetched > 0) returned / fetched else 0.0),
      "catalyst.plan_ms" -> mean(plans.map(_.map(_.seconds).sum)) * 1000,
      "catalyst.plan_nodes" -> mean(plans.map(_.flatMap(_.attrs.get("nodes")).sum)),
      "operators.build_s" -> dur("operators.build"), "operators.build_jobs" -> jobs("operators.build"),
      "exec.s" -> dur("exec"), "exec.jobs" -> jobs("exec"),
      "exec.stages" -> mean(exec.map(_.work.stages.toDouble)),
      "exec.tasks" -> mean(exec.map(_.work.tasks.toDouble)),
      "exec.task_s" -> mean(exec.map(_.work.taskMs / 1e3)),
      "exec.cpu_s" -> mean(exec.map(_.work.cpuNs / 1e9)),
      "exec.gc_s" -> mean(exec.map(_.work.gcMs / 1e3)),
      "exec.shuffle_read_mb" -> mean(exec.map(_.work.shuffleReadB / 1048576.0)),
      "exec.shuffle_write_mb" -> mean(exec.map(_.work.shuffleWriteB / 1048576.0)),
      "exec.spill_mb" -> mean(exec.map(_.work.spillB / 1048576.0)),
      "exec.peak_storage_mb" -> (0.0 +: attr("exec", "storage_b")).max / 1048576.0,
      "exec.rows_out" -> mean(attr("exec", "rows")),
      "exec.idle_s" -> mean(exec.map(s => s.seconds * cores - s.work.taskMs / 1e3)),
      "result.write_s" -> dur("result.write"),
      "result.files" -> mean(attr("result.write", "files")),
      "result.files_failed" -> mean(attr("result.write", "files_failed")),
      "result.plan_executions" -> mean(planExecutions)) ++
      Layers.map(l => s"self.${l}_s" -> (if (roots.isEmpty) 0.0 else self.getOrElse(l, 0.0) / roots.size)) ++
      Corpus.ToolNames.map(t => s"api.${t}_p50_s" -> rootMedian(s"api.$t", _.seconds)) ++
      QueryRuns.AllQueries.flatMap(q => Seq(
        s"q.$q.s" -> rootMedian(s"q.$q", _.seconds),
        s"q.$q.jobs" -> rootMedian(s"q.$q", _.work.jobs.toDouble)))
  }

  /** The traced run's metrics, in [[PerLayer]] order. */
  def traced(spans: Seq[Span], cores: Int, failedShare: Double, exportP50: Double,
             overhead: Double, overheadShare: Double): Seq[(String, Double, String)] =
    pick(PerLayer, perLayer(spans, cores) ++ Map(
      "failed_share" -> failedShare, "export_p50_s" -> exportP50,
      "trace.overhead_s" -> overhead, "trace.overhead_share" -> overheadShare))

  /** The untraced run's metrics, in [[EndToEnd]] order. */
  def untraced(setup: Double, callP50: Double, callP90: Double, pass: Double)
      : Seq[(String, Double, String)] =
    pick(EndToEnd, Map("setup_s" -> setup, "call_p50_s" -> callP50,
      "call_p90_s" -> callP90, "pass_s" -> pass))

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)])

  /** Select `names` from `values` (every name must be present). */
  private def pick(names: Seq[(String, String)], values: Map[String, Double]): Seq[(String, Double, String)] =
    names.map { case (n, u) =>
      (n, values.getOrElse(n, throw new IllegalStateException(s"metric $n not computed")), u)
    }

  def json(r: Result): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
    val ms = r.metrics.map { case (n, v, u) =>
      s"${graft.result.Json.str(n)}: {\"value\": ${num(v)}, \"unit\": ${graft.result.Json.str(u)}}"
    }
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
