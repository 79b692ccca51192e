package perfbench

import Main.OpRec

/** Turns the client's operation records, spans and layer windows into
  * the reported metrics: (value, unit) by name.
  */
object Metrics {

  type Out = Seq[(String, (Double, String))]

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def median(xs: Seq[Double]) = quantile(xs, 0.5)

  private def callMs(wl: Workload, ops: Seq[OpRec], spans: Seq[Span]): Seq[Double] = {
    val timed = ops.map(_.id).toSet
    spans.filter(s => timed(s.op) && wl.isCall(s.name)).map(_.durNs / 1e6)
  }

  /** The user-visible metrics of an untraced run. */
  def endToEnd(wl: Workload, ops: Seq[OpRec], setupS: Double, heapPeak: Long): Out = {
    val primary = Some(ops.filter(_.outcome.kind == wl.primaryKind)).filter(_.nonEmpty).getOrElse(ops)
    Seq(
      "setup_s" -> (setupS, "s"),
      "heap_live_peak_mb" -> (heapPeak / 1048576.0, "MB"),
      "op_s_p50" -> (median(primary.map(_.wallNs / 1e9)), "s"),
      "items_per_s" -> (primary.map(_.outcome.items).sum / primary.map(_.wallNs / 1e9).sum, "1/s"))
  }

  /** The path-specific names of the end-to-end metrics on each workload. */
  def named(wl: Workload, ops: Seq[OpRec], spans: Seq[Span]): Map[String, Map[String, Any]] = {
    val untraced = ops.filterNot(_.traced)
    val primary = untraced.filter(_.outcome.kind == wl.primaryKind)
    if (primary.isEmpty) return Map.empty
    val wallS = primary.map(_.wallNs / 1e9)
    val calls = callMs(wl, primary, spans)
    def m(v: Double, u: String) = Map("value" -> v, "unit" -> u)
    val perS = primary.map(_.outcome.items).sum / primary.map(_.wallNs / 1e9).sum
    wl match {
      case _: HhsIngest => Map("ingest_rows_per_s" -> m(perS, "1/s"), "load_file_s_p50" -> m(median(wallS), "s"))
      case _: DashboardRenders => Map("render_s_p50" -> m(median(wallS), "s"),
        "report_ms_p50" -> m(quantile(calls, 0.5), "ms"), "report_ms_p90" -> m(quantile(calls, 0.9), "ms"),
        "report_samples" -> m(calls.size, "count"))
      case _: CorpusBuild => Map("corpus_docs_per_s" -> m(perS, "1/s"), "build_s_p50" -> m(median(wallS), "s"))
      case _ => Map.empty
    }
  }

  val modules: Seq[String] = Seq("aragon.HhsLoad", "aragon.QualityLoad", "aragon.AragonPipeline",
    "sources.ParquetSink", "sources.QuarantineSink", "ext.MinHashLsh", "ext.DedupClusters",
    "ext.Budgeting", "ExtQueries4")

  val reportFns: Seq[String] = Seq("weeklyRecords", "weeklyRecordsPrior", "bedSummaryAt",
    "bedSummaryRecent4", "ratingBedUse", "totalBedUsage", "emergencyTop20", "ownershipBedUse",
    "topBottomStates")

  val corpusSteps: Seq[String] = Seq("warc_parse", "word_bounds", "word_len", "exact_dedup",
    "source_rate", "split_train", "near_dup", "budget")

  /** Every per-layer metric name with its unit, in report order. */
  val perLayerUnits: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count", "sched.driver_gap_s" -> "s",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s", "exec.busy_frac" -> "frac",
    "shuffle.write_bytes" -> "B", "shuffle.read_bytes" -> "B", "shuffle.fetch_wait_s" -> "s",
    "spill.bytes" -> "B",
    "scan.input_bytes" -> "B", "scan.input_rows" -> "count", "scan.rows_per_result" -> "count",
    "sink.output_bytes" -> "B", "sink.output_rows" -> "count",
    "storage.cached_bytes_peak" -> "B",
    "aragon.AragonPipeline.runHhs.s" -> "s", "aragon.AragonPipeline.runQuality.s" -> "s") ++
    reportFns.map(f => s"aragon.Reporting.$f.ms" -> "ms") ++
    modules.flatMap(m => Seq(s"$m.jobs" -> "count", s"$m.job_s" -> "s")) ++
    Seq("trace.unattributed_jobs" -> "count", "trace.overhead_frac" -> "frac",
      "aragon.HhsLoad.kept_frac" -> "frac", "aragon.quarantine_rows" -> "count") ++
    corpusSteps.map(s => s"corpus.$s.kept_frac" -> "frac")

  /** Per-layer metrics of a trace run, per traced operation unless the
    * name says otherwise (fractions, peaks, per-call span means).
    */
  def perLayer(wl: Workload, ops: Seq[OpRec], spans: Seq[Span], cores: Int): Out = {
    val traced = ops.filter(_.traced)
    val plain = ops.filterNot(_.traced)
    val n = traced.size.toDouble
    val wins = traced.flatMap(_.layers)
    def sum(k: String) = wins.map(_.sums(k)).sum
    val wallS = traced.map(_.wallNs / 1e9).sum
    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    v("catalyst.analysis_ms") = sum("analysis_ms") / n
    v("catalyst.optimization_ms") = sum("optimization_ms") / n
    v("catalyst.planning_ms") = sum("planning_ms") / n
    v("sched.jobs") = wins.map(_.jobs.size).sum / n
    v("sched.stages") = sum("stages") / n
    v("sched.tasks") = sum("tasks") / n
    v("sched.driver_gap_s") = traced.map { o =>
      val inJobs = Intervals.unionLength(o.layers.get.jobs.map(j => (j.start, j.end)).toSeq, o.startMs, o.endMs)
      o.wallNs / 1e9 - inJobs / 1e3
    }.sum / n
    v("exec.task_run_s") = sum("task_run_ms") / 1e3 / n
    v("exec.task_cpu_s") = sum("task_cpu_ns") / 1e9 / n
    v("exec.gc_s") = sum("gc_ms") / 1e3 / n
    v("exec.busy_frac") = sum("task_run_ms") / 1e3 / (wallS * cores)
    v("shuffle.write_bytes") = sum("shuffle_write_bytes") / n
    v("shuffle.read_bytes") = sum("shuffle_read_bytes") / n
    v("shuffle.fetch_wait_s") = sum("fetch_wait_ms") / 1e3 / n
    v("spill.bytes") = sum("spill_bytes") / n
    v("scan.input_bytes") = sum("input_bytes") / n
    v("scan.input_rows") = sum("input_rows") / n
    v("scan.rows_per_result") = sum("input_rows") / math.max(1L, traced.map(_.outcome.resultRows).sum)
    v("sink.output_bytes") = sum("output_bytes") / n
    v("sink.output_rows") = sum("output_rows") / n
    v("storage.cached_bytes_peak") = if (wins.isEmpty) 0.0 else wins.map(_.cachedPeak).max.toDouble
    val tracedOps = traced.map(_.id).toSet
    def spanMean(name: String, scale: Double): Double = {
      val ds = spans.filter(s => s.name == name && tracedOps(s.op)).map(_.durNs / scale)
      if (ds.isEmpty) 0.0 else ds.sum / ds.size
    }
    v("aragon.AragonPipeline.runHhs.s") = spanMean("aragon.AragonPipeline.runHhs", 1e9)
    v("aragon.AragonPipeline.runQuality.s") = spanMean("aragon.AragonPipeline.runQuality", 1e9)
    reportFns.foreach(f => v(s"aragon.Reporting.$f.ms") = spanMean(s"aragon.Reporting.$f", 1e6))
    modules.foreach { m =>
      val js = traced.map(o => o -> o.layers.get.jobs.filter(_.module.contains(m)).toSeq)
      v(s"$m.jobs") = js.map(_._2.size).sum / n
      v(s"$m.job_s") = js.map { case (o, j) =>
        Intervals.unionLength(j.map(x => (x.start, x.end)), o.startMs, o.endMs) / 1e3 }.sum / n
    }
    v("trace.unattributed_jobs") = wins.map(_.jobs.count(_.module.isEmpty)).sum / n
    // each position ran traced and untraced from the same state
    val untracedWall = plain.map(o => o.k -> o.wallNs.toDouble).toMap
    val pairs = traced.filter(o => untracedWall.contains(o.k))
    v("trace.overhead_frac") = if (pairs.isEmpty) 0.0
      else pairs.map(_.wallNs.toDouble).sum / pairs.map(o => untracedWall(o.k)).sum - 1.0
    def count(k: String) = traced.map(_.outcome.counts.getOrElse(k, 0.0)).sum
    v("aragon.HhsLoad.kept_frac") = if (count("hhs_rows") == 0) 0.0 else count("hhs_kept") / count("hhs_rows")
    v("aragon.quarantine_rows") = count("quarantine_rows") / n
    corpusSteps.foreach { s =>
      val k = s"corpus.$s.kept_frac"
      v(k) = traced.lastOption.flatMap(_.outcome.counts.get(k)).getOrElse(0.0)
    }
    val units = perLayerUnits.toMap
    require(v.keySet == units.keySet, s"per-layer names drifted: ${v.keySet.diff(units.keySet)} ${units.keySet.diff(v.keySet)}")
    perLayerUnits.map { case (k, u) => k -> (v(k), u) }
  }
}
