package graftbench

/** The benchmark's metric catalog — the same names, units and order as
  * BENCHMARK.json, which the self-test checks — and the assembly of the
  * per-layer table from a traced run's spans and listener records. */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "rebuild_rows_per_s" -> "rows/s",
    "increment_s" -> "s",
    "read_ms_p50" -> "ms",
    "read_ms_p75" -> "ms",
    "stored_mb" -> "MB",
    "heap_peak_mb" -> "MB")

  /** Spans that get the Spark counter set, in table order. */
  val counterSpans: Seq[String] = Seq(
    "ingest", "silver", "gold", "rebuild", "read", "curate", "index_build", "delta")

  val counters: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "executor_run_s" -> "s", "executor_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB",
    "shuffle_fetch_wait_s" -> "s", "spill_mb" -> "MB",
    "core_busy_frac" -> "frac", "jobs_unattributed" -> "count")

  /** Span name → pipeline.* metric (mean seconds per call). */
  val pipelineSpans: Seq[(String, String)] = Seq(
    "ingest" -> "pipeline.ingest_s", "silver" -> "pipeline.silver_s",
    "gold" -> "pipeline.gold_s", "silver_rewrite" -> "pipeline.silver_rewrite_s",
    "gold_rewrite" -> "pipeline.gold_rewrite_s", "curate" -> "pipeline.curate_s",
    "index_build" -> "pipeline.index_build_s", "delta" -> "pipeline.delta_s")

  val lakeOperators: Seq[String] =
    Seq("applySplits", "rollup", "indicators", "vwapSignals", "patterns")
  val textOperators: Seq[String] = Seq("quality_gate", "minhash", "neardup")

  val perLayer: Seq[(String, String)] =
    pipelineSpans.map(_._2 -> "s") ++ Seq(
      "sources.read_amp" -> "ratio", "sources.write_amp" -> "ratio",
      "sources.files_written" -> "count", "sources.bytes_written_mb" -> "MB",
      "sources.read_tasks_per_lookup" -> "count",
      "sources.index_read_frac" -> "frac") ++
      (lakeOperators ++ textOperators).map(op => s"operators.${op}_s" -> "s") ++
      Seq("operators.planted_recall" -> "frac") ++
      (for (s <- counterSpans; (c, u) <- counters) yield s"spark.$c.$s" -> u) ++
      Seq("trace.overhead_frac" -> "frac", "trace.attributed_frac" -> "frac")

  /** The read tail reported: the highest percentile with ten samples
    * beyond it at [[MinReads]] reads. */
  val ReadPercentile = 75.0
  val MinReads: Int = Stats.samplesFor(ReadPercentile)

  /** The end-to-end metrics from a workload's samples (medians; a metric
    * without samples, only possible after a failed op, reads 0). */
  def endToEndValues(setup: Double, rebuildRowsPerS: Seq[Double],
                     incrementS: Seq[Double], readMs: Seq[Double],
                     storedMb: Double, heapPeakMb: Double): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Map("setup_s" -> setup, "rebuild_rows_per_s" -> med(rebuildRowsPerS),
      "increment_s" -> med(incrementS), "read_ms_p50" -> med(readMs),
      "read_ms_p75" ->
        (if (readMs.length >= MinReads) Stats.supportedPercentile(readMs, ReadPercentile) else 0.0),
      "stored_mb" -> storedMb, "heap_peak_mb" -> heapPeakMb)
  }
}

/** Tracing overhead from alternating rounds (untraced, traced, …): the
  * median traced round against the median untraced one, over the named
  * ops. With the two rounds a traced run makes, the JVM's remaining
  * warm-up favours the later, traced round, so small negative readings
  * are noise, not a speed-up. */
object Overhead {
  def of(ctx: Ctx, ops: Seq[String]): Double = {
    val spans = ctx.tracer.spans.filter(s => ops.contains(s.name))
    val (t, u) = spans.partition(ctx.tracer.isTraced)
    def perRound(xs: Seq[Span]) = xs.groupBy(_.root).values.map(_.map(_.seconds).sum).toSeq
    val (tr, un) = (perRound(t), perRound(u))
    if (tr.isEmpty || un.isEmpty) 0.0 else Stats.median(tr) / Stats.median(un) - 1.0
  }
}

/** Per-layer figures computed from the traced iterations of one run. */
object Layers {

  /** A traced run's per-layer figures: the pipeline.* and spark.*
    * metrics, a table to print, whether the attribution check held (the
    * task time charged to spans plus the unattributed task time equals
    * the listener's total), and per span name the inclusive counters of
    * its traced calls. */
  final case class Summary(metrics: Map[String, Double], table: Seq[String],
                           consistent: Boolean, byName: Map[String, Counters]) {
    def counters(name: String): Counters = byName.getOrElse(name, new Counters)
  }

  def fromTrace(ctx: Ctx): Summary = {
    val all = ctx.tracer.spans
    val traced = all.filter(ctx.tracer.isTraced)
    val (charged, unattributed, straddled) = ctx.listener.attribute(traced)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    Metrics.pipelineSpans.foreach { case (span, metric) =>
      val xs = traced.filter(_.name == span).map(_.seconds)
      out(metric) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    }

    // inclusive counters: a span's own charge plus its descendants'
    val kids = traced.groupBy(_.parent)
    def inclusive(id: Int): Counters = {
      val c = new Counters
      charged.get(id).foreach(c += _)
      kids.getOrElse(id, Nil).foreach(k => c += inclusive(k.id))
      c
    }
    val byName = traced.groupBy(_.name).map { case (name, calls) =>
      val c = new Counters
      calls.foreach(s => c += inclusive(s.id))
      name -> c
    }
    Metrics.counterSpans.foreach { name =>
      val calls = traced.filter(_.name == name)
      val n = math.max(1, calls.length).toDouble
      val c = byName.getOrElse(name, new Counters)
      val wall = calls.map(_.seconds).sum
      val strad = calls.map(s => straddled.getOrElse(s.id, 0)).sum
      val m = Map(
        "jobs" -> c.jobs / n, "stages" -> c.stages / n, "tasks" -> c.tasks / n,
        "executor_run_s" -> c.runMs / 1e3 / n,
        "executor_cpu_s" -> c.cpuNs / 1e9 / n, "gc_s" -> c.gcMs / 1e3 / n,
        "shuffle_write_mb" -> c.shuffleWrite / Run.MiB / n,
        "shuffle_read_mb" -> c.shuffleRead / Run.MiB / n,
        "shuffle_fetch_wait_s" -> c.fetchWaitMs / 1e3 / n,
        "spill_mb" -> c.spill / Run.MiB / n,
        "core_busy_frac" -> (if (wall > 0) c.runMs / 1e3 / (wall * ctx.cores) else 0.0),
        "jobs_unattributed" -> strad / n)
      Metrics.counters.foreach { case (k, _) => out(s"spark.$k.$name") = m(k) }
    }

    val chargedMs = charged.values.map(_.runMs).sum
    val totalMs = ctx.listener.total.runMs
    val consistent = chargedMs + unattributed.runMs == totalMs
    out("trace.attributed_frac") =
      if (totalMs == 0) 1.0 else chargedMs.toDouble / totalMs

    val table = selfTimeTable(traced) ++ Seq(
      f"task-seconds: charged ${chargedMs / 1e3}%.3f + unattributed " +
        f"${unattributed.runMs / 1e3}%.3f (${unattributed.jobs} jobs) = " +
        f"${(chargedMs + unattributed.runMs) / 1e3}%.3f; listener total " +
        f"${totalMs / 1e3}%.3f")
    Summary(out.toMap, table, consistent, byName)
  }

  /** Per span name: calls, total and self seconds (span minus children). */
  def selfTimeTable(spans: Seq[Span]): Seq[String] = {
    val rows = spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      (name, ss.length, ss.map(_.seconds).sum,
        ss.map(s => Tracer.selfSeconds(s, spans)).sum)
    }.sortBy(-_._3)
    f"${"span"}%-16s ${"calls"}%6s ${"total_s"}%10s ${"self_s"}%10s" +:
      rows.map { case (n, c, t, s) => f"$n%-16s $c%6d $t%10.3f $s%10.3f" }
  }

  /** Spans as JSON lines: id, name, parent, start/end millis, seconds. */
  def spanLines(ctx: Ctx): Seq[String] = ctx.tracer.spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"root":${s.root},""" +
      s""""traced":${ctx.tracer.isTraced(s)},"start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"seconds":${s.seconds}}"""
  }
}
