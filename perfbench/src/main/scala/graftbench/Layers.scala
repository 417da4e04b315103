package graftbench

/** The per-layer table of a traced run, computed from the spans of the
  * traced cycles and the Spark work attributed to them. Planning and job
  * figures are means per call; task, shuffle and GC figures are totals. */
object Layers {
  def report(r: Run): Unit = {
    val t = r.tracer
    val window = t.spans.filter(_.traced).toSeq
    val ops = window.filter(s => s.parent.isEmpty && s.name.startsWith("op:"))
    val n = math.max(1, ops.size).toDouble
    val works = ops.map(o => o -> t.workUnder(o))
    val all = works.flatMap(_._2)
    def sumL(f: SpanWork => Long) = all.map(f).sum.toDouble
    val wallMs = ops.map(_.ms).sum
    def child(o: Span, kind: String) = o.children.filter(_.name.startsWith(kind + ":")).map(_.ms).sum

    r.l("plan.ms", sumL(_.planMs) / n, "ms")
    r.l("plan.executions", all.map(_.executions).sum / n, "count")
    r.l("jobs.count", all.map(_.jobs).sum / n, "count")
    r.l("jobs.stages", all.map(_.stages).sum / n, "count")
    r.l("jobs.tasks", all.map(_.tasks).sum / n, "count")
    r.l("jobs.driver_gap_ms", works.map { case (o, ws) =>
      o.ms - Tracer.covered(ws.flatMap(_.jobIntervals)) }.sum / n, "ms")
    r.l("tasks.executor_run_s", sumL(_.runMs) / 1e3, "s")
    r.l("tasks.executor_cpu_s", sumL(_.cpuNs) / 1e9, "s")
    r.l("tasks.scheduler_delay_ms", sumL(_.schedDelayMs) / math.max(1.0, sumL(_.tasks.toLong)), "ms")
    r.l("tasks.busy_share", if (wallMs > 0) sumL(_.runMs) / (wallMs * r.opts.cores) else 0.0, "ratio")
    r.l("shuffle.write_mb", sumL(_.shuffleWrite) / 1048576.0, "MB")
    r.l("shuffle.read_mb", sumL(_.shuffleRead) / 1048576.0, "MB")
    r.l("shuffle.fetch_wait_ms", sumL(_.fetchWaitMs), "ms")
    r.l("spill.mb", sumL(_.spill) / 1048576.0, "MB")
    r.l("mem.peak_exec_mb", (all.map(_.peakExec) :+ 0L).max / 1048576.0, "MB")
    r.l("gc.s", ops.map(_.gcMs).sum / 1e3, "s")
    r.l("gc.count", ops.map(_.gcCount).sum.toDouble, "count")
    r.l("facade.call_ms", Run.median(ops.map(child(_, "call"))), "ms")
    r.l("facade.collect_ms", Run.median(ops.map(child(_, "collect"))), "ms")
    // layers a workload does not touch read 0
    Main.PerLayer.filterNot(r.layer.contains).foreach(n => r.l(n, 0.0, unitOf(n)))

    r.say("span table (traced cycles): name count total_ms self_ms jobs tasks plan_ms")
    window.groupBy(_.name).toSeq.sortBy(-_._2.map(_.ms).sum).foreach { case (name, ss) =>
      val ws = ss.flatMap(t.own)
      r.say(f"  $name%-28s ${ss.size}%4d ${ss.map(_.ms).sum}%10.1f ${ss.map(_.selfMs).sum}%10.1f " +
        f"${ws.map(_.jobs).sum}%5d ${ws.map(_.tasks).sum}%6d ${ws.map(_.planMs).sum}%7d")
    }
  }

  private def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms" else if (name.endsWith("_s") || name == "gc.s") "s"
    else if (name.endsWith("_mb") || name == "spill.mb") "MB"
    else if (name.endsWith("ratio") || name.endsWith("share") || name.endsWith("recall")) "ratio" else "count"
}
