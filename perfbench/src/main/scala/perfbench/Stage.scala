package perfbench

/** Listener figures joined to spans through their job groups. */
object Stage {

  final case class Totals(jobs: Int, tasks: Int, runMs: Long, gcMs: Long, shuffleRead: Long,
                          shuffleWrite: Long, spill: Long, inputBytes: Long, recordsRead: Long,
                          stages: Seq[StageTotals])

  def of(ctx: Ctx, spans: Seq[Span]): Totals = {
    val l = ctx.listener.get
    val groups = spans.map(s => s"span-${s.id}")
    groups.foreach(g => l.drain(ctx.spark.sparkContext, g))
    val st = groups.flatMap(l.stagesOf)
    Totals(groups.map(l.jobs).sum, st.map(_.tasks).sum, st.map(_.runMs).sum, st.map(_.gcMs).sum,
      st.map(_.shuffleRead).sum, st.map(_.shuffleWrite).sum, st.map(_.spill).sum,
      st.map(_.inputBytes).sum, st.map(_.recordsRead).sum, st)
  }

  /** Op spans named `name` in the given laps. */
  def spans(ctx: Ctx, laps: Seq[Lap], name: String): Seq[Span] = {
    val idx = laps.map(_.index).toSet
    ctx.tracer.closed.filter(s => s.name == name && idx(s.lap))
  }

  /** Stage-layer metrics over every op span of the traced laps. */
  def metrics(ctx: Ctx, laps: Seq[Lap]): Seq[Metric] = {
    val idx = laps.map(_.index).toSet
    val ops = ctx.tracer.closed.filter(s => s.layer != "lap" && idx(s.lap))
    val t = of(ctx, ops)
    val wall = ops.map(_.seconds).sum
    val oldGen = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.toArray
      .collect { case p: java.lang.management.MemoryPoolMXBean if p.getName.contains("Old Gen") => p }
      .map(_.getPeakUsage.getUsed).sum
    Seq(
      Metric("stage.busy_frac", t.runMs / 1e3 / math.max(1e-9, wall * ctx.cores), "ratio"),
      Metric("stage.tasks_per_op", t.tasks.toDouble / math.max(1, ops.size), "count"),
      Metric("stage.gc_frac", t.gcMs.toDouble / math.max(1L, t.runMs), "ratio"),
      Metric("stage.old_gen_peak_mb", oldGen / 1048576.0, "MB"))
  }
}
