package graftbench

/** Spark-phase per-layer metrics of the traced passes, from the phase
  * stats the listeners filled: planning, codegen, orchestration, execution
  * and cache. Each is per pass. */
object Layers {
  /** Span layers from the outermost in. */
  val SelfLayers = Seq("workload", "phase", "step", "job", "stage")

  /** Phase ids of `id` and every phase nested in it. */
  private def subtree(tracer: Tracer, id: Long): Seq[Long] = {
    val kids = tracer.allSpans.filter(s => s.layer == "phase" ||
      s.layer == "step").groupBy(_.parent)
    def go(i: Long): Seq[Long] =
      i +: kids.getOrElse(i, Nil).flatMap(s => go(s.id))
    go(id)
  }

  /** Driver gap of a phase: its wall minus the union of the intervals of
    * the Spark jobs it (or a phase nested in it) ran. Overlapping jobs are
    * counted once, so the gap is never negative. */
  def gapS(tracer: Tracer, id: Long): Double = {
    val jobs = subtree(tracer, id).flatMap(tracer.stats).flatMap(_.jobIntervals)
    Spans.uncovered(tracer.allSpans.find(_.id == id).get, jobs) / 1e6
  }

  def spark(tracer: Tracer, passes: Seq[PassResult]): Seq[Metric] = {
    val n = passes.size.toDouble
    val ops = passes.flatMap(_.ops)
    val all = ops.flatMap(o => subtree(tracer, o.phaseId)).flatMap(tracer.stats)
    val top = ops.flatMap(o => tracer.stats(o.phaseId))
    def sum(f: PhaseStats => Double) = all.map(f).sum / n
    val wall = ops.map(_.wallS).sum
    val gap = ops.map(o => gapS(tracer, o.phaseId)).sum
    val planning =
      all.map(s => s.analysisMs + s.optimizerMs + s.physicalMs).sum / 1e3
    val codegenS = top.map(_.codegenMs).sum / 1e3
    // split each op's wall into execution (job union) and the driver gap;
    // planning and codegen are driver work and are taken out of the gap
    val planInGap = math.min(planning, gap)
    val cgInGap = math.min(codegenS, gap - planInGap)
    val self = Spans.selfByLayer(tracer.allSpans, SelfLayers)
    Seq(
      Metric("plan.analysis_ms", sum(_.analysisMs.toDouble), "ms"),
      Metric("plan.optimizer_ms", sum(_.optimizerMs.toDouble), "ms"),
      Metric("plan.physical_ms", sum(_.physicalMs.toDouble), "ms"),
      Metric("codegen.compile_ms", top.map(_.codegenMs).sum / n, "ms"),
      Metric("codegen.classes", top.map(_.codegenClasses.toDouble).sum / n,
        "count"),
      Metric("driver.jobs", sum(_.jobs.toDouble), "count"),
      Metric("driver.stages", sum(_.stages.toDouble), "count"),
      Metric("driver.tasks", sum(_.tasks.toDouble), "count"),
      Metric("driver.gap_s", gap / n, "s"),
      Metric("exec.cpu_s", sum(_.execCpuNs / 1e9), "s"),
      Metric("exec.gc_s", sum(_.gcMs / 1e3), "s"),
      Metric("exec.shuffle_read_bytes", sum(_.shuffleReadBytes.toDouble),
        "bytes"),
      Metric("exec.shuffle_write_bytes", sum(_.shuffleWriteBytes.toDouble),
        "bytes"),
      Metric("exec.spill_bytes", sum(_.spillBytes.toDouble), "bytes"),
      Metric("exec.input_bytes", sum(_.inputBytes.toDouble), "bytes"),
      Metric("cache.leaked_entries", top.map(_.leakedEntries.toDouble).sum / n,
        "count"),
      Metric("attrib.exec_share", (wall - gap) / wall, "ratio"),
      Metric("attrib.planning_share", planInGap / wall, "ratio"),
      Metric("attrib.codegen_share", cgInGap / wall, "ratio"),
      Metric("attrib.driver_other_share", (gap - planInGap - cgInGap) / wall,
        "ratio"),
      // share of the operations' wall inside Spark jobs or timed planning
      // and codegen; the rest is unexplained driver time
      Metric("trace.attributed_share", (wall - gap + planInGap + cgInGap) /
        wall, "ratio")) ++
      SelfLayers.map(l => Metric(s"self.${l}_s", self(l) / 1e6 / n, "s"))
  }

  /** graft.agg per-layer metrics over the given sketch-aggregate phases. */
  def agg(tracer: Tracer, phaseIds: Seq[Long], passes: Int): Seq[Metric] = {
    val st = phaseIds.flatMap(id => subtree(tracer, id)).flatMap(tracer.stats)
    val n = passes.toDouble
    Seq(
      Metric("agg.partial_blobs", st.map(_.shuffleWriteRecords).sum / n,
        "count"),
      Metric("agg.shuffle_write_bytes", st.map(_.shuffleWriteBytes).sum / n,
        "bytes"),
      Metric("agg.map_s", st.map(_.mapStageMs).sum / 1e3 / n, "s"),
      Metric("agg.merge_s", st.map(_.resultStageMs).sum / 1e3 / n, "s"),
      Metric("agg.spill_bytes", st.map(_.spillBytes).sum / n, "bytes"))
  }
}
