package graftbench

/** The end-to-end metrics every workload reports from its timed
  * operations, and the per-layer metrics every workload shares. */
object Trace {
  /** `ops` are the workload's timed operations that succeeded, `cpuOps`
    * those of them the CPU median is taken over, `count`
    * all it attempted in the timed phase, `cpuNs` the JVM's CPU over that
    * phase (background work such as drains included), `rate` its
    * completed work per wall second.
    *
    * The gated metrics are CPU time outside the JIT compiler threads
    * ([[Host.cpuNs]]): on a shared VM the hypervisor's steal
    * moved wall-clock medians by up to 2x between runs, CPU per operation
    * by under 10%. Wall latency and rate are reported beside them. */
  def report(ctx: Ctx, out: Outcome, ops: Seq[Span], cpuOps: Seq[Span], count: Int, cpuNs: Long,
      rate: Double): Unit = {
    val cpuPerOp = cpuNs / 1e6 / math.max(1, count)
    out.e2e("cpu_p50_ms") = Stats.median(cpuOps.map(_.cpuMs))
    out.e2e("cpu_ms_per_op") = cpuPerOp
    val wallP50 = Stats.median(ops.map(_.wallMs))
    out.detail("wall_p50_ms") = wallP50
    out.detail("wall_rate_per_s") = rate
    ctx.tracer.settle()
    out.layer("wall.p50_ms") = wallP50
    out.layer("wall.rate_per_s") = rate
    out.layer("trace.cpu_ms_per_op") = cpuPerOp
    out.layer("trace.unattributed_job_share") = ctx.tracer.unattributedShare
    out.layer("trace.jobs") = ctx.tracer.jobsTotal.get.toDouble
    out.layer("api.spill_mb") = Stats.mb(ctx.tracer.spillBytesTotal.get)
  }
}
