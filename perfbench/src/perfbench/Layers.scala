package perfbench

import org.json4s._

import perfbench.Harness.{Pass, Sample}

/** Per-layer metrics of a traced run, read from the row span trees and the
  * listener counters. Cold figures come from the cold pass; warm figures
  * from the traced warm pass whose wall time is the median (the lower one
  * of an even count), so a pass's layer figures stay consistent.
  */
object Layers {
  private val MB = 1048576.0

  /** Planning phases of the row's noop write (direct children of the row). */
  def planS(t: Span): Double =
    t.children.filter(_.name.startsWith("catalyst.plan.")).map(_.dur).sum / 1e9

  /** Union of the row's job wall time. */
  def jobS(t: Span): Double = t.all.filter(_.name == "exec.job").map(_.dur).sum / 1e9

  def metrics(cold: Pass, traced: Seq[Pass], untracedWarmS: Double, cpus: Int,
      loadS: Double, cachedMb: Double, blocksMb: Double,
      retainedMb: Double): Map[String, Double] = {
    val w = traced.sortBy(_.wallS).apply((traced.size - 1) / 2)
    def sum(p: Pass)(f: Sample => Double): Double = p.ok.map(f).sum
    def ev(p: Pass)(f: RowEvents => Double): Double = sum(p)(s => f(s.events.get))
    def ex(p: Pass)(f: ExecCounters => Double): Double = ev(p)(e => f(e.exec))
    def st(p: Pass)(f: StreamCounters => Double): Double = ev(p)(e => f(e.stream))
    val buildCold = sum(cold)(_.buildS)
    val buildWarm = sum(w)(_.buildS)
    val codegenCold = ev(cold)(_.codegenMs / 1e3)
    val codegenWarm = ev(w)(_.codegenMs / 1e3)
    val gap = cold.wallS - w.wallS
    val gapBuild = (buildCold - ev(cold)(_.codegenBuildMs / 1e3)) -
      (buildWarm - ev(w)(_.codegenBuildMs / 1e3))
    val gapCodegen = codegenCold - codegenWarm
    // JIT compiles on background threads beside the `cpus` task threads,
    // so its compile-time gap is charged at a 1/cpus share, and only up to
    // what the measured build and codegen parts leave of the gap; the parts
    // are then non-negative and sum to the gap.
    val gapJit = math.max(0.0, math.min((cold.jitMs - w.jitMs) / 1e3 / cpus,
      gap - gapBuild - gapCodegen))
    Map(
      "Tables.load_s" -> loadS,
      "Tables.cached_mb" -> cachedMb,
      "Registry.build_cold_s" -> buildCold,
      "Registry.build_warm_s" -> buildWarm,
      "catalyst.plan_cold_s" -> sum(cold)(s => planS(s.tree.get)),
      "catalyst.plan_warm_s" -> sum(w)(s => planS(s.tree.get)),
      "driver.residual_s" -> sum(w)(_.tree.get.self / 1e9),
      "exec.job_s" -> sum(w)(s => jobS(s.tree.get)),
      "exec.jobs" -> ex(w)(_.jobs.toDouble),
      "exec.stages" -> ex(w)(_.stages.toDouble),
      "exec.tasks" -> ex(w)(_.tasks.toDouble),
      "exec.task_run_s" -> ex(w)(_.runMs / 1e3),
      "exec.task_cpu_s" -> ex(w)(_.cpuNs / 1e9),
      "exec.task_gc_s" -> ex(w)(_.gcMs / 1e3),
      "exec.shuffle_read_mb" -> ex(w)(_.shuffleRead / MB),
      "exec.shuffle_write_mb" -> ex(w)(_.shuffleWrite / MB),
      "exec.spill_mb" -> ex(w)(_.spill / MB),
      "exec.input_mb" -> ex(w)(_.input / MB),
      "exec.output_mb" -> ex(w)(_.output / MB),
      "codegen.compile_cold_s" -> codegenCold,
      "codegen.compile_warm_s" -> codegenWarm,
      "codegen.classes_cold" -> ev(cold)(_.codegenCount.toDouble),
      "jvm.jit_cold_s" -> cold.jitMs / 1e3,
      "jvm.jit_warm_s" -> w.jitMs / 1e3,
      "jvm.gc_s" -> w.gcMs / 1e3,
      "stream.batches" -> st(w)(_.batches.toDouble),
      "stream.trigger_s" -> st(w)(_.triggerMs / 1e3),
      "stream.plan_s" -> st(w)(_.planMs / 1e3),
      "stream.add_batch_s" -> st(w)(_.addBatchMs / 1e3),
      "stream.commit_s" -> st(w)(_.commitMs / 1e3),
      "stream.state_rows" -> st(w)(_.stateRows.values.sum.toDouble),
      "stream.state_commit_s" -> st(w)(_.stateCommitMs / 1e3),
      "storage.blocks_mb_end" -> blocksMb,
      "memo.retained_heap_mb" -> retainedMb,
      "gap.build_s" -> gapBuild,
      "gap.codegen_s" -> gapCodegen,
      "gap.jit_s" -> gapJit,
      "gap.other_s" -> (gap - gapBuild - gapCodegen - gapJit),
      "trace.overhead_s" -> (Harness.warmS(traced) - untracedWarmS))
  }

  /** One traced row: its layer split, counters and flattened span tree
    * (times in ms from the row's start; `parent` -1 marks the root).
    */
  def rowJson(workload: String, s: Sample): JValue = {
    val t = s.tree.get
    val e = s.events.get
    var next = 0
    def flat(sp: Span, parent: Int): List[JValue] = {
      val id = next
      next += 1
      JObject("id" -> JInt(id), "parent" -> JInt(parent), "name" -> JString(sp.name),
        "start_ms" -> JDouble((sp.start - t.start) / 1e6), "dur_ms" -> JDouble(sp.dur / 1e6),
        "self_ms" -> JDouble(sp.self / 1e6)) :: sp.children.toList.flatMap(flat(_, id))
    }
    JObject(
      "workload" -> JString(workload), "pass" -> JString(s.pass), "pass_no" -> JInt(s.passNo),
      "row" -> JString(s.row), "ok" -> JBool(s.ok), "wall_s" -> JDouble(s.totalS),
      "build_s" -> JDouble(s.buildS), "plan_s" -> JDouble(planS(t)), "job_s" -> JDouble(jobS(t)),
      "residual_s" -> JDouble(t.self / 1e9),
      "exec" -> JObject("jobs" -> JLong(e.exec.jobs), "stages" -> JLong(e.exec.stages),
        "tasks" -> JLong(e.exec.tasks), "task_run_s" -> JDouble(e.exec.runMs / 1e3),
        "task_cpu_s" -> JDouble(e.exec.cpuNs / 1e9), "task_gc_s" -> JDouble(e.exec.gcMs / 1e3),
        "shuffle_read_mb" -> JDouble(e.exec.shuffleRead / MB),
        "shuffle_write_mb" -> JDouble(e.exec.shuffleWrite / MB),
        "spill_mb" -> JDouble(e.exec.spill / MB), "input_mb" -> JDouble(e.exec.input / MB),
        "output_mb" -> JDouble(e.exec.output / MB)),
      "stream" -> JObject("batches" -> JLong(e.stream.batches),
        "trigger_s" -> JDouble(e.stream.triggerMs / 1e3),
        "state_rows" -> JLong(e.stream.stateRows.values.sum)),
      "codegen" -> JObject("classes" -> JLong(e.codegenCount),
        "compile_s" -> JDouble(e.codegenMs / 1e3)),
      "spans" -> JArray(flat(t, -1)))
  }
}
