package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced window, each normalised per unit (suite
  * pass, dedup batch):
  *  - build: self time of the graft calls that return a DataFrame, and the
  *    Spark jobs they issue while building (probes, checkpoints, batches);
  *  - catalyst: analysis, optimization and planning of the timed action;
  *  - exec: the action's self time and the jobs, stages, tasks and task
  *    metrics it ran.
  */
object Ledger {
  val OpFamilies = Seq("exact", "jaccard", "minhash", "simhash", "components")
  val Modules = Seq("relational", "text", "similarity", "streaming", "pipeline")

  def metrics(t: Tracer, traced: Main.Window, plain: Main.Window,
              cpus: Int): Seq[(String, (Double, String))] = {
    val units = traced.unitMs.size.toDouble
    val self = t.selfMs
    def selfOf(name: String) = t.spans.filter(_.name == name).map(s => self(s.id)).sum / units
    def durOf(name: String) = t.spans.filter(_.name == name).map(_.ms).sum / units
    val cells = t.cells.asScala.toSeq
    def sum(layer: String, fam: String => Boolean = _ => true)(f: Cell => Long): Double =
      cells.collect { case ((l, fm), c) if l == layer && fam(fm) => f(c) }.sum.toDouble
    def exec(f: Cell => Long) = sum("exec")(f) / units

    val execMs = selfOf("action")
    val taskMs = exec(_.taskRunMs)
    val pairs = traced.ops.filter(_.family == "ops.jaccard").map(_.count).sum / units
    val jacRecords = sum("exec", _ == "ops.jaccard")(_.shuffleRecords) / units
    // in the unit of the gated end-to-end time, pass_cpu_s
    val overhead = traced.typicalUnitCpuMs - plain.typicalUnitCpuMs

    Seq(
      "build.ms" -> (selfOf("build"), "ms"),
      "build.jobs" -> (sum("build")(_.jobs) / units, "count"),
      "build.jobs_repeat" -> (sum("build_repeat")(_.jobs) / units, "count"),
      "catalyst.analysis_ms" -> (durOf("catalyst.analysis"), "ms"),
      "catalyst.optimization_ms" -> (durOf("catalyst.optimization"), "ms"),
      "catalyst.planning_ms" -> (durOf("catalyst.planning"), "ms"),
      "exec.ms" -> (execMs, "ms"),
      "exec.jobs" -> (exec(_.jobs), "count"),
      "exec.stages" -> (exec(_.stages), "count"),
      "exec.tasks" -> (exec(_.tasks), "count"),
      "exec.busy_ratio" -> (if (execMs > 0) taskMs / (execMs * cpus) else 0.0, "ratio"),
      "exec.task_run_ms" -> (taskMs, "ms"),
      "exec.gc_ms" -> (exec(_.gcMs), "ms"),
      "exec.shuffle_write_bytes" -> (exec(_.shuffleWriteBytes), "bytes"),
      "exec.shuffle_read_bytes" -> (exec(_.shuffleReadBytes), "bytes"),
      "exec.shuffle_records" -> (exec(_.shuffleRecords), "count"),
      "exec.spill_bytes" -> (exec(_.spillBytes), "bytes")) ++
    OpFamilies.map(f => s"ops.$f.ms" -> (durOf(s"ops.$f"), "ms")) ++
    Seq(
      "ops.jaccard.pairs" -> (pairs, "count"),
      "ops.jaccard.pairs_per_shuffle_record" ->
        (if (jacRecords > 0) pairs / jacRecords else 0.0, "ratio")) ++
    Modules.map(m => s"queries.$m.ms" -> (durOf(s"queries.$m"), "ms")) ++
    Seq(
      "trace.overhead_ms" -> (overhead, "ms"),
      "trace.overhead_pct" -> (100 * overhead / plain.typicalUnitCpuMs, "%"),
      "trace.units" -> (units, "count"))
  }

  def writeSpans(t: Tracer, path: String): Unit = {
    val lines = t.spans.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "start" -> Json.num(s.start), "end" -> Json.num(s.end),
        "parent" -> s.parent.toString, "op" -> s.op.toString))
    }
    Files.write(Paths.get(path), lines.asJava)
  }
}
