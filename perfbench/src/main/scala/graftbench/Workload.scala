package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The outcome of one operation: its family, its wall time (build plus
  * action), whether its output checked out, an optional count it produced
  * (pairs emitted), and the CPU time the JVM spent on it (see `Cpu`).
  */
final case class OpResult(family: String, ms: Double, error: Option[String],
                          count: Long = 0L, cpuMs: Double = 0.0)

/** A closed-loop workload: one client runs units (a suite pass, a dedup
  * batch) back to back; each unit is a sequence of operations.
  */
trait Workload {
  /** Per-session set-up, timed as `setup_s`. */
  def setup(spark: SparkSession): Unit
  def unit(spark: SparkSession, probe: Probe, index: Int): Seq[OpResult]
  /** Properties of the inputs this run saw, for the result record. */
  def inputs: Seq[(String, String)]
}

object Workload {
  /** Runs one operation through the probe: `build` calls graft, `make`
    * shapes the Dataset the action runs on, `run` is the action, and
    * `check` inspects its result (None = correct). A traced run then
    * rebuilds the operation once over unchanged inputs, as the outside
    * view of graft's planning memos.
    */
  def op[T](probe: Probe, family: String)(build: => DataFrame)(
      make: DataFrame => DataFrame, run: DataFrame => T)(
      check: T => (Option[String], Long)): OpResult = {
    val t0 = System.nanoTime()
    val c0 = Cpu.appNs()
    def done(err: Option[String], n: Long) =
      OpResult(family, (System.nanoTime() - t0) / 1e6, err, n,
        (Cpu.appNs() - c0) / 1e6)
    val res =
      try {
        val out = probe.op(family) {
          val df = probe.build(build)
          probe.action(make(df))(run)
        }
        val r = done(None, 0L)
        val (err, n) = check(out)
        r.copy(error = err, count = n)
      } catch {
        case scala.util.control.NonFatal(e) =>
          done(Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)), 0L)
      }
    if (probe ne NoTrace)
      try probe.repeat(build) catch { case scala.util.control.NonFatal(_) => () }
    res
  }

  def digestCheck(expected: Option[(Long, Option[String])])(
      got: (Long, String)): (Option[String], Long) = {
    val err = expected match {
      case None => Some("no expected result recorded")
      case Some((rows, _)) if rows != got._1 => Some(s"rows ${got._1}, expected $rows")
      case Some((_, Some(h))) if h != got._2 => Some(s"content hash ${got._2}, expected $h")
      case _ => None
    }
    (err, got._1)
  }
}
