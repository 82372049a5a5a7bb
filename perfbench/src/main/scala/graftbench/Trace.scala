package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}

/** A timed interval at a layer boundary. Times are epoch milliseconds with
  * sub-millisecond precision; `parent` is 0 for an operation's root span, and
  * every span of one operation carries that operation's id in `op`.
  */
final case class Span(id: Int, name: String, start: Double, end: Double,
                      parent: Int, op: Int) {
  def ms: Double = end - start
}

/** Spark execution counters of one ledger cell: the jobs one layer issued
  * for one operation family.
  */
final class Cell {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
}

/** How a workload calls into graft: one operation is a build (the graft call
  * that returns a DataFrame) followed by an action on what it returned.
  * Untraced runs use [[NoTrace]], which only runs the bodies.
  */
sealed trait Probe {
  def op[T](family: String)(body: => T): T
  def build[T](body: => T): T
  /** `make` builds the Dataset the action runs on; its Catalyst phases are
    * part of the action. */
  def action[D <: Dataset[_], T](make: => D)(run: D => T): T
  /** Builds that repeat an earlier build over unchanged inputs. */
  def repeat[T](body: => T): T
}

object NoTrace extends Probe {
  def op[T](family: String)(body: => T): T = body
  def build[T](body: => T): T = body
  def action[D <: Dataset[_], T](make: => D)(run: D => T): T = run(make)
  def repeat[T](body: => T): T = body
}

/** The traced probe, attached for the units it traces. Spans are kept in
  * memory; Spark jobs are attributed to the layer and operation family that
  * issued them through local properties, and their stage and task metrics
  * are summed per cell.
  * Catalyst phases of the action come from its `QueryExecution.tracker`.
  */
final class Tracer(spark: SparkSession) extends SparkListener with Probe {
  private val LayerKey = "graftbench.layer"
  private val FamilyKey = "graftbench.family"
  private val sc = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  private def now(): Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var open: List[(Int, String, Double)] = Nil
  private var opId = 0
  private var family = "none"

  private val stageCell = new ConcurrentHashMap[Int, Cell]()
  val cells = new ConcurrentHashMap[(String, String), Cell]()
  private def cell(layer: String, fam: String): Cell =
    cells.computeIfAbsent((layer, fam), _ => new Cell)

  private def span[T](name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    if (open.isEmpty) opId = id
    val parent = open.headOption.map(_._1).getOrElse(0)
    open = (id, name, now()) :: open
    try body
    finally {
      val (_, _, start) = open.head
      open = open.tail
      spans += Span(id, name, start, now(), parent, opId)
    }
  }

  private def tagged[T](layer: String)(body: => T): T = {
    val prev = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, layer)
    sc.setLocalProperty(FamilyKey, family)
    try body finally sc.setLocalProperty(LayerKey, prev)
  }

  def op[T](fam: String)(body: => T): T = {
    family = fam
    try span(fam)(body) finally ListenerDrain(sc)
  }

  def build[T](body: => T): T = span("build")(tagged("build")(body))

  def repeat[T](body: => T): T = span("build_repeat")(tagged("build_repeat")(body))

  def action[D <: Dataset[_], T](make: => D)(run: D => T): T = span("action") {
    val ds = make
    val r = tagged("exec")(run(ds))
    val parent = open.head._1
    // the tracker stamps each Catalyst phase with wall-clock millis
    ds.queryExecution.tracker.phases.foreach { case (phase, p) =>
      nextId += 1
      spans += Span(nextId, s"catalyst.$phase", p.startTimeMs.toDouble,
        p.endTimeMs.toDouble, parent, opId)
    }
    r
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    val layer = props.flatMap(p => Option(p.getProperty(LayerKey))).getOrElse("other")
    val fam = props.flatMap(p => Option(p.getProperty(FamilyKey))).getOrElse("none")
    val c = cell(layer, fam)
    c.synchronized { c.jobs += 1 }
    j.stageIds.foreach(s => stageCell.put(s, c))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    Option(stageCell.get(s.stageInfo.stageId)).foreach(c => c.synchronized { c.stages += 1 })

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    for (c <- Option(stageCell.get(t.stageId)); m <- Option(t.taskMetrics)) c.synchronized {
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  /** Self time of every span: its duration minus the part of it that its
    * children cover (children of one span never overlap: one client thread).
    */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = { ListenerDrain(sc); sc.removeSparkListener(this) }
}
