package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{GraftListenerDrain, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Per-query probes for optimization work, all in one graded session:
  *
  *  - `profile <query>...`: wall time and row count of each query, run
  *    SPARK_GRAFT_REPS times (default 2) so warm cost shows next to cold,
  *    with the driver jobs, completed stages, tasks and shuffle read/write
  *    bytes each rep scheduled, and the generated classes it compiled —
  *    the counters raw wall time hides (a recompute shows up as duplicated
  *    stages, a dead action as an extra job, a codegen cache too small for
  *    the plans as `compiles` above 0 on warm reps). With
  *    SPARK_GRAFT_EXECPLAN set, the last rep also prints the final
  *    adaptive plan.
  *  - `plans <tag> <suffix> <query>...`: writes each query's formatted
  *    physical plan to `plans/<tag>/<shortKey>_<suffix>.txt`.
  *  - `explain <query>...`: prints the formatted physical plan.
  *
  * The corpus is SPARK_GRAFT_SF_DIR: by default sf0.1 for `profile`
  * and sf0.01 for the plan commands (plan shape does not depend
  * on the scale: every input is one parquet file per table). A query is
  * named by its key, its short key (`q10`) or a unique key prefix.
  *
  * Usage: runMain graft.Probe <profile|plans|explain> [tag suffix] <query>...
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    val firstQuery = Map("profile" -> 1, "plans" -> 3, "explain" -> 1)
    require(firstQuery.get(cmd).exists(args.length > _),
      "usage: Probe profile|explain <query>... | Probe plans <tag> <suffix> <query>...")
    val keys = args.drop(firstQuery(cmd)).toSeq.map(resolve(_, SparkEntry.queries.keySet))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      if (cmd == "profile") "/root/testdata/sf0.1" else "/root/testdata/sf0.01")
    val spark = GraftSession.builder().getOrCreate()
    try cmd match {
      case "profile" => profile(spark, sfDir, keys)
      case "explain" => keys.foreach(k => SparkEntry.queries(k)(spark, sfDir).explain("formatted"))
      case "plans" =>
        val outDir = Files.createDirectories(Paths.get("plans", args(1)))
        for (k <- keys) {
          val file = s"${k.takeWhile(_ != '_')}_${args(2)}.txt"
          try {
            val plan = SparkEntry.queries(k)(spark, sfDir).queryExecution.explainString(FormattedMode)
            Files.writeString(outDir.resolve(file), plan)
            println(s"[plans] wrote $file (${plan.length} B)")
          } catch {
            case e: Throwable => System.err.println(s"[plans] $k FAILED: ${e.getMessage}")
          }
        }
    } finally spark.stop()
  }

  /** The query `name` selects: the key itself, else the key whose short
    * key (the text before its first `_`) is `name`, else the only key
    * `name` prefixes. Fails otherwise, listing the candidates.
    */
  def resolve(name: String, keys: Set[String]): String =
    if (keys(name)) name
    else keys.find(_.takeWhile(_ != '_') == name).getOrElse {
      keys.filter(_.startsWith(name)).toSeq.sorted match {
        case Seq(k) => k
        case Seq() => throw new IllegalArgumentException(s"no query matches '$name'")
        case ks => throw new IllegalArgumentException(
          s"'$name' matches ${ks.size} queries: ${ks.mkString(", ")}")
      }
    }

  private def profile(spark: SparkSession, sfDir: String, keys: Seq[String]): Unit = {
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val dumpExec = sys.env.contains("SPARK_GRAFT_EXECPLAN")
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm-up
    val counters = new StageCounters
    spark.sparkContext.addSparkListener(counters)
    for (k <- keys; r <- 1 to reps) {
      counters.reset(spark.sparkContext)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(k)(spark, sfDir)
      // collect() (not count()) when dumping: only the dataset's OWN
      // queryExecution carries the final adaptive plan after execution
      val n = if (dumpExec) df.collect().length.toLong else df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[prof] $k rep$r: $sec%.2f s ($n rows) ${counters.report(spark.sparkContext)}")
      // the FINAL adaptive plan — where runtime exchange/stage reuse is
      // visible (the static dump never shows ReusedExchange under AQE)
      if (dumpExec && r == reps)
        println(s"[prof] $k executedPlan:\n${df.queryExecution.executedPlan}")
    }
  }

  /** Jobs started, stages completed, their tasks and shuffle bytes, and
    * the classes Spark's code generator compiled since the last reset.
    */
  private final class StageCounters extends SparkListener {
    private val jobs, stages, tasks, shufRead, shufWrite = new AtomicLong(0L)
    private var compiled0 = 0L
    private def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
      shufRead.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      ()
    }

    /** Zero the counters once every event posted so far has been delivered. */
    def reset(sc: SparkContext): Unit = {
      GraftListenerDrain(sc)
      Seq(jobs, stages, tasks, shufRead, shufWrite).foreach(_.set(0L))
      compiled0 = compiled
    }

    def report(sc: SparkContext): String = {
      GraftListenerDrain(sc)
      s"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
        s"shufRead=${shufRead.get / 1024}KiB shufWrite=${shufWrite.get / 1024}KiB " +
        s"compiles=${compiled - compiled0}"
    }
  }
}
