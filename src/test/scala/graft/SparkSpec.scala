package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared session fixture: the graded config ([[GraftSession]]) at four
  * cores, plus a temporary warehouse dir.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Run `body` with session confs set, restoring prior values after. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Build and run a query twice: at the session's broadcast threshold,
    * and under `spark.sql.autoBroadcastJoinThreshold` = −1, which forces
    * every un-hinted join to shuffle. Asserts that the first executed plan
    * holds a BroadcastHashJoin and the second none, so the two runs took
    * different join paths, and returns both results for comparison.
    */
  def bothJoinPaths[A](build: => org.apache.spark.sql.DataFrame)(
      result: org.apache.spark.sql.DataFrame => A): (A, A) = {
    val plans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def run(): (A, Boolean) = {
      val df = build
      val out = result(df)
      (out, plans.find(df.queryExecution.executedPlan)(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]).isDefined)
    }
    val (atDefault, broadcastAtDefault) = run()
    val (forced, broadcastForced) =
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(run())
    assert(broadcastAtDefault, "no BroadcastHashJoin at the default threshold")
    assert(!broadcastForced, "a BroadcastHashJoin under threshold -1")
    (atDefault, forced)
  }

  /** Run `body` and return the properties of every Spark job it started,
    * in start order. Jobs are matched by a job group unique to the call,
    * so jobs of other threads never count; the group reaches the jobs
    * Spark starts on helper threads (broadcasts, AQE stages) through the
    * captured local properties.
    */
  def jobsOf[A](body: => A): (A, Seq[java.util.Properties]) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group) seen.add(j.properties)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsOf")
    try {
      val a = body
      org.apache.spark.GraftListenerDrain(sc)
      (a, seen.toArray(Array.empty[java.util.Properties]).toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  /** Four cores whatever SPARK_GRAFT_CPUS says, so spec plans do not
    * depend on the host.
    */
  lazy val session: SparkSession = GraftSession.builder(cpus = 4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}
