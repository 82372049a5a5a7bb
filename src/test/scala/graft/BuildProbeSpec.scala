package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import graft.ops.PlanStatMemo

/** The bounded `limit(max+1).count()` probes that remain at build time are
  * algorithm choices; a join's broadcast-or-shuffle choice costs no build
  * job. Each query is built cold (empty planning memo) at sf0.001, and the
  * build's actions whose plan holds a `GlobalLimit` are counted: a cold
  * schema read may run jobs of its own, so not every job counts.
  */
class BuildProbeSpec extends SparkSpec {

  private def limitProbes(query: String): Int = {
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = actions.add(qe.analyzed)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = actions.add(qe.analyzed)
    }
    // q38 and q67 probe the same part-name domain: a warm memo would hide
    // the second probe
    PlanStatMemo.clear()
    spark.listenerManager.register(listener)
    try jobsOf(SparkEntry.queries(query)(spark, sf0001)) // drains the listener bus
    finally spark.listenerManager.unregister(listener)
    actions.asScala.count(_.exists(_.isInstanceOf[GlobalLimit]))
  }

  test("retrieval and containment builds run no bounded-count probe") {
    val qs = Seq("q60_decontaminate", "q69_bm25_rs", "q75_tfidf_cosine")
    assert(qs.map(q => q -> limitProbes(q)).toMap === qs.map(_ -> 0).toMap)
  }

  test("string-similarity builds run only the domain-size probe") {
    val qs = Seq("q38_edit_distance_join", "q67_jaro_winkler_join")
    assert(qs.map(q => q -> limitProbes(q)).toMap === qs.map(_ -> 1).toMap)
  }
}
