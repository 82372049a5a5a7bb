package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType
import graft.functions.DotProduct

/** Optimizer rule: recognize the higher-order-function dot-product idiom
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)
  *
  * and rewrite it to the native codegen'd [[graft.functions.DotProduct]].
  * HOF lambdas evaluate interpreted (one closure dispatch per element,
  * outside whole-stage codegen) — measured ~7× slower on the sf0.1 cosine
  * workloads — so SQL users who write the idiom directly get the same fast
  * path the library's Scala API uses. The match is deliberately
  * conservative: exact shape, double element types, literal 0.0 seed,
  * identity finish — anything else is left untouched.
  */
object DotProductRewrite extends Rule[LogicalPlan] {

  private def isIdentityFinish(f: Expression): Boolean = f match {
    case LambdaFunction(body: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      body.exprId == arg.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(left, right,
              LambdaFunction(Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
                Seq(lx: NamedLambdaVariable, ly: NamedLambdaVariable), _)),
            Literal(0.0, DoubleType),
            LambdaFunction(Add(m1: NamedLambdaVariable, m2: NamedLambdaVariable, _),
              Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
            finish)
          if isIdentityFinish(finish) &&
            Set(x.exprId, y.exprId) == Set(lx.exprId, ly.exprId) &&
            Set(m1.exprId, m2.exprId) == Set(acc.exprId, v.exprId) =>
        DotProduct(left, right)
    }
}

/** Session extension entry point:
  * `spark.sql.extensions=graft.plans.GraftExtensions` (set by the graft
  * harness mains) or `.withExtensions(new GraftExtensions)`.
  *
  * Injects the optimizer rewrite AND every graft SQL kernel
  * ([[graft.functions.Kernels]]: `graft_dot`, `graft_jaccard`, …) so a
  * raw-SQL user of an extension-built session can call the similarity
  * kernels with no Scala at all — SURVEY §3.3's SQL entry point. A session
  * built without the conf gets the same functions from
  * `graft.functions.Kernels.register`; the Scala Column API needs neither.
  *
  * The first graft session in a JVM also sizes Spark's cache of compiled
  * generated classes to [[CodegenCache.MaxEntries]] (Spark's default of
  * 100 is below one pass over graft's plans, which then recompiles the
  * same code every pass) and logs one INFO line with the size (logger
  * `graft.plans.CodegenCache`). An application's own
  * `spark.sql.codegen.cache.maxEntries` (`--conf`, `-Dspark.…`, the
  * builder) wins. If this JVM compiled classes before the first graft
  * session, the size is already fixed: one WARN names the conf to set
  * instead. Executor JVMs of a cluster size their own cache from the
  * application's conf; this does not reach them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    CodegenCache()
    ext.injectOptimizerRule(_ => DotProductRewrite)
    // AFTER V2ScanRelationPushDown (the pre-CBO batch), so the rule sees
    // the pushed DataSourceV2ScanRelation + V1ScanWrapper it prices.
    // Order matters: reorder joins FIRST, then hint broadcast sides of
    // the reordered tree
    ext.injectPreCBORule(_ => JoinOrderRule)
    ext.injectPreCBORule(_ => BroadcastStatsRule)
    // OPTIMIZE / VACUUM maintenance statements; everything else passes
    // verbatim to Spark's parser
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // runtime filtering (the DPP analog): when AQE re-optimizes after a
    // broadcast stage materializes, push its key set into the probe-side
    // graft scan so unmatchable partitions/files are never read
    ext.injectRuntimeOptimizerRule(_ => RuntimeFilterRule)
    // UPDATE / MERGE INTO on graft catalog tables: the analyzed plans
    // lower onto the engine's partition-CoW machinery (post-hoc = after
    // reference resolution, before the planner rejects them)
    ext.injectPostHocResolutionRule(_ => GraftDmlRewrite)
    // the graft SQL kernels, one table shared with Kernels.register
    graft.functions.Kernels.all.foreach(ext.injectFunction)
  }
}
