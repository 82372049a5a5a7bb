package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** graft's SQL kernels, written down once: (name, expression class,
  * builder). [[graft.plans.GraftExtensions]] injects the table into every
  * extension-built session; [[register]] puts it into any other session.
  * The Scala helpers (`SetExprs.shinglesCol`, `VectorExprs.dot`, …) build
  * their expressions directly and never look a name up, so neither path is
  * needed for the library's own operators and queries, and a session
  * function that shadows a graft name cannot change their answers.
  */
object Kernels {

  type Kernel = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def kernel(name: String, cls: Class[_ <: Expression])(
      build: Seq[Expression] => Expression): Kernel =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  val all: Seq[Kernel] = Seq(
    kernel("graft_dot", classOf[DotProduct])(e => DotProduct(e(0), e(1))),
    kernel("graft_cosine", classOf[DotProduct])(e => VectorExprs.cosineExpr(e(0), e(1))),
    kernel("graft_jaccard", classOf[SetJaccard])(e => SetJaccard(e(0), e(1))),
    kernel("graft_shingles", classOf[WordShingles])(e => WordShingles(e(0), e(1))),
    kernel("graft_nfc", classOf[NfcNormalize])(e => NfcNormalize(e(0))),
    kernel("graft_jaro_winkler", classOf[JaroWinkler])(e => JaroWinkler(e(0), e(1))),
    kernel("graft_hp_scores", classOf[HyperplaneScores])(e => HyperplaneScores(e(0), e(1))),
    kernel("graft_hp_bands", classOf[HyperplaneBands])(e =>
      HyperplaneBands(e(0), e(1), e(2))),
    kernel("graft_minhash_sig", classOf[MinHashSig])(e => MinHashSig(e(0), e(1))),
    kernel("graft_simhash_sig", classOf[SimHashSig])(e => SimHashSig(e(0))),
    kernel("graft_compression_ratio", classOf[CompressionRatio])(e => CompressionRatio(e(0))),
    kernel("graft_freq_items", classOf[FreqItemsSketch])(e =>
      FreqItemsSketch(e(0), e(1)).toAggregateExpression()))

  /** Register every kernel in `spark`'s function registry, replacing any
    * function of the same name — the raw-SQL entry point for a session
    * built without the GraftExtensions conf.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
  }
}
