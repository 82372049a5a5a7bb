package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** The session registration behind every kernel's `register`. */
private[graft] object Registration {

  /** Register each (name, builder) the session's function registry lacks.
    * An extension-built session already holds every graft function
    * ([[graft.plans.GraftExtensions]] injects them), so the operators'
    * per-build `register` calls leave its builders in place instead of
    * replacing them (and logging a replacement WARN) on every build;
    * a session built without the extensions gets them on first use.
    */
  def ifAbsent(spark: SparkSession, fns: (String, Seq[Expression] => Expression)*): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
