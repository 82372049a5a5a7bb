package graft.plans

import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Sizes Spark's JVM-wide cache of compiled generated classes for graft's
  * plans. `CodeGenerator` reads `spark.sql.codegen.cache.maxEntries`
  * (default 100) once, when its object initializes, so a smaller cache than
  * the plans' working set recompiles byte-identical code on every pass.
  * [[apply]] initializes it under a conf that holds [[MaxEntries]], once
  * per JVM, before the first graft plan compiles. Executor JVMs of a
  * cluster initialize their own cache; set the key in the application's
  * conf to size those.
  */
private[graft] object CodegenCache extends org.apache.spark.internal.Logging {

  /** The 150 declared queries compile 1,215 distinct classes (sf0.01,
    * `local[2]`); the suite's ten queries 126–128, one dedup batch about
    * 77. Guava bounds each of its 4 segments to a quarter of the size and
    * evicts per segment, so the size leaves headroom over the working set.
    * A 4,096-entry cache grew Metaspace by 9 MB over a 150-query pass.
    */
  val MaxEntries = 2048

  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  /** The size graft gives the cache: none when the application set the key
    * itself (`--conf`, `-Dspark.…` or the builder), which Spark then reads.
    */
  def entries(conf: SparkConf): Option[Int] =
    if (conf.contains(key)) None else Some(MaxEntries)

  private lazy val sized: Unit =
    Option(SparkEnv.get).map(_.conf).foreach(conf => entries(conf) match {
      case None => logInfo(s"codegen cache: $key=${conf.get(key)}, set by the application")
      case Some(n) =>
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        if (compiled > 0)
          logWarning(s"codegen cache: $compiled classes were compiled in this JVM before " +
            s"the first graft session, so the cache keeps the size it was created with; " +
            s"set $key=$n in the application's conf to hold graft's plans")
        else {
          val sizing = new SQLConf
          sizing.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, n)
          SQLConf.withExistingConf(sizing)(CodeGenerator.getClass)
          logInfo(s"codegen cache: $key=$n")
        }
    })

  def apply(): Unit = sized
}
