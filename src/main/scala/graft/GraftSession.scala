package graft

import org.apache.spark.sql.SparkSession

/** The graded session configuration, the one place every graft main (and
  * the spec fixture) builds a SparkSession from: `local[cpus]` with one
  * shuffle partition per core, parquet INT64-nanos surfaced as longs (the
  * `events.ts` layout [[Tables.events]] normalizes), UTC, no UI, the
  * [[plans.GraftExtensions]] and WARN logging.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, default 4: the parallelism the graded run uses. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** A builder with the graded config; callers may add their own confs
    * before `getOrCreate()`.
    */
  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.log.level", "WARN")
}
