package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A relation materialized by ONE eager `localCheckpoint`, with its row
  * count and an estimated byte size of the join index built from it, both
  * observed on that same job. Both sides of a self-join read `df`, so the
  * upstream plan (scan, tokenization, aggregation, sketch kernels) runs
  * once, and the real size, not an eager guess, picks the join strategy.
  */
private[graft] final case class Materialized(df: DataFrame, rows: Long, bytes: Long) {

  /** The session's `spark.sql.autoBroadcastJoinThreshold`; ≤ 0 forces
    * every shuffle path.
    */
  val bound: Long = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold

  /** Does the index fit the broadcast threshold? */
  def broadcastable: Boolean = bound > 0 && bytes <= bound

  /** The decision's log line: rows, estimated bytes, threshold and path. */
  def decision(site: String, path: String): String =
    s"$site: $rows rows, index ~$bytes B vs broadcast bound $bound B -> $path"
}

private[graft] object Materialized {

  /** Process-wide observation-name uniquifier: Spark delivers observed
    * metrics to listeners BY NAME, so concurrent calls must not share one.
    */
  private val ObsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Eagerly `localCheckpoint` `out(df)`, collecting `metrics` over `df`'s
    * rows on the same job. `out` may drop columns only the metrics read.
    */
  def observed(df: DataFrame, name: String, metrics: Seq[Column],
               out: DataFrame => DataFrame = identity): (DataFrame, Map[String, Any]) = {
    val obs = org.apache.spark.sql.Observation(s"${name}_${ObsId.incrementAndGet()}")
    val cp = out(df.observe(obs, metrics.head, metrics.tail: _*)).localCheckpoint(true)
    (cp, obs.get)
  }

  /** [[observed]] with the row count and Σ `indexBytes` (each row's share
    * of the join index built from it) as the metrics.
    */
  def apply(df: DataFrame, name: String, indexBytes: Column,
            out: DataFrame => DataFrame = identity): Materialized = {
    val (cp, m) = observed(df, name, Seq(count(lit(1)).as("rows"),
      coalesce(sum(indexBytes.cast("long")), lit(0L)).as("bytes")), out)
    Materialized(cp, m("rows").asInstanceOf[Long], m("bytes").asInstanceOf[Long])
  }

  /** Estimated UnsafeRow bytes of one row with `fields` fields and
    * `varBytes` of variable-length data: a null-bit word plus one 8-byte
    * slot per field.
    */
  def rowBytes(fields: Int, varBytes: Column): Column = lit(8L * (fields + 1)) + varBytes

  /** Variable-length bytes of the block columns, read off their string
    * form (any type; fixed-width values over-count by a few bytes).
    */
  def blockBytes(blockCols: Seq[String]): Column =
    blockCols.map(c => coalesce(octet_length(col(c).cast("string")), lit(0)))
      .foldLeft(lit(0))(_ + _)

  /** Free the block-manager storage behind a checkpoint once nothing reads
    * it any more (a local checkpoint cannot be recomputed once released).
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    }
}
