package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixture control.
  *
  * Spark's `df.sample` / `df.stat.sampleBy` draw from `rand(seed)`, which
  * is seeded PER PARTITION — the selected set silently changes with
  * partitioning, file split sizes, or AQE re-planning, violating this
  * project's determinism contract and making pipeline re-runs
  * irreproducible. These operators decide membership from a content hash
  * instead: a row is kept iff
  * `xxhash64(idCols…, salt) mod M < fraction · M` — a pure per-row
  * predicate (no shuffle, no state, survives any re-partitioning), the same
  * trick as [[Salting]]'s deterministic salt. Changing `salt` draws an
  * independent sample; the same salt always reproduces the same set, on
  * any cluster layout, at any scale.
  *
  * The hash is uniform, so realized fractions concentrate around the
  * target with binomial error O(1/√n) — pinned in SamplingSpec.
  */
object Sampling {

  private val M = 1000000L

  private def keep(idCols: Seq[String], fraction: Column, salt: Long): Column =
    pmod(xxhash64(idCols.map(col) :+ lit(salt): _*), lit(M)) < fraction * M

  /** Stratified deterministic sample: per-stratum fractions (strata absent
    * from the map get `defaultFraction`). The mixture-control primitive: a
    * 100 TB corpus resampled to a target source/language distribution with
    * one codegen'd filter — no shuffle, no per-stratum jobs.
    */
  def stratifiedByHash(df: DataFrame, stratumCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 0.0,
                       idCols: Seq[String], salt: Long = 0L): DataFrame = {
    require((fractions.values.toSeq :+ defaultFraction)
      .forall(f => f >= 0.0 && f <= 1.0), "fractions must be in [0,1]")
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (acc, (stratum, f)) =>
        when(col(stratumCol) === stratum, lit(f)).otherwise(acc)
    }
    df.filter(keep(idCols, frac, salt))
  }
}
