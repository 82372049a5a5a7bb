package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distinct-domain reduction for scalar string-similarity self-joins —
  * the [[EditDistanceJoin.selfJoinDistinct]] trick generalized to ANY
  * symmetric pair scorer (Jaro-Winkler here; any `(Column, Column) =>
  * Column` works).
  *
  * Natural name/title columns repeat heavily: the row count and the
  * distinct-string domain are independent axes (this corpus: 64 part names
  * across 2k…20k rows, still 64 at any SF). Scoring per ROW pair re-scores
  * each STRING pair millions of times — measured 11.4 s for the q67
  * Jaro-Winkler join at sf0.1 (≈8M in-block scorer calls); scoring the
  * domain first is |domain|² = 4k calls, and the rest of the plan is two
  * output-bound expansion equi-joins. Same domain probe as the
  * edit-distance tiers: the domain size is probed with a bounded
  * `limit(max+1).count()`; an over-bound domain falls back to the in-block
  * pair join (correct at any size, the quadratic cost being inherent to an
  * unbounded domain without a metric-specific index). The expansion joins
  * are plain joins that Spark plans from sizes.
  */
object StringSimJoin {

  /** All same-block pairs (a_id < b_id) whose `scorer(a_str, b_str)` passes
    * `keep`. Output (a_id, b_id, blockCols…, score ROUND 6), totally
    * ordered. `scorer` must be symmetric; identical strings are assumed to
    * pass (true for any similarity with s(x,x) = max).
    */
  def selfJoinDistinct(df: DataFrame, idCol: String, strCol: String,
                       blockCols: Seq[String],
                       scorer: (Column, Column) => Column,
                       keep: Column => Column): DataFrame =
    selfJoinDistinctTier(df, idCol, strCol, blockCols, scorer, keep,
      smallDomain = PlanStatMemo.boundedBy(
        EditDistanceJoin.distinctStrings(df, strCol), EditDistanceJoin.MaxBroadcastDomain))

  /** [[selfJoinDistinct]] on one tier: broadcast domain all-pairs when
    * `smallDomain`, the in-block pair join otherwise.
    */
  private[graft] def selfJoinDistinctTier(df: DataFrame, idCol: String, strCol: String,
                                          blockCols: Seq[String],
                                          scorer: (Column, Column) => Column,
                                          keep: Column => Column,
                                          smallDomain: Boolean): DataFrame = {
    if (!smallDomain) {
      // open domain: no metric-agnostic index exists — in-block pair join
      val a = df.select(col(idCol).as("a_id") +: col(strCol).as("a_s") +:
        blockCols.map(c => col(c).as(s"a_$c")): _*)
      val b = df.select(col(idCol).as("b_id") +: col(strCol).as("b_s") +:
        blockCols.map(c => col(c).as(s"b_$c")): _*)
      val blockEq = blockCols.map(c => col(s"a_$c") === col(s"b_$c"))
      return a.join(b, (blockEq :+ (col("a_id") < col("b_id"))).reduce(_ && _))
        .withColumn("score", graft.Det.round6(scorer(col("a_s"), col("b_s"))))
        .filter(keep(col("score")))
        .select(col("a_id") +: col("b_id") +: blockCols.map(c => col(s"a_$c").as(c)) :+
          col("score"): _*)
        .orderBy("a_id", "b_id")
    }

    val strs = EditDistanceJoin.distinctStrings(df, strCol)
    val x = strs.select(col("s").as("l_s"))
    val y = strs.select(col("s").as("r_s"))
    val strict = x.join(broadcast(y), col("l_s") < col("r_s"))
      .withColumn("score", graft.Det.round6(scorer(col("l_s"), col("r_s"))))
      .filter(keep(col("score")))
    EditDistanceJoin.expandDomainPairs(df, idCol, strCol, blockCols, strs, strict,
      "score", graft.Det.round6(scorer(col("s"), col("s"))))
  }
}
