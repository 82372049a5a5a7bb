package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Q-gram prefix-filtered edit-distance self-join (Ed-Join, Xiao/Wang/Lin
  * VLDB 2008), Spark-first.
  *
  * The brute-force plan enumerates every same-block pair — O(block²)
  * candidates, quadratic in the hot block at scale. Ed-Join's prune: one
  * edit operation destroys at most `q` of a string's distinct q-grams, so
  * ed(a, b) ≤ k implies b still contains all but ≤ q·k of a's grams. With
  * grams ordered by a global total order (ascending document frequency —
  * rarest first, which is also the skew killer), the standard prefix-filter
  * lemma then guarantees any true pair shares ≥ 1 gram inside both
  * (q·k + 1)-length prefixes. Candidate generation becomes an equi-join on
  * (block…, prefix gram) — linear in the inverted-index fan-out instead of
  * quadratic in the block.
  *
  * Completeness edge: a string with ≤ q·k distinct grams (short or highly
  * repetitive) can lose its ENTIRE gram set within k edits — e.g. q=2, k=2:
  * ed("ab", "cd") = 2 with zero shared grams — so the prefix argument gives
  * no guarantee for pairs touching such strings. Those strings are routed
  * to a brute-force bucket (short × everything in-block); on natural text
  * the bucket is empty-to-tiny, and the split keeps the operator exactly
  * equal to the brute-force join (property-pinned in SimilarityJoinSpec).
  *
  * Verification is the thresholded `levenshtein(a, b, k)` built-in (banded
  * O(n·k) with early exit), behind the |len(a) − len(b)| ≤ k hard bound.
  * Plan shape: gram-frequency agg → per-record prefix (≤ q·k + 1 grams) →
  * one shuffle for the (block, gram) candidate equi-join → pair dedup →
  * codegen verification. No collect, no cartesian, no global window.
  *
  * Three tiers, coarsest prune first:
  *  1. [[selfJoinDistinct]] — collapse to the distinct-string domain, pair
  *     there, expand back (the default: repeated-value columns make the
  *     quadratic term independent of row count);
  *  2. [[selfJoin]] — gram-prefix inverted index (the open-domain path,
  *     also the pair generator inside tier 1 when the domain is large);
  *  3. [[selfJoinBrute]] — per-id all-pairs (correctness oracle, tiny blocks).
  */
object EditDistanceJoin {

  /** Max distinct-string domain size for [[selfJoinDistinct]]'s broadcast
    * all-pairs tier: 8k strings → ≤ 32M length-pruned codegen comparisons,
    * comfortably sub-second across a session's cores. Above this the pair
    * generation delegates to the gram-prefix path over the SAME distinct
    * domain (still row-count-independent).
    */
  val MaxBroadcastDomain: Int = 8192

  /** Distinct-domain edit-distance self-join — same contract as
    * [[selfJoin]], evaluated on the distinct-STRING domain first.
    *
    * The row count and the string-domain size are independent axes: natural
    * key/name/title columns repeat heavily, so |distinct(s)| ≪ |rows| and
    * stays near-constant as the table grows (this corpus: 64 names across
    * 2k…20k rows — and still 64 at 100 TB of the same generator). Verifying
    * edit distance per ROW pair re-verifies each STRING pair millions of
    * times; verifying per distinct pair makes the quadratic term
    * O(|domain|²) instead of O(rows²) and the rest of the plan output-bound.
    *
    * Plan: distinct(s) → pair-gen on the domain (broadcast all-pairs with
    * length prune when a bounded probe sees at most [[MaxBroadcastDomain]]
    * strings; the [[selfJoin]] gram-prefix index above it) → symmetrize +
    * add (s, s, 0) self-pairs → two expansion equi-joins back to ids on
    * (string, block…), output-bound ([[expandDomainPairs]]). The domain
    * probe is an algorithm choice; the expansion joins are plain joins that
    * Spark plans from sizes (the domain bounds comparisons, not matches, so
    * the pair relation's size is known only at run time). No collect; the
    * only driver-visible number is the domain probe's bounded count.
    */
  def selfJoinDistinct(df: DataFrame, idCol: String, strCol: String,
                       blockCols: Seq[String], k: Int, q: Int = 2): DataFrame =
    selfJoinDistinctTier(df, idCol, strCol, blockCols, k, q,
      smallDomain = PlanStatMemo.boundedBy(distinctStrings(df, strCol), MaxBroadcastDomain))

  /** [[selfJoinDistinct]] on one tier: broadcast all-pairs when
    * `smallDomain`, the gram-prefix index otherwise.
    */
  private[graft] def selfJoinDistinctTier(df: DataFrame, idCol: String, strCol: String,
                                          blockCols: Seq[String], k: Int, q: Int,
                                          smallDomain: Boolean): DataFrame = {
    require(k >= 0, s"need k >= 0, got k=$k")
    val strs = distinctStrings(df, strCol)

    // strict pairs over the domain: (l_s < r_s, dist ∈ 1..k)
    val strict =
      if (smallDomain) {
        val x = strs.select(col("s").as("l_s"), length(col("s")).as("l_len"))
        val y = strs.select(col("s").as("r_s"), length(col("s")).as("r_len"))
        x.join(broadcast(y),
            col("l_s") < col("r_s") && abs(col("l_len") - col("r_len")) <= k)
          .withColumn("dist", levenshtein(col("l_s"), col("r_s"), k))
          .filter(col("dist").between(0, k))
          .select("l_s", "r_s", "dist")
      } else {
        // open domain: gram-prefix candidates over distinct strings; the
        // string is its own (totally ordered) id. The q-gram vocabulary is
        // structurally ≤ |charset|^q — always broadcastable.
        gramJoin(strs.withColumn("blk", lit(1)), "s", "s", Seq("blk"), k, q,
            broadcastGrams = true)
          .select(col("a_id").as("l_s"), col("b_id").as("r_s"), col("dist"))
      }
    expandDomainPairs(df, idCol, strCol, blockCols, strs, strict, "dist", lit(0))
  }

  /** The distinct non-null string domain `s` of `strCol`. */
  private[ops] def distinctStrings(df: DataFrame, strCol: String): DataFrame =
    df.select(col(strCol).as("s")).filter(col("s").isNotNull).distinct()

  /** Expand strict domain pairs (l_s < r_s, `value`) back to id pairs:
    * both orientations plus each string's self-pair (`selfValue` over
    * `strs`' column `s`), so each id pair (a_id < b_id) matches exactly one
    * row — no post-expansion dedup — through two equi-joins on (string,
    * block…). Output (a_id, b_id, blockCols…, `value`), totally ordered.
    */
  private[ops] def expandDomainPairs(df: DataFrame, idCol: String, strCol: String,
                                     blockCols: Seq[String], strs: DataFrame,
                                     strict: DataFrame, value: String,
                                     selfValue: Column): DataFrame = {
    val sym = strict
      .unionByName(strict.select(col("r_s").as("l_s"), col("l_s").as("r_s"), col(value)))
      .unionByName(strs.select(col("s").as("l_s"), col("s").as("r_s"), selfValue.as(value)))

    val a = df.select(col(idCol).as("a_id") +: col(strCol).as("l_s") +:
      blockCols.map(col): _*)
    val b = df.select(col(idCol).as("b_id") +: col(strCol).as("b_s") +:
      blockCols.map(c => col(c).as(s"b_$c")): _*)
    val blockEq = blockCols.map(c => col(c) === col(s"b_$c"))
    a.join(sym, "l_s")
      .join(b, (blockEq :+ (col("r_s") === col("b_s")))
        .reduce(_ && _) && col("a_id") < col("b_id"))
      .select(col("a_id") +: col("b_id") +: blockCols.map(col) :+ col(value): _*)
      .orderBy("a_id", "b_id")
  }

  /** All pairs (a, b) with a.id < b.id, equal block keys, and
    * edit-distance(a.str, b.str) ≤ k. Output: (a_id, b_id, blockCols…,
    * dist), totally ordered by (a_id, b_id).
    */
  def selfJoin(df: DataFrame, idCol: String, strCol: String,
               blockCols: Seq[String], k: Int, q: Int = 2): DataFrame =
    gramJoin(df, idCol, strCol, blockCols, k, q, broadcastGrams = false)

  /** [[selfJoin]], broadcasting the gram-frequency relation when
    * `broadcastGrams` (a caller that knows the gram vocabulary is small).
    */
  private def gramJoin(df: DataFrame, idCol: String, strCol: String,
                       blockCols: Seq[String], k: Int, q: Int,
                       broadcastGrams: Boolean): DataFrame = {
    require(k >= 0 && q >= 1, s"need k >= 0 and q >= 1, got k=$k q=$q")
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val prefLen = q * k + 1

    val base = df
      .select(col(idCol).as("id") +: col(strCol).as("s") +: blockCols.map(col): _*)
      .withColumn("len", length(col("s")))
      // guard: sequence(1, len-q+1) runs DESCENDING when len < q — emit an
      // empty gram set instead (such strings go to the brute bucket anyway)
      .withColumn("grams",
        when(col("len") >= q,
          array_distinct(transform(sequence(lit(1), col("len") - q + 1),
            i => col("s").substr(i, lit(q)))))
          .otherwise(array().cast("array<string>")))
      .withColumn("m", size(col("grams")))

    val longs = base.filter(col("m") >= prefLen)
    val shorts = base.filter(col("m") < prefLen)

    // global gram order = ascending (document frequency, gram) over the
    // prefix-eligible strings; any total order is sound, rarest-first
    // minimizes candidate fan-out AND keeps hot grams out of the index
    val freq = longs
      .select(explode(col("grams")).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("df"))

    val ranked = SimilarityJoin.freqJoined(
        longs.select(col("id") +: col("len") +: col("s") +: blockCols.map(col) :+
          explode(col("grams")).as("gram"): _*),
        freq, "gram", broadcastGrams)
      .groupBy(col("id") +: col("len") +: col("s") +: blockCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("df"), col("gram")))).as("rg"))
      .withColumn("prefix", slice(col("rg.gram"), 1, prefLen))
      .drop("rg")

    val a = ranked.select(col("id").as("a_id") +: col("len").as("a_len") +:
      col("s").as("a_s") +: explode(col("prefix")).as("g") +:
      blockCols.map(c => col(c).as(s"a_$c")): _*)
    val b = ranked.select(col("id").as("b_id") +: col("len").as("b_len") +:
      col("s").as("b_s") +: explode(col("prefix")).as("b_g") +:
      blockCols.map(c => col(c).as(s"b_$c")): _*)

    val blockEq = blockCols.map(c => col(s"a_$c") === col(s"b_$c"))
    val cond = ((col("g") === col("b_g")) +: blockEq).reduce(_ && _) &&
      col("a_id") < col("b_id") &&
      abs(col("a_len") - col("b_len")) <= k

    // explicit-count spread: the pre-explode input is tiny, AQE would
    // coalesce a plain repartition and serialize candidate generation
    val candLL = a.repartition(n, col("g") +: blockCols.map(c => col(s"a_$c")): _*)
      .join(b, cond)
      .select(col("a_id") +: col("b_id") +: col("a_s") +: col("b_s") +:
        blockCols.map(c => col(s"a_$c").as(c)): _*)

    // brute bucket: prefix-ineligible strings against everything in-block
    // (covers short×short and short×long; dedup canonicalizes the double
    // match when both sides are short)
    val sh = shorts.select(col("id").as("s_id") +: col("len").as("s_len") +:
      col("s").as("s_s") +: blockCols.map(c => col(c).as(s"s_$c")): _*)
    val all = base.select(col("id").as("t_id") +: col("len").as("t_len") +:
      col("s").as("t_s") +: blockCols.map(c => col(c).as(s"t_$c")): _*)
    val shBlockEq = blockCols.map(c => col(s"s_$c") === col(s"t_$c"))
    val candS = sh
      .join(all, (shBlockEq :+ (col("s_id") =!= col("t_id"))).reduce(_ && _) &&
        abs(col("s_len") - col("t_len")) <= k)
      .select(least(col("s_id"), col("t_id")).as("a_id") +:
        greatest(col("s_id"), col("t_id")).as("b_id") +:
        when(col("s_id") < col("t_id"), col("s_s")).otherwise(col("t_s")).as("a_s") +:
        when(col("s_id") < col("t_id"), col("t_s")).otherwise(col("s_s")).as("b_s") +:
        blockCols.map(c => col(s"s_$c").as(c)): _*)

    candLL.unionByName(candS)
      .dropDuplicates("a_id", "b_id")
      // thresholded form returns -1 past the bound — keep genuine 0..k
      .withColumn("dist", levenshtein(col("a_s"), col("b_s"), k))
      .filter(col("dist").between(0, k))
      .select(col("a_id") +: col("b_id") +: blockCols.map(col) :+ col("dist"): _*)
      .orderBy("a_id", "b_id")
  }

  /** Brute-force reference form (same contract): every same-block pair,
    * length-pruned, thresholded-levenshtein verified. O(block²) candidates —
    * the correctness oracle for [[selfJoin]] and the right choice only when
    * blocks are known-tiny.
    */
  def selfJoinBrute(df: DataFrame, idCol: String, strCol: String,
                    blockCols: Seq[String], k: Int): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val a = df.select(col(idCol).as("a_id") +: col(strCol).as("a_s") +:
        blockCols.map(c => col(c).as(s"a_$c")): _*)
      .repartition(n, col("a_id"))
    val b = df.select(col(idCol).as("b_id") +: col(strCol).as("b_s") +:
      blockCols.map(c => col(c).as(s"b_$c")): _*)
    val blockEq = blockCols.map(c => col(s"a_$c") === col(s"b_$c"))
    a.join(b, (blockEq :+ (col("a_id") < col("b_id"))).reduce(_ && _) &&
        abs(length(col("a_s")) - length(col("b_s"))) <= k)
      .withColumn("dist", levenshtein(col("a_s"), col("b_s"), k))
      .filter(col("dist").between(0, k))
      .select(col("a_id") +: col("b_id") +: blockCols.map(c => col(s"a_$c").as(c)) :+ col("dist"): _*)
      .orderBy("a_id", "b_id")
  }
}
