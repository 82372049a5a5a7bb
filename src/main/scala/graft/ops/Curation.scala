package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Budget-constrained best-first selection ("keep the highest-quality
  * documents until the token budget is spent"), in the form that survives a
  * pathologically large key.
  *
  * The direct formulation (q139) runs a cumulative window ordered by
  * `(score DESC, id)` PARTITIONED BY the key — per-key it distributes, but
  * one giant key (a 100 TB corpus that is 90% English) still funnels that
  * key's every row through one task's sort. This operator computes the SAME
  * selection in two phases whose windows are bounded:
  *
  *  1. BUCKET phase: per-(key, score) token sums — a shuffle-agg over the
  *     corpus — then ONE cumulative window over the DISTINCT-SCORE relation
  *     (bounded by score cardinality per key: ≤ 10⁶+1 for ppm-integer
  *     scores, regardless of corpus size). Buckets whose running total fits
  *     the budget are selected WHOLE — their documents join in by
  *     (key, score) equi-join, no per-document ordering anywhere.
  *  2. BOUNDARY phase: exactly ONE bucket per key straddles the budget;
  *     only ITS documents (one score value's worth) get a per-document
  *     `(id)`-ordered cumulative window, seeded with the bucket's
  *     preceding-tokens offset.
  *
  * Equality with the direct greedy is exact — same docs, same order
  * semantics (score DESC, id ASC tie-break), same exact-integer budget
  * predicate `den·cum ≤ num·total` — and is pinned in CurationSpec against
  * both q139's window form and a driver-side fold, including score ties
  * that cross the budget frontier.
  */
object Curation {

  /** Rows of `docs` the greedy selection keeps: best score first, id
    * breaking ties, while `den · cumulative(tokCol) ≤ num · total(tokCol)`
    * within each `keyCol` group. All comparisons are exact integer
    * arithmetic — `tokCol` and `scoreCol` must be integral columns.
    *
    * Precondition: `tokCol ≥ 1` per row (q139's whitespace tokenization
    * guarantees it). A zero-token row costs the greedy nothing and would
    * be kept by it even past the frontier, but sits outside the bucket
    * frontier here — filter such rows upstream or union them back.
    *
    * Continuous scores: quantize upstream (q139's parts-per-million
    * integer division IS that quantization — 10⁶+1 granules); the
    * selection is then exact w.r.t. the granulated order and the only
    * approximation is the id-order tie-break inside one granule.
    * Composite budget keys (lang × source): pass one struct column.
    */
  def tokenBudgetSelect(docs0: DataFrame, keyCol: String, idCol: String,
                        scoreCol: String, tokCol: String,
                        num: Int = 1, den: Int = 2): DataFrame = {
    require(num >= 0 && den >= 1, s"budget fraction $num/$den")
    // NULL key/score rows are EXCLUDED — from selection AND from budget
    // totals. (The direct window greedy would sort null scores last and
    // count them in totals; an equi-join can never select them, so
    // counting them would silently shrink every budget. One consistent
    // rule, enforced here rather than assumed.)
    val docs = docs0.filter(col(keyCol).isNotNull && col(scoreCol).isNotNull)
    val key = col(keyCol)

    val tot = docs.groupBy(key.as(keyCol))
      .agg(sum(col(tokCol)).cast("long").as("graft_key_tok"))

    // per-(key, score) buckets + the running total over the distinct-score
    // relation — the ONLY corpus-order-free window, bounded by score
    // cardinality however large the key is. Materialized (eager
    // localCheckpoint): the relation is derived from a full-corpus
    // aggregation and consumed twice (whole-bucket join, boundary join) —
    // unmaterialized, each consumer would re-scan the corpus. localCheckpoint over persist (r8 ADVICE): cached blocks
    // are pinned by the CacheManager until explicitly unpersisted, which
    // forced a process-global "previous call" reference that could yank
    // the cache out from under an earlier call's still-unconsumed result;
    // checkpoint blocks are ContextCleaner-managed — released when this
    // call's relations become unreachable — so each result owns its own
    // materialization and repeated calls cannot accumulate pinned caches.
    val wScore = Window.partitionBy(keyCol).orderBy(col(scoreCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val buckets = docs.groupBy(key.as(keyCol), col(scoreCol).as(scoreCol))
      .agg(sum(col(tokCol)).cast("long").as("graft_b_tok"))
      .withColumn("graft_b_cum", sum(col("graft_b_tok")).over(wScore))
      .join(tot, keyCol)
      .withColumn("graft_b_prev", col("graft_b_cum") - col("graft_b_tok"))
      .localCheckpoint(true)

    val fits: Column =
      col("graft_b_cum") * den <= col("graft_key_tok") * num
    // the straddler: its bucket overflows, but everything before it fit —
    // at most one per key (running totals are strictly increasing)
    val straddles: Column =
      !fits && col("graft_b_prev") * den <= col("graft_key_tok") * num

    val meta = Seq("graft_b_tok", "graft_b_cum", "graft_key_tok", "graft_b_prev")

    // phase 1: whole buckets — plain equi-join, no per-doc window
    val whole = docs.join(buckets.filter(fits).select(keyCol, scoreCol),
      Seq(keyCol, scoreCol))

    // phase 2: the boundary bucket's docs only, id-ordered, offset-seeded;
    // the straddler relation is ≤ 1 row per key, so Spark (or AQE, from the
    // checkpoint's real size) broadcasts it and restricting the corpus to
    // boundary docs is a map-side join, not a corpus shuffle
    val wId = Window.partitionBy(keyCol, scoreCol).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = docs.join(
      buckets.filter(straddles)
        .select(col(keyCol), col(scoreCol), col("graft_b_prev"), col("graft_key_tok")),
      Seq(keyCol, scoreCol))
      .withColumn("graft_d_cum",
        col("graft_b_prev") + sum(col(tokCol)).over(wId))
      .filter(col("graft_d_cum") * den <= col("graft_key_tok") * num)
      .drop("graft_d_cum", "graft_b_prev", "graft_key_tok")

    whole.drop(meta: _*).unionByName(boundary.drop(meta: _*))
  }
}
