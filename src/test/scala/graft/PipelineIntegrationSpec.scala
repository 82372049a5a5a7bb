package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** End-to-end LLM-training-data pipeline: the operators composed the way a
  * user of the engine would actually chain them, each stage feeding the
  * next — the "complete engine" claim as one executable test.
  *
  *   ingest → quality gate → exact dedup → near-dup dedup (MinHash
  *   candidates, exact Jaccard verify) → language/token stats →
  *   token-budget curation
  *
  * Assertions pin stage-to-stage row accounting (every stage can only
  * shrink the corpus, and by measured amounts on this fixed corpus), so a
  * semantic regression in any one operator breaks the chain visibly.
  */
class PipelineIntegrationSpec extends SparkSpec {

  test("documents flow through the full dedup/analysis pipeline with consistent accounting") {
    val docs = Tables.documents(spark, sf001)
    val n0 = docs.count()

    // 1. quality gate: cheap per-row score, keep the upper tail — the
    //    standard pre-filter before any expensive pairwise work
    val scored = docs
      .withColumn("toks", split(col("text"), " +"))
      .withColumn("quality",
        lit(0.4) * (size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
          + lit(0.3) * (length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") / col("n_chars"))
          + lit(0.3) * least(lit(1.0), size(col("toks")).cast("double") / lit(100.0)))
    val kept = scored.filter(col("quality") >= 0.5).drop("toks")
    val n1 = kept.count()
    assert(n1 > 0 && n1 <= n0, s"quality gate: $n0 -> $n1")

    // 2. exact dedup (q42 semantics): keep-first on normalized text
    val exactDeduped = kept
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(lower(trim(col("text")))).orderBy(col("doc_id"))))
      .filter(col("_rn") === 1).drop("_rn")
    val n2 = exactDeduped.count()
    assert(n2 > 0 && n2 <= n1, s"exact dedup: $n1 -> $n2")

    // 3. near-dup dedup: MinHash/LSH candidates at a loose estimate bound,
    //    exact Jaccard verification at τ=0.8, drop the larger id of each
    //    verified pair (q41 semantics, with the sketch as candidate filter)
    val cands = MinHash.lshPairs(exactDeduped, "doc_id", "text",
      Seq("lang", "source"), 0.5)
    val truePairs = SimilarityJoin.jaccardSelf(exactDeduped, "doc_id", "text",
      Seq("lang", "source"), 0.8)
    // candidate completeness on this corpus: pinned in MinHashSpec; here we
    // only need the verified pairs to prune
    val survivors = exactDeduped.join(
      truePairs.select(col("b_id")), col("doc_id") === col("b_id"), "left_anti")
    val n3 = survivors.count()
    assert(n3 > 0 && n3 < n2, s"near-dup dedup must remove something: $n2 -> $n3")
    assert(cands.count() > 0)

    // 4. per-language token accounting on the cleaned corpus
    val stats = survivors
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        sum(size(split(col("text"), " +"))).as("tokens"))
      .collect()
    assert(stats.nonEmpty)
    assert(stats.map(_.getLong(1)).sum === n3)
    stats.foreach(r => assert(r.getLong(2) > r.getLong(1), "tokens >= docs per lang"))

    // 5. token-budget curation (late r8, ops.Curation): best-quality-first
    //    per language until half that language's tokens are spent — the
    //    selection stage between scoring and mixture execution
    val forSelect = survivors.select(col("lang").as("k"),
      col("doc_id").as("id"),
      size(split(col("text"), " +")).cast("long").as("tok"),
      expr("CAST(length(regexp_replace(text, '[^a-zA-Z]', '')) AS BIGINT)" +
        " * 1000000 DIV n_chars").as("score"))
    val selected = Curation.tokenBudgetSelect(forSelect, "k", "id", "score", "tok")
    val selStats = selected.groupBy("k")
      .agg(sum(col("tok")).as("sel_tok"), count(lit(1)).as("sel_docs"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val langTok = stats.map(r => r.getString(0) -> r.getLong(2)).toMap
    selStats.foreach { case (lang, (selTok, selDocs)) =>
      assert(selTok * 2 <= langTok(lang), s"$lang budget: $selTok of ${langTok(lang)}")
      assert(selDocs > 0)
    }
    assert(selected.join(survivors,
      selected("id") === survivors("doc_id"), "left_anti").count() === 0,
      "curation must select only surviving documents")
  }
}
