package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Det

/** BM25 retrieval scoring as an R-S operator (Robertson/Spärck Jones;
  * k1/b defaults per the classic Okapi setting): a QUERY relation scored
  * against a document corpus — the form a real retrieval pipeline runs,
  * generalizing q68's fixed literal query.
  *
  * Scale shape (100 TB corpus, bounded query set):
  *  - every corpus statistic (tf, df, dl, the 1-row n_docs/avgdl) is
  *    computed distributed; nothing is collected to the driver — the 1-row
  *    stats relation is crossJoin-broadcast.
  *  - the corpus token stream is FIRST restricted to the query vocabulary
  *    (a semi-join, which Spark broadcasts when the query side is small),
  *    so tf/df aggregate only matching terms, not the whole corpus
  *    vocabulary.
  *  - scoring joins are per-term equi-joins, planned by Spark's size-based
  *    join selection and AQE; the per-query top-k is a
  *    window partitioned by q_id — parallel across queries, and each
  *    query's candidate set is bounded by Σ df(term) over its terms.
  *
  * Determinism: per-term contributions are ROUND(,6) before the final sum
  * and the summed score is ROUND(,6) again, so engine-dependent summation
  * order cannot move the compared value; top-k ties break by doc id.
  */
object Bm25 {

  /** Score each query document's DISTINCT tokens against the corpus;
    * return the top `k` documents per query.
    *
    * Output: (q_id, rnk, doc_id, score ROUND 6), totally ordered by
    * (q_id, rnk); rnk orders by (score DESC, doc_id).
    */
  def scoreRS(queries: DataFrame, qIdCol: String, qTextCol: String,
              docs: DataFrame, idCol: String, textCol: String,
              k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // query terms: distinct per query (classic BM25 drops query-side tf for
    // short queries; q68's fixed-term form has the same semantics)
    val qTerms = queries.select(col(qIdCol).as("q_id"),
        explode(array_distinct(split(col(qTextCol), " +"))).as("tok"))
    val qVocab = qTerms.select("tok").distinct()

    // corpus token stream restricted to the query vocabulary BEFORE any
    // aggregation — tf/df shuffle only matching terms
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " +")).as("tok"))
      .join(qVocab, Seq("tok"), "left_semi")

    val dl = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " +")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).cast("double").as("tf"))
    // r20: df from the tf aggregation — tf holds one row per distinct
    // (doc, token), so its per-token row count IS the document frequency;
    // the previous distinct() re-shuffled every matching token occurrence
    // (guide §2.3: aggregate before you shuffle)
    val df = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))

    val contrib: Column = Det.round6(
      log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
        * col("tf") * lit(k1 + 1.0)
        / (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))

    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
    // df has ≤ |query vocabulary| rows: as small as the query side
    tf.join(qTerms, "tok")
      .join(df, "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", contrib)
      .groupBy("q_id", "doc_id")
      .agg(Det.round6(sum(col("contrib"))).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("doc_id"), col("score"))
      .orderBy("q_id", "rnk")
  }
}
