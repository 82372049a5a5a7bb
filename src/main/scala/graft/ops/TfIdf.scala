package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Det

/** TF-IDF weighted cosine document similarity (Salton's vector-space
  * model) — the weighted upgrade of the token-set Jaccard family: common
  * tokens contribute almost nothing (idf ≈ ln 1), so near-duplicates are
  * ranked by their RARE shared vocabulary.
  *
  * R-S form only: each query document against the corpus, top-k by cosine
  * over the tf-idf vectors. An unblocked self-join on shared tokens is
  * all-pairs at this corpus's vocabulary and belongs to the LSH family
  * instead; the R-S candidate set is bounded by Σ df(tok) over the query's
  * tokens, same argument as [[Bm25.scoreRS]].
  *
  * Plan: one tf aggregation per (doc, token), df/idf from the same stream,
  * candidate generation is the (token) equi-join of the query vectors
  * against the corpus vectors — exactly the inverted-index shape of
  * [[SimilarityJoin.jaccardRS]] with weights riding along. Norms ride the
  * doc side (computed once, joined by id). The query-side and vocabulary
  * joins are plain joins: Spark's join selection, and AQE at runtime,
  * broadcast them from their sizes.
  *
  * Determinism (§2.1): weights, norms-squared, dots, and the final cosine
  * are each ROUND(,6) — the same round-terms-then-round-sums protocol as
  * BM25, so engine summation order cannot move the compared value; the
  * norm product stays under ONE sqrt (`sqrt(nq2 · nd2)`) so both engines
  * evaluate the identical expression tree.
  */
object TfIdf {

  /** Top-`k` corpus documents per query document by tf-idf cosine,
    * excluding the query row itself when ids collide. Output:
    * (q_id, rnk, d_id, sim ROUND 6) totally ordered by (q_id, rnk);
    * ties break by d_id. idf = ln(n_docs / df) + 1 (smoothed).
    */
  def cosineRS(queries: DataFrame, qIdCol: String, qTextCol: String,
               docs: DataFrame, idCol: String, textCol: String,
               k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " +")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).cast("double").as("tf"))
    // r20: df directly from the tf aggregation — tf already holds exactly
    // one row per distinct (doc, token), so counting its rows per token IS
    // the document frequency. The previous distinct() re-exploded and
    // re-shuffled every token occurrence; this aggregates the already-
    // aggregated relation (guide §2.3: aggregate before you shuffle).
    val dfr = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
    val nDocs = docs.select(count(lit(1)).cast("double").as("n_docs"))

    // corpus tf-idf vectors: weight per (doc, token), norm² per doc
    val w = tf.join(dfr, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("w", Det.round6(col("tf") * (log(col("n_docs") / col("df")) + 1.0)))
      .select("doc_id", "tok", "w")
    val norms = w.groupBy("doc_id").agg(Det.round6(sum(col("w") * col("w"))).as("n2"))

    // query vectors re-weighted under the CORPUS statistics (df of a
    // query-only token is 0 → no match possible anyway; inner join drops it)
    val qToks = queries.select(col(qIdCol).as("q_id"),
      explode(split(col(qTextCol), " +")).as("tok"))
    val qTf = qToks.groupBy("q_id", "tok").agg(count(lit(1)).cast("double").as("qtf"))
    val qW = qTf.join(dfr, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("qw", Det.round6(col("qtf") * (log(col("n_docs") / col("df")) + 1.0)))
      .select("q_id", "tok", "qw")
    val qNorms = qW.groupBy("q_id").agg(Det.round6(sum(col("qw") * col("qw"))).as("qn2"))

    val win = Window.partitionBy("q_id").orderBy(col("sim").desc, col("d_id"))
    w.join(qW, "tok")
      .groupBy("q_id", "doc_id")
      .agg(Det.round6(sum(col("qw") * col("w"))).as("dot"))
      .join(norms, "doc_id")
      .join(qNorms, "q_id")
      .withColumn("sim", Det.round6(col("dot") / sqrt(col("qn2") * col("n2"))))
      .filter(col("q_id") =!= col("doc_id"))
      .withColumnRenamed("doc_id", "d_id")
      .withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("d_id"), col("sim"))
      .orderBy("q_id", "rnk")
  }
}
