package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{MinHash, SimilarityJoin, VectorSearch}

/** SURVEY.md §2 rows 36–43: the similarity-join suite. */
object SimilarityQueries {

  /** THE document near-dup pair graph — q36's exact closure (whitespace
    * token sets, same-(lang, source) blocking, Jaccard ≥ τ) — single-
    * sourced so every graph consumer (q36/q41/q71/q83/q102/q123/q135)
    * shares one plan text and a future q36 plan improvement propagates to
    * all of them (r8 verdict task 9). Uses the skew-probing AUTO dispatch
    * everywhere (it selects the same full-inverted-index plan on the
    * graded corpus — SimilarityJoinSpec pins the equivalence, parity
    * re-proved zero output change). Plain composition, no caching: the
    * standalone-query contract forbids cross-query state, and per-query
    * materialization stays with the consumer (GraphOps checkpoints its
    * edge input itself).
    */
  private[queries] def docPairs(s: org.apache.spark.sql.SparkSession, d: String,
                                tau: Double = 0.8,
                                sorted: Boolean = true): org.apache.spark.sql.DataFrame =
    SimilarityJoin.jaccardSelfAuto(
      Tables.documents(s, d), "doc_id", "text", Seq("lang", "source"), tau,
      sorted = sorted)

  /** The near-dup CLUSTER closure over [[docPairs]] — `(doc_id,
    * cluster_id)` for every doc in ≥1 pair (q71's semantics), shared by
    * q71/q83/q102. The pair graph is broadcast-sized on the graded
    * corpus (about 38k edges at sf0.1, 0.6 MB of directed edge rows), so
    * [[graft.ops.GraphOps.connectedComponents]] materializes it once and
    * finishes the closure on the driver: two build jobs in place of the
    * propagation loop's seed and per-round checkpoint jobs.
    */
  private[queries] def docClusters(s: org.apache.spark.sql.SparkSession, d: String,
                                   tau: Double = 0.8): org.apache.spark.sql.DataFrame =
    // `sorted = false` (r20): GraphOps eagerly checkpoints the pair
    // relation, so a sorted docPairs would EXECUTE its range exchange +
    // global sort only for the closure to immediately re-key by node —
    // the cluster output carries its own total order
    graft.ops.GraphOps.connectedComponents(
        docPairs(s, d, tau, sorted = false), "a_id", "b_id")
      .withColumnRenamed("a_id", "doc_id")

  /** q36 ★flagship — token-set Jaccard self-join on documents, blocked by
    * (lang, source), τ = 0.8. 342 pairs at sf0.001 (FIXTURES.md).
    *
    * Graded path: the full inverted index ([[SimilarityJoin.jaccardSelf]]).
    * Measured head-to-head at sf0.1 (local[32], warm, 37 937 pairs both):
    * exact 1.4 s vs prefix-filtered 2.3 s — this corpus's 31-word vocabulary
    * gives the prefix nothing to prune, so it only pays its extra
    * sort+dedup. At ×8 corpus (40k docs, PrefixBench) both variants land
    * within noise of each other because the OUTPUT is 1.8M genuine pairs —
    * when most candidates verify, no candidate filter can win. On a real
    * Zipfian vocabulary with sparse true pairs the ranking flips and
    * [[SimilarityJoin.jaccardSelfPrefix]] (property-tested equivalent)
    * wins. Since round 6 the choice is AUTOMATED:
    * [[SimilarityJoin.jaccardSelfAuto]] probes the vocabulary skew
    * (max df / avg df, one cheap linear pass) and dispatches — this corpus
    * probes ≈ 1.15 (flat), so the graded plan below is the exact inverted
    * index, same as rounds 1–5. Dispatch behavior is pinned in
    * SimilarityJoinSpec.
    */
  val q36 = Q(
    "q36_jaccard_self_join",
    (s, d) => docPairs(s, d),
    Some("""
      WITH t AS (
        SELECT doc_id, lang, source,
               list_distinct(regexp_split_to_array(text, ' +')) AS toks
        FROM documents
      )
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE
                   / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS sim
      FROM t a JOIN t b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
            / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
      ORDER BY a_id, b_id
    """.stripMargin.trim))

  /** q37 — R-S similarity search: query docs (doc_id < 10) vs all same-lang
    * docs, τ = 0.6, excluding self. Same inverted-index plan as q36, two
    * inputs; the query side is naturally tiny, the data side never
    * materializes pairs outside shared-token blocks.
    */
  val q37 = Q(
    "q37_jaccard_rs_join",
    (s, d) => {
      val docs = Tables.documents(s, d)
      SimilarityJoin.jaccardRS(
        docs.filter(col("doc_id") < 10), docs, "doc_id", "text", Seq("lang"), 0.6)
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang,
               list_distinct(regexp_split_to_array(text, ' +')) AS toks
        FROM documents
      )
      SELECT q.doc_id AS q_id, d.doc_id AS d_id,
             ROUND(len(list_intersect(q.toks, d.toks))::DOUBLE
                   / (len(q.toks) + len(d.toks) - len(list_intersect(q.toks, d.toks))), 6) AS sim
      FROM t q JOIN t d ON q.lang = d.lang AND q.doc_id < 10 AND q.doc_id <> d.doc_id
      WHERE len(list_intersect(q.toks, d.toks))::DOUBLE
            / (len(q.toks) + len(d.toks) - len(list_intersect(q.toks, d.toks))) >= 0.6
      ORDER BY q_id, d_id
    """.stripMargin.trim))

  /** q39 — char-3-gram set-similarity join on part names, brand-blocked,
    * τ = 0.5. Grams are built with codegen'd higher-order functions (no
    * UDF), then flow through the same generic inverted-index engine as q36.
    */
  val q39 = Q(
    "q39_ngram_join",
    (s, d) => {
      // names shorter than 3 chars get an EMPTY gram set on both engines:
      // Spark's sequence(1, len-2) would otherwise run DESCENDING ([1, 0])
      // where DuckDB's generate_series returns empty — a silent divergence
      val grams = Tables.part(s, d).select(
        col("p_partkey"), col("p_brand"),
        when(length(col("p_name")) >= 3,
          array_distinct(transform(
            sequence(lit(1), length(col("p_name")) - 2),
            i => col("p_name").substr(i, lit(3)))))
          .otherwise(array().cast("array<string>")).as("grams"))
      // count-based inverted-index core: on this corpus the prefix variant
      // loses — grams are so common that the prefix barely prunes, and its
      // verification carries both gram arrays through the pair shuffle,
      // where this path aggregates plain counts (measured 17s vs 5s, sf0.1)
      SimilarityJoin.jaccardSelfOnSets(grams, "p_partkey", "grams", Seq("p_brand"), 0.5)
    },
    Some("""
      WITH t AS (
        SELECT p_partkey, p_brand,
               list_distinct(list_transform(generate_series(1, length(p_name) - 2),
                                            i -> p_name[i:i+2])) AS grams
        FROM part
      )
      SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
             ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE
                   / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS sim
      FROM t a JOIN t b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
            / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
      ORDER BY a_id, b_id
    """.stripMargin.trim))

  /** q40 — exact cosine top-3 for vec_id < 100 (k-NN form: random unit
    * vectors make any useful threshold empty — FIXTURES.md). Graded through
    * the size-dispatched [[VectorSearch.cosineKnnAuto]] (since r7): a
    * bounded probe confirms the query set is broadcastable and takes the
    * exact path — query side broadcast, data side streaming with no shuffle
    * until the per-query top-k window; an over-bound query set would route
    * to the banded LSH plan instead (VectorSearchSpec pins the dispatch at
    * the real bound: 100,001 query ids plan no product).
    */
  val q40 = Q(
    "q40_cosine_knn",
    (s, d) => VectorSearch.cosineKnnAuto(
      Tables.embeddings(s, d), "vec_id", "embedding", col("id") < 100, 3),
    Some("""
      SELECT a.vec_id AS vec_id,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
                                         b.vec_id) AS rnk,
             b.vec_id AS neighbor,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < 100 AND a.vec_id <> b.vec_id
      QUALIFY rnk <= 3
      ORDER BY a.vec_id, rnk
    """.stripMargin.trim))

  /** q41 — near-dup dedup: survivors are docs never the larger id of a
    * ≥0.8 Jaccard pair (q36's semantics); survivor counts per lang. The
    * pair plan is reused as-is — one anti-join on the b side.
    */
  val q41 = Q(
    "q41_dedup_near",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // unsorted pairs (r20): the anti-join destroys pair order anyway —
      // dropping the ORDER BY at the source spares the optimizer the
      // eliminate-sort round-trip and can never execute it by accident
      val pairs = docPairs(s, d, sorted = false)
      docs.join(pairs.select(col("b_id")), col("doc_id") === col("b_id"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_survivors"))
        .orderBy("lang")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang, source,
               list_distinct(regexp_split_to_array(text, ' +')) AS toks
        FROM documents
      ),
      pairs AS (
        SELECT b.doc_id AS b_id
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
      )
      SELECT lang, count(*) AS n_survivors
      FROM documents
      WHERE doc_id NOT IN (SELECT b_id FROM pairs)
      GROUP BY lang ORDER BY lang
    """.stripMargin.trim))

  /** q43 — MinHash/LSH approximate near-dup pairs (32 hashes, 8 bands of 4).
    * No SQL oracle — engine hash functions differ; the driver records a
    * rows-only check and MinHashSpec pins recall/error against q36's exact
    * ground truth with fixed seeds.
    */
  val q43 = Q(
    "q43_minhash_lsh",
    (s, d) => MinHash.lshPairs(
      Tables.documents(s, d), "doc_id", "text", Seq("lang", "source"), 0.5),
    None)

  /** q60 (added r6) — decontamination: word-3-gram shingle CONTAINMENT of
    * short eval snippets inside corpus documents, τ = 0.5. Queries are the
    * first 12 tokens of docs 0–9 (id-offset by 10⁶ so the source document
    * itself is a legitimate match — eval items ARE short excerpts, and the
    * snippet-in-source hit is the canonical contamination signal, scoring
    * 1.0 at every SF). Containment |S(Q)∩S(D)|/|S(Q)| is the industry
    * decontamination metric: a benchmark item quoted inside a long training
    * document scores 1.0 where Jaccard vanishes. Deliberately UNBLOCKED —
    * contamination crosses languages and sources.
    */
  val q60 = Q(
    "q60_decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val snippets = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " +"), 1, 12)).as("text"))
      SimilarityJoin.containmentRS(snippets, docs, "doc_id", "text", Nil, 0.5)
    },
    Some("""
      WITH q AS (
        -- series bound derived from the snippet's ACTUAL token count (not a
        -- hard-coded 10): a snippet shorter than 12 tokens must not emit
        -- partial <3-token shingles or a wrong |S(Q)| denominator
        SELECT doc_id + 1000000 AS q_id,
               list_distinct(list_transform(
                 generate_series(1, greatest(len(regexp_split_to_array(text, ' +')[1:12]) - 2, 0)),
                 i -> array_to_string((regexp_split_to_array(text, ' +')[1:12])[i:i+2], ' '))) AS sh
        FROM documents WHERE doc_id < 10
      ),
      t AS (
        SELECT doc_id AS d_id,
               CASE WHEN len(regexp_split_to_array(text, ' +')) >= 3 THEN
                 list_distinct(list_transform(
                   generate_series(1, len(regexp_split_to_array(text, ' +')) - 2),
                   i -> array_to_string(regexp_split_to_array(text, ' +')[i:i+2], ' ')))
               ELSE []::VARCHAR[] END AS sh
        FROM documents
      )
      SELECT q.q_id, t.d_id,
             ROUND(len(list_intersect(q.sh, t.sh))::DOUBLE / len(q.sh), 6) AS contain
      FROM q JOIN t ON q.q_id <> t.d_id
      WHERE len(q.sh) > 0
        AND len(list_intersect(q.sh, t.sh))::DOUBLE / len(q.sh) >= 0.5
      ORDER BY q_id, d_id
    """.stripMargin.trim))

  /** q67 (added r6) — Jaro-Winkler name-matching join: brand-blocked part
    * pairs with JW ≥ 0.9 via the codegen'd `graft_jaro_winkler` (standard
    * Winkler 1990, empirically bit-compatible with DuckDB's), evaluated on
    * the distinct-NAME domain first ([[graft.ops.StringSimJoin]] — the q38
    * reduction: p_name's domain is 64 strings at every SF, so the scorer
    * runs |domain|² ≈ 4k times instead of ≈8M in-block row pairs; measured
    * 11.4 s → sub-second at sf0.1). ROUND(,6) compared on BOTH engines so
    * an ulp can't flip inclusion.
    */
  val q67 = Q(
    "q67_jaro_winkler_join",
    (s, d) => {
      graft.ops.StringSimJoin.selfJoinDistinct(
          Tables.part(s, d), "p_partkey", "p_name", Seq("p_brand"),
          scorer = graft.functions.StringExprs.jaroWinkler,
          keep = _ >= 0.9)
        .select(col("a_id").as("a_key"), col("b_id").as("b_key"),
          col("p_brand"), col("score").as("jw"))
        .orderBy("a_key", "b_key")
    },
    Some("""SELECT a.p_partkey AS a_key, b.p_partkey AS b_key, a.p_brand,
                   ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
            FROM part a JOIN part b
              ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
            WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.9
            ORDER BY a_key, b_key"""))

  /** q71 (added r7) — dedup CLUSTERS: connected components over the q36
    * near-dup pair graph ([[graft.ops.GraphOps.connectedComponents]]: a
    * driver union-find at this size, pointer-jumping min-label propagation
    * beyond the broadcast bound). Keep-one-per-cluster dedup needs the
    * transitive closure — a chain a–b–c is ONE duplicate group even though
    * (a, c) was never emitted as a pair (q41's pair-level anti-join can't
    * see that). Output: (doc_id, cluster_id = min reachable doc id) for
    * every doc in ≥1 pair; oracle = the same closure via DuckDB's
    * recursive CTE.
    */
  val q71 = Q(
    "q71_dedup_clusters",
    (s, d) => docClusters(s, d),
    Some("""
      WITH RECURSIVE t AS (
        SELECT doc_id, lang, source,
               list_distinct(regexp_split_to_array(text, ' +')) AS toks
        FROM documents
      ),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
      ),
      und AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
      reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM und)
        UNION
        SELECT und.u, r.v FROM und JOIN reach r ON und.v = r.u
      )
      SELECT u AS doc_id, min(v) AS cluster_id
      FROM reach GROUP BY u ORDER BY doc_id
    """.stripMargin.trim))

  /** q83 (added r8) — cluster CANONICALIZATION, the keep-rule that turns
    * q71's dedup clusters into an actual dedup decision: per cluster, keep
    * the longest document (ties broken by lowest doc_id — deterministic),
    * count members and discards. One row_number window + one aggregation,
    * BOTH partitioned by cluster_id, so the window's exchange is reused by
    * the agg — clusters are near-dup groups (bounded size), never a skew
    * risk. Oracle: the q71 recursive-CTE closure extended with the same
    * arg-max.
    */
  val q83 = Q(
    "q83_cluster_canonical",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = docClusters(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id").orderBy(col("n_chars").desc, col("doc_id"))
      clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", row_number().over(w))
        .groupBy("cluster_id")
        .agg(
          count(lit(1)).as("n_members"),
          (count(lit(1)) - 1L).as("n_discarded"),
          max(when(col("rn") === 1, col("doc_id"))).as("canonical_id"),
          max(when(col("rn") === 1, col("n_chars"))).as("canonical_chars"))
        .orderBy("cluster_id")
    },
    Some("""
      WITH RECURSIVE t AS (
        SELECT doc_id, lang, source,
               list_distinct(regexp_split_to_array(text, ' +')) AS toks
        FROM documents
      ),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
      ),
      und AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
      reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM und)
        UNION
        SELECT und.u, r.v FROM und JOIN reach r ON und.v = r.u
      ),
      cl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
      m AS (
        SELECT cl.cluster_id, cl.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY cl.cluster_id
                                  ORDER BY d.n_chars DESC, cl.doc_id) AS rn
        FROM cl JOIN documents d USING (doc_id))
      SELECT cluster_id,
             count(*) AS n_members,
             count(*) - 1 AS n_discarded,
             max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_id,
             max(CASE WHEN rn = 1 THEN n_chars END) AS canonical_chars
      FROM m GROUP BY cluster_id ORDER BY cluster_id
    """.stripMargin.trim))

  /** q84 (added r8) — INCREMENTAL dedup: the delta-vs-base anti-join every
    * periodically-refreshed corpus runs — new documents (doc_id ≥ 250)
    * survive only if NO base document (doc_id < 250, same lang) is a
    * near-duplicate at τ = 0.8. The candidate generator is the q37 R-S
    * inverted-index join (base side spread, length-filtered), so the
    * anti-join never materializes non-candidate pairs; the 100 TB shape is
    * "yesterday's corpus is the data side, today's crawl is the query
    * side", where the base-side index amortizes across daily deltas the
    * same way [[SimilarityJoin.containmentRSIndexed]]'s does.
    */
  val q84 = Q(
    "q84_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.filter(col("doc_id") < 250)
      val delta = docs.filter(col("doc_id") >= 250)
      val dups = SimilarityJoin.jaccardRS(delta, base, "doc_id", "text", Seq("lang"), 0.8)
      // r20: no distinct() on the anti-join's build side — LEFT ANTI
      // already treats duplicate keys as one (a delta doc survives iff NO
      // matching key exists), so the dedup was a pure extra exchange
      delta.join(dups.select(col("q_id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang, source, n_chars,
               list_distinct(regexp_split_to_array(text, ' +')) AS toks
        FROM documents
      )
      SELECT d.doc_id, d.lang, d.source, d.n_chars
      FROM t d
      WHERE d.doc_id >= 250
        AND NOT EXISTS (
          SELECT 1 FROM t b
          WHERE b.doc_id < 250 AND b.lang = d.lang
            AND len(list_intersect(d.toks, b.toks))::DOUBLE
                / (len(d.toks) + len(b.toks) - len(list_intersect(d.toks, b.toks))) >= 0.8)
      ORDER BY d.doc_id
    """.stripMargin.trim))

  /** q75 (added r7) — TF-IDF weighted cosine document similarity
    * ([[graft.ops.TfIdf.cosineRS]]): docs 0–9 against the corpus, top-5
    * each. The weighted upgrade of the q37 token-set join — common tokens
    * contribute ~nothing (idf ≈ ln 1), so ranking is driven by rare shared
    * vocabulary. Weights/norms/dots/cosine each ROUND(,6) (the
    * round-terms-then-round-sums protocol) so engine summation order can't
    * move the compared value.
    */
  val q75 = Q(
    "q75_tfidf_cosine",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.TfIdf.cosineRS(docs.filter(col("doc_id") < 10), "doc_id", "text",
        docs, "doc_id", "text", k = 5)
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, ' +')) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
      dfr AS (SELECT tok, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY 1),
      nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
      w AS (
        SELECT doc_id, tok, ROUND(tf * (ln(n_docs / df) + 1.0), 6) AS w
        FROM tf JOIN dfr USING (tok) CROSS JOIN nd),
      norms AS (SELECT doc_id, ROUND(sum(w * w), 6) AS n2 FROM w GROUP BY 1),
      q AS (SELECT doc_id AS q_id, tok, w AS qw FROM w WHERE doc_id < 10),
      qn AS (SELECT doc_id AS q_id, n2 AS qn2 FROM norms WHERE doc_id < 10),
      dots AS (
        SELECT q.q_id, w.doc_id AS d_id, ROUND(sum(q.qw * w.w), 6) AS dot
        FROM q JOIN w USING (tok) GROUP BY 1, 2)
      SELECT q_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY ROUND(dot / sqrt(qn2 * n2), 6) DESC, d_id) AS rnk,
             d_id,
             ROUND(dot / sqrt(qn2 * n2), 6) AS sim
      FROM dots JOIN norms ON dots.d_id = norms.doc_id JOIN qn USING (q_id)
      WHERE q_id <> d_id
      QUALIFY rnk <= 5
      ORDER BY q_id, rnk
    """.stripMargin.trim))

  /** q100 (added r8) — k-means nearest-centroid assignment: every embedding
    * assigned to its most-cosine-similar centroid (seeds = the 8 lowest
    * vec_ids, the deterministic init) → per-cluster size and mean
    * similarity — the semantic-clustering primitive behind IVF training,
    * semantic dedup, and topic-balanced mixture planning. Graded through
    * [[VectorSearch.kmeansAssign]]: the centroid model (O(k·dim), a
    * plan-time constant) is collected and inlined as codegen literals the
    * way MLlib ships k-means centers, so the assignment is a pure map pass
    * — no join, no explode, no shuffle before the k-group final agg
    * (ExplainSpec-pinned). Determinism: sims ROUND(,6) BEFORE the argmax
    * (ties → lowest centroid id), mean via the round-terms-then-DECIMAL-sum
    * protocol.
    */
  val q100 = Q(
    "q100_kmeans_assign",
    (s, d) => VectorSearch.kmeansAssign(
      Tables.embeddings(s, d), "vec_id", "embedding", col("id") < 8)
      .groupBy("centroid_id")
      .agg(
        count(lit(1)).as("n_members"),
        round(sum(col("sim").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("mean_sim"))
      .orderBy("centroid_id"),
    Some("""
      WITH c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8),
      a AS (
        SELECT e.vec_id, c.cid,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) AS sim,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) DESC,
                          c.cid) AS rnk
        FROM embeddings e CROSS JOIN c)
      SELECT cid AS centroid_id, count(*) AS n_members,
             ROUND(sum(sim::DECIMAL(18,6))::DOUBLE / count(*), 6) AS mean_sim
      FROM a WHERE rnk = 1
      GROUP BY cid ORDER BY cid
    """.stripMargin.trim))

  /** q101 (added r8) — distributed k-means M-step: per-cluster element-wise
    * mean vectors for q100's assignment, long form `(centroid_id, dim,
    * n_members, mean_val)` — with q100 this is one full Lloyd iteration;
    * a training loop composes the two with the driver carrying only the
    * O(k·dim) model between rounds (MLlib's exact shape). Plan: map-only
    * assignment → ONE posexplode → partial+final agg on (centroid, dim);
    * the dim-fold expansion never crosses the wire un-compacted
    * (ExplainSpec-pinned: no join, one generator). Determinism: elements
    * ROUND(,6) then exact-DECIMAL sums.
    */
  val q101 = Q(
    "q101_kmeans_update",
    (s, d) => VectorSearch.kmeansUpdate(
      Tables.embeddings(s, d), "vec_id", "embedding", col("id") < 8),
    Some("""
      WITH c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8),
      a AS (
        SELECT e.vec_id, c.cid, e.embedding::DOUBLE[] AS v,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) DESC,
                          c.cid) AS rnk
        FROM embeddings e CROSS JOIN c),
      ex AS (
        SELECT cid, unnest(list_transform(generate_series(1, len(v)),
                                          i -> {'dim': i, 'x': round(v[i], 6)})) AS e
        FROM a WHERE rnk = 1)
      SELECT cid AS centroid_id, e.dim AS dim, count(*) AS n_members,
             ROUND(sum((e.x)::DECIMAL(18,6))::DOUBLE / count(*), 6) AS mean_val
      FROM ex GROUP BY cid, e.dim ORDER BY centroid_id, dim
    """.stripMargin.trim))

  /** q102 (added r8) — leakage-safe train/val/test split: documents are
    * assigned to splits by their NEAR-DUP CLUSTER (q71's components;
    * singletons are their own cluster), so two near-duplicate documents can
    * never land in different splits — the eval-contamination failure mode
    * of naive per-doc splitting that silently inflates held-out scores.
    * Split = Knuth multiplicative hash of the cluster label mod 100
    * (80/10/10), q91's engine-portable arithmetic so the oracle reproduces
    * the exact assignment (the 100 TB production form swaps in xxhash64 as
    * q72 does; the arithmetic hash is the grading-portable stand-in).
    * Output: per-split cluster/doc/char totals.
    */
  val q102 = Q(
    "q102_leakage_safe_split",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = docClusters(s, d)
      val bucket = pmod(pmod(col("gid") * lit(2654435761L), lit(2147483647L)), lit(100))
      docs.select("doc_id", "n_chars")
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("gid", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("split_name",
          when(bucket < 80, lit("train")).when(bucket < 90, lit("val"))
            .otherwise(lit("test")))
        .groupBy("split_name")
        .agg(
          countDistinct(col("gid")).as("n_clusters"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"))
        .orderBy("split_name")
    },
    Some("""
      WITH RECURSIVE t AS (
        SELECT doc_id, lang, source,
               list_distinct(regexp_split_to_array(text, ' +')) AS toks
        FROM documents
      ),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
      ),
      und AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
      reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM und)
        UNION
        SELECT und.u, r.v FROM und JOIN reach r ON und.v = r.u
      ),
      cl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
      g AS (
        SELECT d.doc_id, d.n_chars,
               COALESCE(cl.cluster_id, d.doc_id) AS gid
        FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
      s AS (
        SELECT n_chars, gid,
               CASE WHEN ((gid * 2654435761) % 2147483647) % 100 < 80 THEN 'train'
                    WHEN ((gid * 2654435761) % 2147483647) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split_name
        FROM g)
      SELECT split_name, count(DISTINCT gid) AS n_clusters,
             count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars
      FROM s GROUP BY split_name ORDER BY split_name
    """.stripMargin.trim))

  /** q116 (added r8) — INT8 SCALAR QUANTIZATION + recall audit: every
    * embedding quantized to max-abs-scaled int8 (`round(x·127/‖v‖∞)` —
    * 4× smaller than float32, the standard vector-index compression), then
    * the quantized cosine top-20 for the lowest-vec_id query, each hit
    * flagged against the EXACT-cosine top-20 — the fidelity table a team
    * reads before switching its ANN index to int8. Quantized vectors hold
    * integral doubles, so `graft_dot` sums are EXACT integer arithmetic
    * and the one sqrt/div per pair is IEEE-identical on both engines
    * (q49's proven list_cosine_similarity parity). Scale: quantization is
    * a per-row codegen map; both rankings are TakeOrderedAndProject
    * (never a global window); the 1-row query vector broadcasts (q40's
    * matrix shape).
    */
  val q116 = Q(
    "q116_int8_quant",
    (s, d) => {
      import graft.functions.VectorExprs.{dot, norm}
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val quant = emb
        .withColumn("scale", array_max(transform(col("e"), x => abs(x))))
        // an all-zero embedding has no max-abs scale: rather than emit a
        // NaN/null quantized row that silently corrupts the ranking, such
        // rows are excluded — loudly, as a declared predicate on BOTH
        // engines (r8 ADVICE; the corpus has none, so output is unchanged)
        .filter(col("scale") > 0)
        .select(col("vec_id"), col("e"),
          transform(col("e"), x => round(x * 127.0 / col("scale"))).as("q"))
      val qv = quant.orderBy("vec_id").limit(1)
        .select(col("vec_id").as("q_id"), col("e").as("eq"), col("q").as("qq"))
      val sims = quant.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("vec_id"),
          round(dot(col("q"), col("qq")) / (norm(col("q")) * norm(col("qq"))), 6)
            .as("qsim"),
          round(dot(col("e"), col("eq")) / (norm(col("e")) * norm(col("eq"))), 6)
            .as("esim"))
      val exactTop = sims.orderBy(col("esim").desc, col("vec_id")).limit(20)
        .select(col("vec_id").as("x_id"))
      sims.orderBy(col("qsim").desc, col("vec_id")).limit(20)
        .join(broadcast(exactTop), col("vec_id") === col("x_id"), "left")
        .select(col("vec_id"), col("qsim"),
          col("x_id").isNotNull.as("in_exact_top20"))
        .orderBy(col("qsim").desc, col("vec_id"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
            sc AS (SELECT vec_id, e,
                          list_max(list_transform(e, x -> abs(x))) AS scale
                   FROM e),
            q AS (SELECT vec_id, e,
                         list_transform(e, x -> round(x * 127.0 / scale)) AS qv
                  FROM sc WHERE scale > 0),
            qry AS (SELECT e AS eq, qv AS qq FROM q
                    WHERE vec_id = (SELECT min(vec_id) FROM e)),
            sims AS (SELECT vec_id,
                            ROUND(list_cosine_similarity(qv, qq), 6) AS qsim,
                            ROUND(list_cosine_similarity(e, eq), 6) AS esim
                     FROM q CROSS JOIN qry
                     WHERE vec_id <> (SELECT min(vec_id) FROM e)),
            ex AS (SELECT vec_id FROM sims ORDER BY esim DESC, vec_id LIMIT 20),
            top AS (SELECT vec_id, qsim FROM sims ORDER BY qsim DESC, vec_id LIMIT 20)
            SELECT top.vec_id, top.qsim,
                   ex.vec_id IS NOT NULL AS in_exact_top20
            FROM top LEFT JOIN ex ON top.vec_id = ex.vec_id
            ORDER BY top.qsim DESC, top.vec_id"""))

  /** q123 (added r8) — TRIANGLE counts over the q36 near-dup graph
    * ([[graft.ops.GraphOps.triangleCounts]]): per-doc triangle
    * participation, the cluster-cohesion metric that separates genuine
    * duplicate cliques (dense triangles) from hub-shaped false-positive
    * suspects (many edges, few triangles) — the graph-quality audit run
    * before trusting q71's components for deletion. Edge relation
    * re-derived standalone (q83/q102 contract) and checkpointed once;
    * the enumeration is two equi-joins with every edge oriented low→high
    * so each triangle lands exactly once.
    */
  val q123 = Q(
    "q123_triangle_count",
    (s, d) => graft.ops.GraphOps.triangleCounts(
      docPairs(s, d, sorted = false), "a_id", "b_id",
      assumeCanonical = true).withColumnRenamed("a_id", "doc_id"),
    Some("""
      WITH t AS (
        SELECT doc_id, lang, source,
               list_distinct(regexp_split_to_array(text, ' +')) AS toks
        FROM documents
      ),
      e AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
      ),
      tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1 JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      )
      SELECT node AS doc_id, count(*) AS n_triangles
      FROM (SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
      GROUP BY node ORDER BY doc_id
    """.stripMargin.trim))

  /** q126 (added r8) — SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023): the
    * k-means clusters (q100's deterministic 8-seed assignment) bound the
    * quadratic — cosine pairs are enumerated WITHIN each cluster only —
    * and any vector with a lower-id cluster-mate at cos ≥ 0.4 is dropped
    * in favor of that mate (one-pass keep-lowest rule, the declared
    * semantics) → `(vec_id, kept_by, sim)` per dropped vector. This is
    * the embedding-space dedup that catches paraphrase-level duplicates
    * exact and MinHash dedup miss; at 100 TB the cluster blocking is the
    * whole trick — k clusters turn an O(n²) pair space into k·O((n/k)²)
    * co-partitioned joins on centroid_id.
    */
  val q126 = Q(
    "q126_semantic_dedup",
    (s, d) => {
      import graft.functions.VectorExprs.{dot, norm}
      val emb = Tables.embeddings(s, d)
      // r20: the assignment carries the vector through its map pass
      // (kmeansAssignWithVectors) instead of being joined back to the
      // embedding table on vec_id — that join shuffled BOTH data-sized
      // sides only to re-attach a column the assignment had projected away
      val withVec = VectorSearch.kmeansAssignWithVectors(
          emb, "vec_id", "embedding", col("id") < 8)
        .select(col("id").as("vec_id"), col("centroid_id"), col("v"))
      val a = withVec.select(col("vec_id").as("aid"), col("centroid_id"),
        col("v").as("va"))
      val b = withVec.select(col("vec_id").as("bid"), col("centroid_id"),
        col("v").as("vb"))
      a.join(b, Seq("centroid_id"))
        .filter(col("aid") < col("bid"))
        .withColumn("sim_raw",
          dot(col("va"), col("vb")) / (norm(col("va")) * norm(col("vb"))))
        .filter(col("sim_raw") >= 0.4)
        .groupBy(col("bid").as("vec_id"))
        .agg(min(struct(col("aid"), round(col("sim_raw"), 6).as("s"))).as("m"))
        .select(col("vec_id"), col("m.aid").as("kept_by"), col("m.s").as("sim"))
        .orderBy("vec_id")
    },
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      sims AS (SELECT e.vec_id, c.cid,
                      round(list_cosine_similarity(v, cv), 6) AS s
               FROM e CROSS JOIN c),
      asg AS (SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cid) AS rn
                FROM sims) WHERE rn = 1),
      p AS (SELECT a.vec_id AS aid, b.vec_id AS bid,
                   list_cosine_similarity(ea.v, eb.v) AS sr
            FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
            JOIN e ea ON ea.vec_id = a.vec_id
            JOIN e eb ON eb.vec_id = b.vec_id)
      SELECT bid AS vec_id, min(aid) AS kept_by,
             round(arg_min(sr, aid), 6) AS sim
      FROM p WHERE sr >= 0.4
      GROUP BY bid ORDER BY vec_id
    """.stripMargin.trim))

  /** q135 (added r8) — PAGERANK over the q36 near-dup graph
    * ([[graft.ops.GraphOps.pageRank]], 3 iterations, damping 0.85): the
    * centrality completion of the graph family (components q71, triangles
    * q123) — a high-rank node is the hub its duplicate neighborhood
    * points at, the natural canonical-document choice when a dedup
    * cluster needs one representative picked by STRUCTURE rather than by
    * lowest-id (q83's rule). Per-node incoming sums ride DECIMAL(38,18)
    * casts of IEEE-exact quotients so the one order-sensitive reduction
    * is associative at any parallelism; the oracle unrolls the same three
    * iterations with the teleport constant written `(1.0 - 0.85)` so both
    * engines derive the identical IEEE value.
    */
  val q135 = Q(
    "q135_pagerank",
    (s, d) => graft.ops.GraphOps.pageRank(
      docPairs(s, d, sorted = false), "a_id", "b_id", iters = 3,
      edgesCanonical = true)
      .select(col("node").as("doc_id"), round(col("r"), 6).as("pagerank"))
      .orderBy("doc_id"),
    Some("""
      WITH t AS (
        SELECT doc_id, lang, source,
               list_distinct(regexp_split_to_array(text, ' +')) AS toks
        FROM documents
      ),
      e AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
      ),
      se AS (SELECT a AS src, b AS dst FROM e
             UNION ALL SELECT b AS src, a AS dst FROM e),
      deg AS (SELECT src, count(*) AS deg FROM se GROUP BY 1),
      nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
      r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM deg),
      r1 AS (SELECT dst AS node,
                    (1.0 - 0.85) / (SELECT n FROM nn)
                    + 0.85 * (sum((r / deg)::DECIMAL(38,18)))::DOUBLE AS r
             FROM se JOIN deg USING (src) JOIN r0 ON r0.node = se.src
             GROUP BY dst),
      r2 AS (SELECT dst AS node,
                    (1.0 - 0.85) / (SELECT n FROM nn)
                    + 0.85 * (sum((r / deg)::DECIMAL(38,18)))::DOUBLE AS r
             FROM se JOIN deg USING (src) JOIN r1 ON r1.node = se.src
             GROUP BY dst),
      r3 AS (SELECT dst AS node,
                    (1.0 - 0.85) / (SELECT n FROM nn)
                    + 0.85 * (sum((r / deg)::DECIMAL(38,18)))::DOUBLE AS r
             FROM se JOIN deg USING (src) JOIN r2 ON r2.node = se.src
             GROUP BY dst)
      SELECT node AS doc_id, round(r, 6) AS pagerank
      FROM r3 ORDER BY node
    """.stripMargin.trim))

  /** q144 (added r9) — K-MEANS CLUSTER-QUALITY AUDIT: the table a team
    * reads before trusting q100's clustering (or q126's SemDeDup blocks):
    * per centroid, member count, mean member cosine (cohesion), mean
    * assignment MARGIN (best-vs-second-best similarity — low margin means
    * members sit on a cluster boundary), and the nearest other centroid's
    * cosine (separation; the Davies–Bouldin ingredient). Plan: ONE score
    * matrix (embeddings × k broadcast centroids, q100's map-side shape) →
    * a per-vector top-2 AGGREGATION (r21: sort_array over a k-bounded
    * collect_list replaces the row_number window — the partial aggregate
    * collapses the ×k scored rows to one row per vector MAP-SIDE, so the
    * vec_id exchange moves 1/k the rows and the window's total sort is
    * gone; k = 8 bounds every per-group list) → per-centroid partial+final
    * agg; the k×k centroid separation table is a broadcast-sized
    * self-join. Determinism: q100's protocol — sims ROUND(,6) before
    * ranking, ties broken by centroid id (struct order (sim DESC, cid ASC),
    * identical to the old window's row_number order), means as exact
    * DECIMAL sums over rounded terms.
    */
  val q144 = Q(
    "q144_cluster_quality",
    (s, d) => {
      import graft.functions.VectorExprs.{dot, norm}
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("e").as("cv"))
      val scored = emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          round(dot(col("e"), col("cv")) / (norm(col("e")) * norm(col("cv"))), 6)
            .as("sim"))
      // r21: top-2 by (sim DESC, cid ASC) via a k-bounded aggregation —
      // the negated cid makes the descending struct sort break ties by
      // ascending cid, exactly the old window's row_number order
      val top2 = scored.groupBy("vec_id")
        .agg(slice(sort_array(collect_list(
            struct(col("sim"), (-col("cid")).as("nc"))), asc = false), 1, 2)
          .as("t2"))
        .select(col("vec_id"),
          (-col("t2")(0)("nc")).as("cid"),
          col("t2")(0)("sim").as("sim"),
          col("t2")(1)("sim").as("sim2"))
      val sep = cents.select(col("cid"), col("cv"))
        .join(cents.select(col("cid").as("cid2"), col("cv").as("cv2")),
          col("cid") =!= col("cid2"))
        .groupBy("cid")
        .agg(max(round(dot(col("cv"), col("cv2"))
          / (norm(col("cv")) * norm(col("cv2"))), 6)).as("nearest_other_sim"))
      top2.groupBy("cid")
        .agg(count(lit(1)).as("n_members"),
          round(sum(col("sim").cast("decimal(18,6)")).cast("double")
            / count(lit(1)), 6).as("mean_sim"),
          round(sum((col("sim") - col("sim2")).cast("decimal(18,6)")).cast("double")
            / count(lit(1)), 6).as("mean_margin"))
        .join(broadcast(sep), "cid")
        .select(col("cid").as("centroid_id"), col("n_members"),
          col("mean_sim"), col("mean_margin"), col("nearest_other_sim"))
        .orderBy("centroid_id")
    },
    Some("""
      WITH c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8),
      a AS (
        SELECT e.vec_id, c.cid,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) AS sim,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) DESC,
                          c.cid) AS rnk
        FROM embeddings e CROSS JOIN c),
      b AS (
        SELECT vec_id,
               max(CASE WHEN rnk = 1 THEN cid END) AS cid,
               max(CASE WHEN rnk = 1 THEN sim END) AS sim,
               max(CASE WHEN rnk = 2 THEN sim END) AS sim2
        FROM a WHERE rnk <= 2 GROUP BY vec_id),
      sep AS (
        SELECT c1.cid,
               max(ROUND(list_cosine_similarity(c1.cv, c2.cv), 6)) AS nearest_other_sim
        FROM c c1 JOIN c c2 ON c1.cid <> c2.cid
        GROUP BY c1.cid)
      SELECT b.cid AS centroid_id, count(*) AS n_members,
             ROUND(sum(b.sim::DECIMAL(18,6))::DOUBLE / count(*), 6) AS mean_sim,
             ROUND(sum((b.sim - b.sim2)::DECIMAL(18,6))::DOUBLE / count(*), 6) AS mean_margin,
             sep.nearest_other_sim
      FROM b JOIN sep ON b.cid = sep.cid
      GROUP BY b.cid, sep.nearest_other_sim
      ORDER BY b.cid
    """.stripMargin.trim))

  /** q147 (added r9, rewired r11, MULTI-PASS r12) — SORTED-NEIGHBORHOOD
    * blocking (Hernández & Stolfo 1995): the third candidate-generation
    * strategy in the library's ER toolbox — q67 blocks on an EQUALITY key
    * (brand), q39 on shared n-grams; sorted-neighborhood sorts on the
    * fuzzy key itself and pairs each record with its `w = 2` successors in
    * the GLOBAL sort order at O(n·w) candidates instead of O(n²). The
    * graded form is the paper's ACTUAL method — MULTIPLE passes over
    * different key orderings, unioned: pass 1 sorts on the name, pass 2 on
    * its REVERSAL, so a typo in the leading characters (which exiles a
    * match to the far side of pass 1's sort order) is caught where the
    * name's TAIL still agrees. [[graft.ops.SortedNeighborhood.multiPass]]
    * dedups pairs found by both passes (id-canonicalized, so orientation
    * flips between orderings collapse). Verification is the q67
    * Jaro-Winkler (≥ 0.9), whose engine parity q67 already proves.
    *
    * Candidates per pass come from [[graft.ops.SortedNeighborhood]] — a
    * `repartitionByRange` total sort with broadcast boundary-head overlap,
    * so each pass is exactly the single-ORDER-BY window the oracle spells
    * (no dropped cross-boundary pairs) at cluster-wide parallelism; the
    * dedup is one hash aggregation keyed by the pair. r9's graded stand-in
    * partitioned by first letter: a 26-way parallelism ceiling that also
    * missed letter-boundary pairs.
    */
  val q147 = Q(
    "q147_sorted_neighborhood",
    (s, d) => {
      import graft.functions.StringExprs.jaroWinkler
      val base = Tables.part(s, d)
        .select(col("p_partkey").as("key"), col("p_name").as("name"))
        .withColumn("rev", reverse(col("name")))
      graft.ops.SortedNeighborhood
        .multiPass(base, "key", Seq(Seq("name"), Seq("rev")), w = 2,
          parts = s.sparkContext.defaultParallelism)
        .select(col("a_key"), col("b_key"),
          round(jaroWinkler(col("a_name"), col("b_name")), 6).as("jw"))
        .filter(col("jw") >= 0.9).orderBy("a_key", "b_key")
    },
    Some("""WITH base AS (
              SELECT p_partkey AS key, p_name AS name, reverse(p_name) AS rev
              FROM part),
            s1 AS (
              SELECT key, name,
                     lead(key, 1) OVER w AS k1, lead(name, 1) OVER w AS n1,
                     lead(key, 2) OVER w AS k2, lead(name, 2) OVER w AS n2
              FROM base WINDOW w AS (ORDER BY name, key)),
            s2 AS (
              SELECT key, name,
                     lead(key, 1) OVER w AS k1, lead(name, 1) OVER w AS n1,
                     lead(key, 2) OVER w AS k2, lead(name, 2) OVER w AS n2
              FROM base WINDOW w AS (ORDER BY rev, key)),
            u AS (
              SELECT key AS a, name AS na, k1 AS b, n1 AS nb FROM s1 WHERE k1 IS NOT NULL
              UNION ALL
              SELECT key, name, k2, n2 FROM s1 WHERE k2 IS NOT NULL
              UNION ALL
              SELECT key, name, k1, n1 FROM s2 WHERE k1 IS NOT NULL
              UNION ALL
              SELECT key, name, k2, n2 FROM s2 WHERE k2 IS NOT NULL),
            c AS (
              SELECT DISTINCT
                     CASE WHEN a <= b THEN a ELSE b END AS a_key,
                     CASE WHEN a <= b THEN b ELSE a END AS b_key,
                     CASE WHEN a <= b THEN na ELSE nb END AS a_name,
                     CASE WHEN a <= b THEN nb ELSE na END AS b_name
              FROM u),
            p AS (
              SELECT a_key, b_key,
                     ROUND(jaro_winkler_similarity(a_name, b_name), 6) AS jw
              FROM c)
            SELECT a_key, b_key, jw FROM p WHERE jw >= 0.9
            ORDER BY a_key, b_key"""))

  def all: Seq[Q] = Seq(q36, q37, q39, q40, q41, q43, q60, q67, q71, q75,
    q83, q84, q100, q101, q102, q116, q123, q126, q135, q144, q147)
}
