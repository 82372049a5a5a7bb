package graft

import org.apache.spark.sql.functions._

/** The optimizer extension must rewrite the HOF dot-product idiom into the
  * native codegen'd expression — same results, faster plan — and must leave
  * non-matching aggregates alone.
  */
class ExtensionsSpec extends SparkSpec {

  private def hofDot = Tables.embeddings(spark, sf0001)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    .limit(50)
    .select(col("vec_id"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("dp"))

  test("aggregate(zip_with(*, *), 0.0, +) is rewritten to graft_dot") {
    val optimized = hofDot.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot"), optimized.take(1500))
    assert(!optimized.contains("aggregate("), optimized.take(1500))
  }

  test("rewrite preserves values (unit vectors: self-dot == 1)") {
    val dps = hofDot.collect().map(_.getDouble(1))
    assert(dps.length === 50)
    assert(dps.forall(d => math.abs(d - 1.0) < 1e-6), dps.take(5).mkString(","))
  }

  test("non-dot aggregates are left untouched") {
    val sumAgg = Tables.embeddings(spark, sf0001)
      .select(col("embedding").cast("array<double>").as("v")).limit(5)
      .select(aggregate(col("v"), lit(0.0), (acc, x) => acc + x).as("s"))
    val optimized = sumAgg.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("graft_dot"), optimized.take(1500))
    assert(sumAgg.collect().length === 5)
  }

  test("raw SQL graft_jaccard self-join matches the library jaccardSelf path") {
    // the session is built with spark.sql.extensions=GraftExtensions
    // (SparkSpec), so graft_jaccard resolves with NO Scala registration call
    // — this is the SQL entry point a non-Scala user gets
    Tables.documents(spark, sf0001).createOrReplaceTempView("docs_sqlsurface")
    val viaSql = spark.sql("""
      WITH t AS (
        SELECT doc_id, lang, source, array_distinct(split(text, ' +')) AS toks
        FROM docs_sqlsurface)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             round(graft_jaccard(a.toks, b.toks), 6) AS sim
      FROM t a JOIN t b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE graft_jaccard(a.toks, b.toks) >= 0.8
      ORDER BY a_id, b_id""")
      .collect().map(_.toString).toSeq
    val viaLib = graft.ops.SimilarityJoin.jaccardSelf(
      Tables.documents(spark, sf0001), "doc_id", "text", Seq("lang", "source"), 0.8)
      .collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty)
    assert(viaSql === viaLib)
  }

  test("raw SQL graft_cosine matches the library cosine-pair path") {
    Tables.embeddings(spark, sf0001).createOrReplaceTempView("emb_sqlsurface")
    val viaSql = spark.sql("""
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(graft_cosine(cast(a.embedding AS array<double>),
                                cast(b.embedding AS array<double>)), 6) AS sim
      FROM emb_sqlsurface a JOIN emb_sqlsurface b ON a.vec_id < b.vec_id
      WHERE round(graft_cosine(cast(a.embedding AS array<double>),
                               cast(b.embedding AS array<double>)), 6) >= 0.4
      ORDER BY a_id, b_id""")
      .collect().map(_.toString).toSeq
    val viaLib = graft.ops.VectorSearch.cosinePairsExact(
      Tables.embeddings(spark, sf0001), "vec_id", "embedding", 0.4)
      .collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty)
    assert(viaSql === viaLib)
  }

  test("raw SQL graft_nfc is injected by the extension (no Scala registration)") {
    // SparkSpec's session is built WITH the extension conf — the SQL name
    // must resolve without any registration call in this test
    val r = spark.sql(
      "SELECT graft_nfc('cafe\u0301') AS c").collect()(0)
    assert(r.getString(0) === "caf\u00e9")
  }

  test("the extension injects the COMPLETE kernel set into the SQL surface") {
    // every public graft function must be callable from raw SQL on an
    // extension-built session; one smoke evaluation per kernel
    val r = spark.sql("""
      SELECT graft_jaro_winkler('martha', 'marhta') AS jw,
             size(graft_hp_scores(array(1.0d, 0.0d), array(1.0d, 0.0d, 0.0d, 1.0d))) AS hps,
             size(graft_hp_bands(array(1.0d, 0.0d), array(1.0d, 0.0d, 0.0d, 1.0d), 1)) AS hpb,
             size(graft_shingles(array('a','b','c'), 2)) AS sh,
             size(graft_minhash_sig(array('a','b'), array(3L, 7L, 11L, 13L))) AS mh,
             graft_simhash_sig(array('a','b')) IS NOT NULL AS sim,
             graft_compression_ratio('aaaaaaaaaaaaaaaaaaaaaaaa') < 1.5 AS zr
      """).collect()(0)
    assert(r.getDouble(0) > 0.9)
    assert(r.getInt(1) === 2 && r.getInt(2) === 1)
    assert(r.getInt(3) === 2 && r.getInt(4) === 2) // 2 (a,b) param pairs -> 2 hashes
    assert(r.getBoolean(5) && r.getBoolean(6))
    val agg = spark.sql(
      "SELECT size(graft_freq_items(c, 4)) AS n FROM VALUES ('a'),('a'),('b') AS t(c)")
      .collect()(0)
    assert(agg.getInt(0) >= 1)
  }

  test("graft_jaccard set semantics: duplicates collapse, empty union is NULL") {
    val rows = spark.sql("""
      SELECT graft_jaccard(array('a', 'a', 'b'), array('a', 'b', 'b')) AS dup_collapse,
             graft_jaccard(array('a', 'b'), array('b', 'c', 'd')) AS partial,
             graft_jaccard(cast(array() AS array<string>), cast(array() AS array<string>)) AS empty_union,
             graft_jaccard(cast(NULL AS array<string>), array('a')) AS null_in
      """).collect()(0)
    assert(rows.getDouble(0) === 1.0)
    assert(math.abs(rows.getDouble(1) - 0.25) < 1e-12)
    assert(rows.isNullAt(2))
    assert(rows.isNullAt(3))
  }
}
