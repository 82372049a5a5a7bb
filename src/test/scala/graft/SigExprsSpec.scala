package graft

import org.apache.spark.sql.functions._
import graft.functions.{HyperplaneExprs, StringExprs, VectorExprs}
import graft.ops.{MinHash, SimilarityJoin, VectorSearch}

/** The fused signature expressions must be BIT-IDENTICAL to the unfused
  * column formulations they replaced (r6) — that identity is what lets the
  * pinned recall/error constants in MinHashSpec / PipelineSpec /
  * VectorSearchSpec survive the rewrite unchanged. Pin it directly.
  */
class SigExprsSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf0001)
    .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    .limit(100)

  test("graft_hp_scores equals per-plane graft_dot columns exactly") {
    val planes = VectorSearch.hyperplanes(8, 64)
    val unfused = emb.select(col("id"),
      array(planes.map(p => VectorExprs.dot(col("v"), typedLit(p))): _*).as("s"))
      .orderBy("id").collect().map(_.getSeq[Double](1))
    val fused = emb.select(col("id"),
      HyperplaneExprs.hpScores(col("v"), typedLit(planes.flatten)).as("s"))
      .orderBy("id").collect().map(_.getSeq[Double](1))
    // exact ==: same sequential accumulation order, so bit-identical
    assert(fused.toSeq === unfused.toSeq)
  }

  test("graft_hp_bands equals the unfused sign-bit packing exactly") {
    val nPlanes = 16; val nBands = 4; val rows = nPlanes / nBands
    val planes = VectorSearch.hyperplanes(nPlanes, 64)
    val bits = planes.map(p =>
      when(VectorExprs.dot(col("v"), typedLit(p)) >= 0, lit(1)).otherwise(lit(0)))
    val unfused = emb.select(col("id"), array((0 until nBands).map { bi =>
      (0 until rows).map(ri => bits(bi * rows + ri) * (1 << ri)).reduce(_ + _)
    }: _*).as("b")).orderBy("id").collect().map(_.getSeq[Int](1))
    val fused = emb.select(col("id"),
      HyperplaneExprs.hpBands(col("v"), typedLit(planes.flatten), lit(nBands)).as("b"))
      .orderBy("id").collect().map(_.getSeq[Int](1))
    assert(fused.toSeq === unfused.toSeq)
  }

  test("graft_minhash_sig equals the explode + min-aggregation formulation exactly") {
    val nHashes = 32
    val ps = MinHash.params(nHashes)
    val docs = Tables.documents(spark, sf0001)
    // the pre-r6 formulation, reconstructed verbatim
    val base = SimilarityJoin.tokenized(docs, "text")
      .select(col("doc_id").as("id"), explode(col("tokens")).as("tok"))
      .withColumn("hx", pmod(xxhash64(col("tok")), lit(MinHash.P)))
    val mins = ps.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("hx") + lit(b), lit(MinHash.P))).as(s"_mh$i")
    }
    val unfused = base.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until nHashes).map(i => col(s"_mh$i")): _*).as("sig"))
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    val fused = MinHash.signatures(docs, "doc_id", "text", nHashes)
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(fused.toSeq === unfused.toSeq)
  }

  test("graft_simhash_sig equals the explode + 64-vote aggregation formulation exactly") {
    val docs = Tables.documents(spark, sf0001)
    val base = SimilarityJoin.tokenized(docs, "text")
      .select(col("doc_id").as("id"), explode(col("tokens")).as("tok"))
      .withColumn("hx", xxhash64(col("tok")))
    val votes = (0 until 64).map { i =>
      sum(when(shiftright(col("hx"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"_v$i")
    }
    val packed = (0 until 64).map { i =>
      when(col(s"_v$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val unfused = base.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), packed.as("sig"))
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getLong(1))
    val fused = graft.ops.SimHash.signatures(docs, "doc_id", "text")
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(fused.toSeq === unfused.toSeq)
  }

  test("graft_shingles equals the transform/array_distinct HOF formulation exactly") {
    val n = 3
    val docs = Tables.documents(spark, sf0001)
    val toks = split(col("text"), " +")
    val viaHof = docs.select(col("doc_id"),
      when(size(toks) >= n,
        array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
        .otherwise(array().cast("array<string>")).as("sh"))
      .orderBy("doc_id").collect().map(_.getSeq[String](1))
    val viaKernel = docs.select(col("doc_id"),
      graft.functions.SetExprs.shinglesCol(toks, lit(n)).as("sh"))
      .orderBy("doc_id").collect().map(_.getSeq[String](1))
    assert(viaKernel.toSeq === viaHof.toSeq)
    // short-input guard: fewer than n tokens → empty, never a bad sequence
    val short = spark.sql("SELECT graft_shingles(array('a','b'), 3) AS s").collect()(0)
    assert(short.getSeq[String](0).isEmpty)
  }

  test("graft_jaro_winkler pins the textbook values incl. the boost threshold") {
    val r = spark.sql("""
      SELECT graft_jaro_winkler('martha', 'marhta')     AS w1,
             graft_jaro_winkler('dixon', 'dicksonx')    AS w2,
             graft_jaro_winkler('dwayne', 'duane')      AS w3,
             graft_jaro_winkler('ab', 'ba')             AS w4,
             graft_jaro_winkler('abcd', 'abzz')         AS w5,
             graft_jaro_winkler('same', 'same')         AS w6
      """).collect()(0)
    // Winkler 1990 canonical examples (also probed identical in DuckDB 1.0)
    assert(math.abs(r.getDouble(0) - 0.9611111111) < 1e-9)
    assert(math.abs(r.getDouble(1) - 0.8133333333) < 1e-9)
    assert(math.abs(r.getDouble(2) - 0.84) < 1e-9)
    assert(r.getDouble(3) === 0.0) // window 0: no matches
    // jaro 2/3 <= 0.7: prefix bonus must NOT apply (boost threshold)
    assert(math.abs(r.getDouble(4) - 2.0 / 3.0) < 1e-9)
    assert(r.getDouble(5) === 1.0)
  }

  test("graft_nfc composes combining sequences; dedup keys unify render-identical text") {
    // explicit \u escapes: an editor or VCS could silently re-normalize a
    // literal combining sequence, hollowing the test out
    val pre = "caf\u00e9"           // precomposed e-acute
    val comb = "cafe\u0301"         // e + COMBINING ACUTE ACCENT
    val decN = "man\u0303ana"       // n + COMBINING TILDE
    val r = spark.sql(
      s"SELECT graft_nfc('$pre') AS pre, graft_nfc('$comb') AS comb, " +
        s"graft_nfc('$decN') AS dec2, graft_nfc('plain') AS plain, " +
        "graft_nfc(CAST(NULL AS STRING)) AS nul").collect()(0)
    assert(pre != comb, "test inputs must be byte-different")
    assert(r.getString(0) === pre)
    assert(r.getString(1) === pre, "combining acute must compose to U+00E9")
    assert(r.getString(2) === "ma\u00f1ana", "combining tilde must compose to U+00F1")
    assert(r.getString(3) === "plain")
    assert(r.isNullAt(4))
    // the motivating property: byte-different render-identical texts get
    // ONE dedup key after normalization, two before
    import spark.implicits._
    val docs = Seq((1L, pre + " au lait"), (2L, comb + " au lait"))
      .toDF("doc_id", "text")
    val rawKeys = docs.select(xxhash64(col("text"))).distinct().count()
    val nfcKeys = docs.select(xxhash64(StringExprs.nfc(col("text"))))
      .distinct().count()
    assert(rawKeys === 2L && nfcKeys === 1L)
    // idempotence + codegen path: nfc(nfc(x)) == nfc(x) over the corpus
    val t = Tables.documents(spark, sf0001)
    val diff = t.select(StringExprs.nfc(col("text")).as("a"),
      StringExprs.nfc(StringExprs.nfc(col("text"))).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0L)
  }

  test("fused expressions null out on malformed input instead of mis-hashing") {
    val r = spark.sql("""
      SELECT graft_hp_scores(cast(array() AS array<double>), array(1.0d, 2.0d)) AS empty_vec,
             graft_hp_scores(array(1.0d, 2.0d), array(1.0d, 2.0d, 3.0d)) AS bad_dim,
             graft_hp_bands(array(1.0d), array(1.0d, 2.0d), 3) AS bad_bands,
             graft_simhash_sig(cast(array() AS array<string>)) AS no_tokens
      """).collect()(0)
    (0 until 4).foreach(i => assert(r.isNullAt(i), s"field $i should be null"))
  }
}
