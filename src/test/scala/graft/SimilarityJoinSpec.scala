package graft

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import graft.ops.SimilarityJoin

class SimilarityJoinSpec extends SparkSpec {

  test("q36: 342 pairs at sf0.001, tau=0.8, (lang,source) blocking") {
    val out = SparkEntry.queries("q36_jaccard_self_join")(spark, sf0001).collect()
    assert(out.length === 342)
    // schema + order invariants
    assert(out.head.schema.fieldNames.toSeq === Seq("a_id", "b_id", "sim"))
    val keys = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.toSeq === keys.toSeq.sorted)
    // all sims within [0.8, 1]
    assert(out.forall { r => val s = r.getDouble(2); s >= 0.8 - 1e-9 && s <= 1.0 + 1e-9 })
    // a < b always
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("jaccard thresholds match measured ground truth (FIXTURES.md)") {
    val docs = Tables.documents(spark, sf0001)
    val at07 = SimilarityJoin.jaccardSelf(docs, "doc_id", "text", Seq("lang", "source"), 0.7).count()
    val at09 = SimilarityJoin.jaccardSelf(docs, "doc_id", "text", Seq("lang", "source"), 0.9).count()
    assert(at07 === 609L)
    assert(at09 === 125L)
  }

  test("prefix-filtered variant ≡ exact variant (no false negatives/positives)") {
    val docs = Tables.documents(spark, sf0001)
    val exact = SimilarityJoin.jaccardSelf(docs, "doc_id", "text", Seq("lang", "source"), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = SimilarityJoin.jaccardSelfPrefix(docs, "doc_id", "text", Seq("lang", "source"), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pref === exact)
  }

  test("prefix path: vocabulary-size dispatch — shuffle join ≡ broadcast join") {
    val sets = SimilarityJoin.tokenized(Tables.documents(spark, sf0001), "text")
    val (bcPairs, shPairs) = bothJoinPaths(SimilarityJoin.jaccardSelfPrefixOnSets(
        sets, "doc_id", "tokens", Seq("lang", "source"), 0.8))(
      _.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(shPairs === bcPairs)
    assert(bcPairs.nonEmpty)
  }

  test("prefix-filtered R-S variant ≡ exact R-S variant at multiple thresholds") {
    val docs = Tables.documents(spark, sf0001)
    val queries = docs.filter(col("doc_id") < 10)
    for (tau <- Seq(0.6, 0.8)) {
      val exact = SimilarityJoin.jaccardRS(queries, docs, "doc_id", "text", Seq("lang"), tau)
        .collect().map(_.toString).toSeq
      val prefix = SimilarityJoin.jaccardRSPrefix(queries, docs, "doc_id", "text", Seq("lang"), tau)
        .collect().map(_.toString).toSeq
      assert(exact.nonEmpty, s"tau=$tau ground truth empty")
      assert(prefix === exact, s"tau=$tau")
    }
  }

  test("containment: a query fully quoted inside a longer doc scores 1.0, asymmetric") {
    import spark.implicits._
    val q = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val d = Seq(
      (2L, "xx yy alpha beta gamma delta zz ww qq"),
      (3L, "totally different words entirely here")).toDF("doc_id", "text")
    val out = SimilarityJoin.containmentRS(q, d, "doc_id", "text", Nil, 0.5).collect()
    assert(out.length === 1)
    assert(out(0).getLong(1) === 2L)
    assert(math.abs(out(0).getDouble(2) - 1.0) < 1e-9,
      "full quotation must score containment 1.0 (Jaccard here would be 2/9)")
  }

  test("precomputed containment index: two eval sets reuse one materialized index, results equal one-shot") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val evalA = docs.filter(col("doc_id") < 5).select("doc_id", "text", "lang")
    val evalB = docs.filter(col("doc_id") >= 5 && col("doc_id") < 10)
      .select("doc_id", "text", "lang")
    // the repeated-decontamination path: corpus indexed ONCE, persisted,
    // probed by every eval set
    val idx = SimilarityJoin.buildContainmentIndex(docs, "doc_id", "text", Nil)
    idx.docs.persist(); idx.freq.persist()
    try {
      for (eval <- Seq(evalA, evalB)) {
        val indexed = SimilarityJoin.containmentRSIndexed(eval, idx, "doc_id", "text", 0.5)
          .collect().map(_.toString).toSeq
        val oneShot = SimilarityJoin.containmentRS(eval, docs, "doc_id", "text", Nil, 0.5)
          .collect().map(_.toString).toSeq
        assert(indexed.nonEmpty, "each doc contains itself — result cannot be empty")
        assert(indexed === oneShot)
      }
      // reconstruction from storage (the cross-session reuse path): the
      // index round-trips through parquet and still matches
      val dir = java.nio.file.Files.createTempDirectory("cidx").toFile
      try {
        idx.docs.write.parquet(s"$dir/docs")
        idx.freq.write.parquet(s"$dir/freq")
        val fromDisk = SimilarityJoin.ContainmentIndex(
          spark.read.parquet(s"$dir/docs"), spark.read.parquet(s"$dir/freq"),
          idx.n, idx.blockCols)
        val viaDisk = SimilarityJoin.containmentRSIndexed(evalA, fromDisk, "doc_id", "text", 0.5)
          .collect().map(_.toString).toSeq
        val direct = SimilarityJoin.containmentRSIndexed(evalA, idx, "doc_id", "text", 0.5)
          .collect().map(_.toString).toSeq
        assert(viaDisk === direct)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
    } finally { idx.docs.unpersist(); idx.freq.unpersist() }
  }

  test("decontamination accepts a foreign eval relation: different schema, id type, source") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    // contamination planted ACROSS sources: the eval prompt quotes the first
    // 12 tokens of a real corpus doc, but lives in a benchmark-shaped
    // relation (string ids, 'prompt' column) that shares nothing with the
    // documents schema — and no blocking, because contamination crosses
    // lang/source boundaries
    val target = docs.orderBy("doc_id").limit(1).collect()(0)
    val quoted = target.getAs[String]("text").split(" +").take(12).mkString(" ")
    val eval = Seq(
      ("mmlu-00017", s"Q: $quoted"),
      ("mmlu-00018", "an uncontaminated prompt mentioning nothing from anywhere")
    ).toDF("eval_id", "prompt")
      // strip the 'Q:' prefix the way a real decontam pipeline normalizes
      .withColumn("prompt", regexp_replace(col("prompt"), "^Q: ", ""))
    val hits = SimilarityJoin.containmentRSGeneral(eval, "eval_id", "prompt",
        docs, "doc_id", "text", Nil, tau = 0.5).collect()
    assert(hits.nonEmpty, "planted contamination must be found")
    // the planted prompt hits its source doc with containment 1.0 (fully quoted)
    assert(hits.exists(r => r.getString(0) == "mmlu-00017" &&
      r.getLong(1) == target.getAs[Long]("doc_id") &&
      math.abs(r.getDouble(2) - 1.0) < 1e-9))
    // the clean prompt matches nothing
    assert(!hits.exists(_.getString(0) == "mmlu-00018"))
  }

  test("R-S auto dispatch matches the exact R-S join on this corpus") {
    val docs = Tables.documents(spark, sf0001)
    val queries = docs.filter(col("doc_id") < 10)
    val auto = SimilarityJoin.jaccardRSAuto(queries, docs, "doc_id", "text", Seq("lang"), 0.6)
      .collect().map(_.toString).toSeq
    val exact = SimilarityJoin.jaccardRS(queries, docs, "doc_id", "text", Seq("lang"), 0.6)
      .collect().map(_.toString).toSeq
    assert(auto === exact)
    // the prefix branch stays exact too (equivalence is the contract)
    val prefix = SimilarityJoin.jaccardRSPrefix(queries, docs, "doc_id", "text", Seq("lang"), 0.6)
      .collect().map(_.toString).toSeq
    assert(prefix === exact)
  }

  test("auto dispatch: flat vocabulary probes below threshold and takes the exact path") {
    val docs = Tables.documents(spark, sf0001)
    val skew = SimilarityJoin.vocabStats(SimilarityJoin.tokenized(docs, "text"), "tokens").skew
    info(f"documents vocab skew = $skew%.3f")
    assert(skew < SimilarityJoin.PrefixSkewThreshold, s"corpus no longer flat: $skew")
    val auto = SimilarityJoin.jaccardSelfAuto(docs, "doc_id", "text", Seq("lang", "source"), 0.8)
    // the prefix path is the only one that verifies via array_intersect —
    // its absence identifies the exact-inverted-index branch
    assert(!auto.queryExecution.optimizedPlan.toString.contains("array_intersect"))
    val exact = SimilarityJoin.jaccardSelf(docs, "doc_id", "text", Seq("lang", "source"), 0.8)
    assert(auto.collect().map(_.toString).toSeq === exact.collect().map(_.toString).toSeq)
  }

  test("auto dispatch: Zipfian hot-token vocabulary probes above threshold, prefix path") {
    // synthetic hot-token corpus: every doc shares token 'hot'; the rest are
    // unique per doc → df(hot) = n, df(other) = 1, skew ≈ n/2
    val n = 200
    val docs = spark.range(n).selectExpr(
      "id AS doc_id", "'x' AS blk",
      "concat('hot u', id, 'a u', id, 'b') AS text")
    val skew = SimilarityJoin.vocabStats(SimilarityJoin.tokenized(docs, "text"), "tokens").skew
    info(f"synthetic vocab skew = $skew%.3f")
    assert(skew >= SimilarityJoin.PrefixSkewThreshold, s"synthetic corpus not skewed: $skew")
    val auto = SimilarityJoin.jaccardSelfAuto(docs, "doc_id", "text", Seq("blk"), 0.5)
    assert(auto.queryExecution.optimizedPlan.toString.contains("array_intersect"),
      "expected the prefix branch on a Zipfian vocabulary")
    // prefix refuses to index 'hot' (each doc's prefix is its rarest tokens)
    // yet stays exact: no doc pair shares a unique token, so zero pairs
    assert(auto.count() === 0L)
  }

  // extreme-skew corpus for the salted dispatch: every doc carries 'hot'
  // (df = n) plus 3 tokens shared only with its twin (i, i + n/2) → twin
  // pairs have J = 1.0, any other pair shares only 'hot' (J = 1/7 < 0.5);
  // skew = n / avg(df) ≈ n/2.7 ≫ SaltSkewThreshold at n = 300
  private def extremeSkewCorpus(n: Int) = spark.range(n).selectExpr(
    "id AS doc_id", "'x' AS blk",
    s"concat('hot u', id % ${n / 2}, 'a u', id % ${n / 2}, 'b u', id % ${n / 2}, 'c') AS text")

  test("auto dispatch: extreme skew routes the candidate join through the salted plan") {
    val docs = extremeSkewCorpus(300)
    val skew = SimilarityJoin.vocabStats(SimilarityJoin.tokenized(docs, "text"), "tokens").skew
    info(f"extreme-skew corpus vocab skew = $skew%.1f")
    assert(skew >= SimilarityJoin.SaltSkewThreshold, s"corpus not extreme enough: $skew")
    // a broadcast-sized prefix index is broadcast unsalted; threshold -1
    // forces the shuffle join, which the skew salts
    val auto = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(
      SimilarityJoin.jaccardSelfAuto(docs, "doc_id", "text", Seq("blk"), 0.5))
    // the salted join is the only source of a _salt attribute in the plan
    assert(auto.queryExecution.optimizedPlan.toString.contains("_salt"),
      "expected the salted candidate join at extreme skew")
    val exact = SimilarityJoin.jaccardSelf(docs, "doc_id", "text", Seq("blk"), 0.5)
      .collect().map(_.toString).toSeq
    assert(exact.length === 150, "expected exactly the 150 twin pairs")
    assert(auto.collect().map(_.toString).toSeq === exact)
    // the unsalted prefix plan, on the same shuffle path, plans no salt
    val unsalted = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(
      SimilarityJoin.jaccardSelfPrefix(docs, "doc_id", "text", Seq("blk"), 0.5))
    assert(!unsalted.queryExecution.optimizedPlan.toString.contains("_salt"))
    assert(unsalted.collect().map(_.toString).toSeq === exact)
  }

  test("R-S auto dispatch: extreme data-side skew salts the candidate join, results exact") {
    val data = extremeSkewCorpus(300)
    val queries = data.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val auto = SimilarityJoin.jaccardRSAuto(queries, data, "doc_id", "text", Seq("blk"), 0.5)
    assert(auto.queryExecution.optimizedPlan.toString.contains("_salt"),
      "expected the salted candidate join at extreme skew")
    val exact = SimilarityJoin.jaccardRS(queries, data, "doc_id", "text", Seq("blk"), 0.5)
      .collect().map(_.toString).toSeq
    assert(exact.nonEmpty)
    assert(auto.collect().map(_.toString).toSeq === exact)
  }

  test("r21: vocabStats memoizes file-backed probes per (plan, file mtime/size); " +
    "in-memory inputs never memoize") {
    import graft.ops.PlanStatMemo
    import spark.implicits._
    // in-memory relation: no file fingerprint ⇒ no key ⇒ no memo entry
    val mem = SimilarityJoin.tokenized(
      Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text"), "text")
    assert(PlanStatMemo.key(mem, "vocabStats:tokens").isEmpty)
    SimilarityJoin.vocabStats(mem, "tokens") // computes, memoizes nothing
    // file-backed relation: a key exists; the first probe memoizes under
    // it, and a structurally identical second read returns the cached
    // statistics (same key — semanticHash is exprId-normalized)
    val sets = SimilarityJoin.tokenized(Tables.documents(spark, sf0001), "text")
    val k1 = PlanStatMemo.key(sets, "vocabStats:tokens")
    assert(k1.nonEmpty)
    val first = SimilarityJoin.vocabStats(sets, "tokens")
    assert(PlanStatMemo.lookup(k1.get) === Some(first))
    val sets2 = SimilarityJoin.tokenized(Tables.documents(spark, sf0001), "text")
    assert(PlanStatMemo.key(sets2, "vocabStats:tokens") === k1)
    assert(SimilarityJoin.vocabStats(sets2, "tokens") === first)
    // rewriting the input (same rows, new files ⇒ new paths/mtimes)
    // invalidates: a FRESH key, recomputed to the same value
    val dir = java.nio.file.Files.createTempDirectory("skewmemo").toFile
    try {
      Tables.documents(spark, sf0001).write.mode("overwrite").parquet(dir.toString)
      val rewritten = SimilarityJoin.tokenized(spark.read.parquet(dir.toString), "text")
      val k2 = PlanStatMemo.key(rewritten, "vocabStats:tokens")
      assert(k2.nonEmpty && k2 != k1)
      assert(PlanStatMemo.lookup(k2.get).isEmpty)
      assert(SimilarityJoin.vocabStats(rewritten, "tokens") === first)
      assert(PlanStatMemo.lookup(k2.get) === Some(first))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      ()
    }
  }

  test("cold jaccardSelfAuto build: only the frequency and ranked checkpoints run") {
    // the skew probe IS the frequency checkpoint (its statistics ride that
    // job), the prefix plan joins it into the ranked checkpoint, and no
    // separate bounded-count broadcast probe runs
    val dir = java.nio.file.Files.createTempDirectory("autoprobe").toFile
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, LogicalPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = actions.add((f, qe.analyzed))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = actions.add((f, qe.analyzed))
    }
    try {
      extremeSkewCorpus(300).write.mode("overwrite").parquet(dir.toString)
      val docs = spark.read.parquet(dir.toString)
      spark.listenerManager.register(listener)
      val (auto, jobs) = jobsOf(
        SimilarityJoin.jaccardSelfAuto(docs, "doc_id", "text", Seq("blk"), 0.5))
      spark.listenerManager.unregister(listener)
      val queries = jobs.map(_.getProperty("spark.sql.execution.id")).distinct
      assert(queries.size === 2, s"build ran ${queries.size} queries")
      val seen = actions.toArray(Array.empty[(String, LogicalPlan)]).toSeq
      assert(seen.map(_._1) === Seq("localCheckpoint", "localCheckpoint"))
      assert(seen(0)._2.output.map(_.name) === Seq("token", "df"), "the frequency relation")
      assert(Seq("sorted_tokens", "prefix").forall(seen(1)._2.output.map(_.name).contains),
        "the ranked relation")
      assert(!seen.exists(_._2.exists(_.isInstanceOf[GlobalLimit])),
        "a limit(max+1) count probe ran")
      assert(auto.queryExecution.optimizedPlan.toString.contains("array_intersect"),
        "expected the prefix branch on this corpus")
      val exact = SimilarityJoin.jaccardSelf(docs, "doc_id", "text", Seq("blk"), 0.5)
      assert(auto.collect().map(_.toString).toSeq === exact.collect().map(_.toString).toSeq)
    } finally {
      spark.listenerManager.unregister(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      ()
    }
  }

  test("self-similarity sanity: doc joined with its own copy gives sim 1.0") {
    val docs = Tables.documents(spark, sf0001).limit(20)
    val shifted = docs.withColumn("doc_id", col("doc_id") + lit(1000000L))
    val both = docs.unionByName(shifted)
    val pairs = SimilarityJoin.jaccardSelf(both, "doc_id", "text", Seq("lang", "source"), 0.999)
      .filter(col("b_id") === col("a_id") + lit(1000000L))
    assert(pairs.count() === 20L)
    assert(pairs.collect().forall(_.getDouble(2) === 1.0))
  }
}
