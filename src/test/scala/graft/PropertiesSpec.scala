package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.ops.SimilarityJoin

/** Property-based correctness (SURVEY §5.3): the filtered similarity-join
  * pipelines must equal a brute-force Scala reference on random corpora —
  * across τ values where sz·τ is often integral (τ = 0.5, 0.75), the
  * FP-boundary cases the round-1 ADVICE flagged for the prefix/length
  * bounds. Corpora come from a fixed-seed generator, so failures replay.
  */
class PropertiesSpec extends SparkSpec {

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "lam", "mu")

  private def randomCorpus(rng: scala.util.Random): List[List[String]] = {
    val n = 4 + rng.nextInt(21)
    List.fill(n)(List.fill(1 + rng.nextInt(8))(vocab(rng.nextInt(vocab.size))))
  }

  private def bruteForce(docs: Seq[Set[String]], tau: Double): Set[(Long, Long, Double)] =
    (for {
      i <- docs.indices; j <- docs.indices if i < j
      inter = (docs(i) intersect docs(j)).size
      sim = inter.toDouble / (docs(i).size + docs(j).size - inter)
      if sim >= tau
    } yield (i.toLong, j.toLong, math.rint(sim * 1e6) / 1e6)).toSet

  private def toDf(docs: Seq[Seq[String]]) = {
    val rows = docs.zipWithIndex.map { case (toks, i) =>
      Row(i.toLong, toks.mkString(" "), "b")
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("blk", StringType))))
  }

  test("exact and prefix-filtered joins both equal brute force at integer-prone taus") {
    val rng = new scala.util.Random(42)
    val taus = Seq(0.5, 0.6, 0.75, 0.8)
    for (trial <- 1 to 12) {
      val docs = randomCorpus(rng)
      val tau = taus(rng.nextInt(taus.size))
      val df = toDf(docs)
      val sets = docs.map(_.toSet)
      val expected = bruteForce(sets, tau)
      val exact = SimilarityJoin.jaccardSelf(df, "doc_id", "text", Seq("blk"), tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val prefix = SimilarityJoin.jaccardSelfPrefix(df, "doc_id", "text", Seq("blk"), tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(exact === expected, s"trial $trial tau $tau exact")
      assert(prefix === expected, s"trial $trial tau $tau prefix")
    }
  }

  test("R-S exact and prefix-filtered joins equal brute force on random corpora") {
    val rng = new scala.util.Random(4242)
    val taus = Seq(0.5, 0.6, 0.75)
    for (trial <- 1 to 8) {
      val qDocs = randomCorpus(rng)
      val dDocs = randomCorpus(rng)
      val tau = taus(rng.nextInt(taus.size))
      // distinct id spaces so q_id != d_id never accidentally matches
      val qDf = toDf(qDocs).withColumn("doc_id",
        org.apache.spark.sql.functions.col("doc_id") + 1000L)
      val dDf = toDf(dDocs)
      val qSets = qDocs.map(_.toSet)
      val dSets = dDocs.map(_.toSet)
      val expected = (for {
        i <- qSets.indices; j <- dSets.indices
        inter = (qSets(i) intersect dSets(j)).size
        sim = inter.toDouble / (qSets(i).size + dSets(j).size - inter)
        if sim >= tau
      } yield (i.toLong + 1000L, j.toLong, math.rint(sim * 1e6) / 1e6)).toSet
      val exact = SimilarityJoin.jaccardRS(qDf, dDf, "doc_id", "text", Seq("blk"), tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val prefix = SimilarityJoin.jaccardRSPrefix(qDf, dDf, "doc_id", "text", Seq("blk"), tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(exact === expected, s"trial $trial tau $tau R-S exact")
      assert(prefix === expected, s"trial $trial tau $tau R-S prefix")
    }
  }

  test("containment R-S equals brute force on random corpora") {
    val rng = new scala.util.Random(777)
    def shingles(toks: Seq[String]): Set[String] =
      if (toks.size < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    for (trial <- 1 to 8) {
      val qDocs = randomCorpus(rng)
      val dDocs = randomCorpus(rng)
      val tau = Seq(0.4, 0.5, 0.75)(rng.nextInt(3))
      val qDf = toDf(qDocs).withColumn("doc_id",
        org.apache.spark.sql.functions.col("doc_id") + 1000L)
      val expected = (for {
        i <- qDocs.indices
        sq = shingles(qDocs(i)) if sq.nonEmpty
        j <- dDocs.indices
        c = (sq intersect shingles(dDocs(j))).size.toDouble / sq.size
        if c >= tau - 1e-9
      } yield (i.toLong + 1000L, j.toLong, math.rint(c * 1e6) / 1e6)).toSet
      val got = SimilarityJoin.containmentRS(qDf, toDf(dDocs), "doc_id", "text", Nil, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === expected, s"trial $trial tau $tau")
    }
  }

  test("jaccard bounds: every emitted sim is within [tau, 1]") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 6) {
      val sims = SimilarityJoin
        .jaccardSelf(toDf(randomCorpus(rng)), "doc_id", "text", Seq("blk"), 0.5)
        .collect().map(_.getDouble(2))
      assert(sims.forall(s => s >= 0.5 - 1e-9 && s <= 1.0 + 1e-9))
    }
  }

  test("bucketized interval join equals the direct theta join (incl. boundary cases)") {
    import org.apache.spark.sql.functions._
    val pts = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") >= 49.5)
      .select("l_orderkey", "l_linenumber", "l_shipdate")
    val ivs = Tables.orders(spark, sf0001)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_end"))
    val direct = pts.join(ivs,
        col("l_shipdate") >= col("o_orderdate") && col("l_shipdate") < col("o_end"))
      .select("l_orderkey", "l_linenumber", "o_orderkey")
      .collect().map(_.toString).sorted.toSeq
    // widths that do NOT divide the interval length exercise the
    // bucket-spill edge; 1-day width forces multi-bucket intervals
    for (w <- Seq(86400L, 5L * 86400, 7L * 86400, 11L * 86400)) {
      val bucketed = graft.ops.RangeJoin.pointInInterval(
          pts, ivs, "l_shipdate", "o_orderdate", "o_end", w)
        .select("l_orderkey", "l_linenumber", "o_orderkey")
        .collect().map(_.toString).sorted.toSeq
      assert(bucketed === direct, s"width $w")
    }
    assert(direct.nonEmpty)
  }

  test("bucketized interval join keeps sub-second matches near an exclusive hi (r7)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // p shares hi's fractional second but precedes the exclusive bound:
    // unix_timestamp truncation used to drop hi's own bucket and MISS this
    // match (ADVICE r6). Also pin the boundary exclusions around it.
    val pts = Seq(
      (1L, "2024-01-01 00:02:00.2"),  // < hi=00:02:00.5 → MUST match
      (2L, "2024-01-01 00:02:00.5"),  // == hi (exclusive) → must NOT match
      (3L, "2024-01-01 00:00:00.0"),  // == lo (inclusive) → MUST match
      (4L, "2024-01-01 00:02:01.0")   // past hi's second → must NOT match
    ).toDF("p_id", "s").select(col("p_id"), col("s").cast("timestamp").as("p_ts"))
    val ivs = Seq((10L, "2024-01-01 00:00:00.0", "2024-01-01 00:02:00.5"))
      .toDF("iv_id", "lo_s", "hi_s")
      .select(col("iv_id"), col("lo_s").cast("timestamp").as("lo"),
        col("hi_s").cast("timestamp").as("hi"))
    val got = graft.ops.RangeJoin.pointInInterval(pts, ivs, "p_ts", "lo", "hi", 60L)
      .select("p_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(1L, 3L))
  }

  test("degenerate inputs: every operator family returns empty, never throws (r7)") {
    import spark.implicits._
    import graft.ops._
    val emptyDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "blk")
    val oneDoc = Seq((1L, "alpha beta gamma", "x")).toDF("doc_id", "text", "blk")
    // similarity joins on empty / single-row inputs
    assert(SimilarityJoin.jaccardSelf(emptyDocs, "doc_id", "text", Seq("blk"), 0.5).isEmpty)
    assert(SimilarityJoin.jaccardSelf(oneDoc, "doc_id", "text", Seq("blk"), 0.5).isEmpty)
    assert(SimilarityJoin.jaccardSelfPrefix(emptyDocs, "doc_id", "text", Seq("blk"), 0.5).isEmpty)
    assert(SimilarityJoin.jaccardRS(emptyDocs, oneDoc, "doc_id", "text", Seq("blk"), 0.5).isEmpty)
    // containment: queries whose every doc is too short for a 3-gram
    val short = Seq((9L, "just two", "x")).toDF("doc_id", "text", "blk")
    assert(SimilarityJoin.containmentRS(short, oneDoc, "doc_id", "text", Nil, 0.5).isEmpty)
    // graph: empty edge list converges to an empty labeling
    val noEdges = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(GraphOps.connectedComponents(noEdges, "a_id", "b_id").isEmpty)
    // retrieval: query vocabulary absent from the corpus scores nothing
    val alien = Seq((1L, "zz yy xx")).toDF("q_id", "text")
    assert(Bm25.scoreRS(alien, "q_id", "text", oneDoc, "doc_id", "text", 5).isEmpty)
    assert(TfIdf.cosineRS(alien, "q_id", "text", oneDoc, "doc_id", "text", 5).isEmpty)
    // vector search: empty query predicate
    val emb = Tables.embeddings(spark, sf0001)
    assert(VectorSearch.cosineKnn(emb, "vec_id", "embedding",
      org.apache.spark.sql.functions.col("id") < 0, 3).isEmpty)
    // r8 additions: alternating-star on empty edges; interval join with an
    // empty side (both directions)
    assert(GraphOps.connectedComponentsAlternating(noEdges, "a_id", "b_id").isEmpty)
    val ev = Seq((1L, 5L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "ts")
    val noEv = Seq.empty[(Long, Long, java.sql.Timestamp)]
      .toDF("event_id", "user_id", "ts")
    assert(graft.streaming.StreamJoin.attributionJoin(noEv, ev, 24).isEmpty)
    assert(graft.streaming.StreamJoin.attributionJoin(ev, noEv, 24).isEmpty)
    // r8 late additions: enrichment with an empty stream is empty; with an
    // empty dim it keeps every event (left semantics — never drops traffic)
    val dim = Seq((5L, "BUILDING")).toDF("c_custkey", "c_mktsegment")
    val noDim = Seq.empty[(Long, String)].toDF("c_custkey", "c_mktsegment")
    assert(graft.streaming.StreamJoin.enrichJoin(noEv, dim, "user_id", "c_custkey").isEmpty)
    val kept = graft.streaming.StreamJoin.enrichJoin(ev, noDim, "user_id", "c_custkey")
    assert(kept.count() === 1 && kept.select("c_mktsegment").head.isNullAt(0))
  }

  test("dedup idempotence: dedup(dedup(x)) == dedup(x)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def dedup(df: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(lower(trim(col("text")))).orderBy(col("doc_id"))
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    }
    val docs = Tables.documents(spark, sf0001)
    val once = dedup(docs)
    val twice = dedup(once)
    assert(twice.count() === once.count())
    assert(twice.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      once.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("levenshtein is a metric on sampled part-name triples (triangle inequality)") {
    import org.apache.spark.sql.functions._
    val names = Tables.part(spark, sf0001).select("p_name")
      .limit(30).collect().map(_.getString(0))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // Spark's built-in agrees with the reference implementation
    val spk = Tables.part(spark, sf0001).limit(30)
      .select(levenshtein(col("p_name"), reverse(col("p_name"))).as("d"), col("p_name"))
      .collect().map(r => r.getString(1) -> r.getInt(0)).toMap
    names.foreach { n => assert(spk(n) === lev(n, n.reverse)) }
    // triangle inequality on sampled triples
    for (a <- names.take(10); b <- names.slice(10, 20); c <- names.slice(20, 30))
      assert(lev(a, c) <= lev(a, b) + lev(b, c))
  }

  // ---- dispatch equivalence: every auto-dispatch branch, forced either
  // way, equals brute force (ScalaCheck generators, fixed initial seed)

  /** Check `prop` on `n` generated cases from a fixed seed, no shrinking
    * (each case runs Spark jobs); the failing case is in the message.
    */
  private def holds(n: Int, seed: Long)(prop: org.scalacheck.Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(n)
        .withWorkers(1).withInitialSeed(org.scalacheck.rng.Seed(seed)), prop)
    assert(res.passed, res.status.toString)
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Seq[(Option[Long], Option[Long])] =
    df.collect().toSeq.map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long])))

  /** Components by repeated neighbor-min relaxation to a fixed point — a
    * different algorithm from both the loop and the union-find.
    */
  private def bruteComponents(edges: Seq[(Long, Long)]): Seq[(Option[Long], Option[Long])] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var label = nodes.map(n => n -> n).toMap
    var changed = true
    while (changed) {
      val next = edges.foldLeft(label) { case (l, (a, b)) =>
        val m = math.min(l(a), l(b)); l.updated(a, m).updated(b, m)
      }
      changed = next != label
      label = next
    }
    nodes.map(n => (Some(n), Some(label(n))))
  }

  /** Random graphs: empty, sparse random (self-loops and parallel edges
    * arise naturally), and long paths, each with duplicated and reversed
    * copies of some edges mixed in.
    */
  private val graphGen: org.scalacheck.Gen[Seq[(Long, Long)]] = {
    import org.scalacheck.Gen
    val random = for {
      n <- Gen.choose(1L, 30L)
      m <- Gen.choose(1, 40)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n), Gen.choose(0L, n)))
    } yield es
    val path = for {
      len <- Gen.choose(2, 70)
      off <- Gen.choose(0L, 1000L)
    } yield (0 until len).map(i => (off + i, off + i + 1))
    for {
      base <- Gen.frequency(1 -> Gen.const(Seq.empty[(Long, Long)]), 4 -> random, 2 -> path)
      dups <- Gen.someOf(base)
      revs <- Gen.someOf(base)
      loops <- Gen.someOf(base.map(_._1))
    } yield new scala.util.Random(base.size)
      .shuffle(base ++ dups ++ revs.map(_.swap) ++ loops.map(x => (x, x)))
  }

  test("connected components: driver path = forced loop = alternating-star = brute force") {
    import spark.implicits._
    import graft.ops.GraphOps
    holds(12, 71L)(org.scalacheck.Prop.forAllNoShrink(graphGen) { edges =>
      val df = edges.toDF("a_id", "b_id")
      val onDriver = GraphOps.connectedComponents(df, "a_id", "b_id")
      val loop = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(
        GraphOps.connectedComponents(df, "a_id", "b_id"))
      val alt = GraphOps.connectedComponentsAlternating(df, "a_id", "b_id")
      val expected = bruteComponents(edges)
      onDriver.schema == loop.schema && labelsOf(onDriver) == expected &&
        labelsOf(loop) == expected && labelsOf(alt) == expected
    })
  }

  test("connected components: NULL endpoints give the same labeling on the driver path and the loop") {
    import spark.implicits._
    import graft.ops.GraphOps
    // a NULL endpoint links nothing: 1–2–4 is one component, 3 and 5 stay
    // alone, and the one NULL-node row takes its least direct partner (3);
    // with no non-null partner at all the NULL node's label is NULL
    type Pairs = Seq[(Option[Long], Option[Long])]
    val cases = Seq[(Pairs, Pairs)](
      Seq((Some(1L), Some(2L)), (None, Some(5L)), (Some(3L), None),
        (Some(2L), Some(4L)), (None, None)) ->
        Seq((None, Some(3L)), (Some(1L), Some(1L)), (Some(2L), Some(1L)),
          (Some(3L), Some(3L)), (Some(4L), Some(1L)), (Some(5L), Some(5L))),
      Seq((None, None)) -> Seq((None, None)))
    for ((edges, expected) <- cases) {
      val df = edges.toDF("a_id", "b_id")
      val onDriver = GraphOps.connectedComponents(df, "a_id", "b_id")
      val loop = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(
        GraphOps.connectedComponents(df, "a_id", "b_id"))
      assert(labelsOf(onDriver) === expected, "driver path")
      assert(labelsOf(loop) === expected, "loop")
      assert(onDriver.schema === loop.schema)
    }
  }

  /** The prefix join's extreme-skew branch: the candidate join salted
    * [[SimilarityJoin.CandidateSalts]] ways.
    */
  private def saltedPrefix(df: org.apache.spark.sql.DataFrame, tau: Double) =
    SimilarityJoin.jaccardSelfPrefixOnSets(SimilarityJoin.tokenized(df, "text"), "doc_id",
      "tokens", Seq("blk"), tau, nSalts = SimilarityJoin.CandidateSalts)

  test("jaccardSelfAuto: auto, exact, prefix and salted branches equal brute force on Zipfian corpora") {
    import org.scalacheck.Gen
    // Zipf(1) over 40 words, plus near-copies (one word swapped) so that
    // pairs above tau exist at every size
    val word = Gen.frequency((0 until 40).map(r => (1000 / (r + 1), Gen.const(s"w$r"))): _*)
    val corpus = for {
      n <- Gen.choose(4, 24)
      docs <- Gen.listOfN(n, Gen.choose(1, 9).flatMap(Gen.listOfN(_, word)))
      copies <- Gen.someOf(docs)
      swaps <- Gen.listOfN(copies.size, word)
      tau <- Gen.oneOf(0.5, 0.6, 0.75, 0.8)
    } yield (docs ++ copies.zip(swaps).map { case (d, w) => w :: d.tail }, tau)
    holds(8, 36L)(org.scalacheck.Prop.forAllNoShrink(corpus) { case (docs, tau) =>
      val df = toDf(docs)
      val expected = bruteForce(docs.map(_.toSet), tau)
      def pairsOf(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      Seq(SimilarityJoin.jaccardSelfAuto(df, "doc_id", "text", Seq("blk"), tau),
        SimilarityJoin.jaccardSelf(df, "doc_id", "text", Seq("blk"), tau),
        SimilarityJoin.jaccardSelfPrefix(df, "doc_id", "text", Seq("blk"), tau),
        saltedPrefix(df, tau)).forall(pairsOf(_) == expected)
    })
  }

  // ---- size dispatch of the dedup self-joins: each materializes its
  // per-document relation once and broadcasts the candidate join while the
  // observed index fits spark.sql.autoBroadcastJoinThreshold; -1 forces
  // the shuffle join, which must give the same rows

  /** Zipfian documents with near-copies, plus the edge shapes: no
    * documents, one document, all-identical documents, and documents with
    * no words (empty text).
    */
  private val dispatchCorpus: org.scalacheck.Gen[List[List[String]]] = {
    import org.scalacheck.Gen
    val word = Gen.frequency((0 until 40).map(r => (1000 / (r + 1), Gen.const(s"w$r"))): _*)
    val doc = Gen.choose(1, 9).flatMap(Gen.listOfN(_, word))
    val zipf = for {
      n <- Gen.choose(4, 24)
      docs <- Gen.listOfN(n, doc)
      copies <- Gen.someOf(docs)
      swaps <- Gen.listOfN(copies.size, word)
    } yield docs ++ copies.zip(swaps).map { case (d, w) => w :: d.tail }
    Gen.frequency(
      4 -> zipf,
      1 -> Gen.const(Nil),
      1 -> doc.map(List(_)),
      1 -> Gen.zip(doc, Gen.choose(2, 6)).map { case (d, n) => List.fill(n)(d) },
      1 -> Gen.zip(zipf, Gen.choose(1, 3)).map { case (ds, k) => ds ++ List.fill(k)(Nil) })
  }

  /** The operators' tokenization: `split(text, " +")`, distinct — an
    * empty text is the one-element set {""}.
    */
  private def tokensOf(doc: List[String]): Set[String] = doc.mkString(" ").split(" +", -1).toSet

  private def shuffleForced[A](body: => A): A =
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  private def hasBroadcastHint(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => true
      case _ => false
    }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toDouble))

  test("jaccard prefix join: broadcast = forced shuffle (salted or not) = brute force on edge corpora") {
    holds(10, 91L)(org.scalacheck.Prop.forAllNoShrink(dispatchCorpus,
        org.scalacheck.Gen.oneOf(0.5, 0.6, 0.75, 0.8)) { (docs, tau) =>
      val df = toDf(docs)
      val expected = bruteForce(docs.map(tokensOf), tau)
      def run(salt: Boolean) = rowsOf(
        if (salt) saltedPrefix(df, tau)
        else SimilarityJoin.jaccardSelfPrefix(df, "doc_id", "text", Seq("blk"), tau)).toSet
      val broadcast = Seq(run(false), run(true))
      val shuffled = shuffleForced(Seq(run(false), run(true)))
      (broadcast ++ shuffled).forall(_ == expected)
    })
  }

  /** Brute force over the signatures of `df`: every pair a < b, compared
    * whole, no banded join.
    */
  private def sigPairs[S](df: org.apache.spark.sql.DataFrame, sig: Row => S)(
      keep: (S, S) => Option[Double]): Set[(Long, Long, Double)] = {
    val sigs = df.collect().map(r => (r.getLong(0), sig(r)))
    (for {
      (a, sa) <- sigs.toSeq; (b, sb) <- sigs.toSeq if a < b
      v <- keep(sa, sb)
    } yield (a, b, v)).toSet
  }

  test("lshPairs: broadcast = forced shuffle (identical pairs) = brute force on edge corpora") {
    import graft.ops.MinHash
    holds(10, 43L)(org.scalacheck.Prop.forAllNoShrink(dispatchCorpus) { docs =>
      val df = toDf(docs)
      def run() = rowsOf(MinHash.lshPairs(df, "doc_id", "text", Seq("blk"), 0.5))
      val broadcast = run()
      val shuffled = shuffleForced(run())
      // a candidate shares one whole 4-hash band; its estimate is the
      // matching share of all 32 hashes
      val expected = sigPairs(MinHash.signatures(df, "doc_id", "text", 32),
          _.getSeq[Long](1).toVector) { (sa, sb) =>
        val est = sa.zip(sb).count { case (x, y) => x == y } / 32.0
        val banded = sa.grouped(4).zip(sb.grouped(4)).exists { case (x, y) => x == y }
        if (banded && est >= 0.5) Some(math.rint(est * 1e6) / 1e6) else None
      }
      broadcast == shuffled && broadcast.toSet == expected
    })
  }

  test("hammingPairs: broadcast = forced shuffle (identical pairs) = brute force on edge corpora") {
    import graft.ops.SimHash
    holds(10, 48L)(org.scalacheck.Prop.forAllNoShrink(dispatchCorpus) { docs =>
      val df = toDf(docs)
      def run() = rowsOf(SimHash.hammingPairs(df, "doc_id", "text", Seq("blk"), 3))
      val broadcast = run()
      val shuffled = shuffleForced(run())
      // radius 3 < 4 bands: pigeonhole makes every such pair a candidate
      val expected = sigPairs(SimHash.signatures(df, "doc_id", "text"), _.getLong(1)) { (sa, sb) =>
        val d = java.lang.Long.bitCount(sa ^ sb)
        if (d <= 3) Some(d.toDouble) else None
      }
      broadcast == shuffled && broadcast.toSet == expected
    })
  }

  /** Pin the size dispatch at `bytes`: a threshold of exactly `bytes`
    * broadcasts, one byte less shuffles, with the same rows.
    */
  private def pinsThreshold(bytes: Long)(build: => org.apache.spark.sql.DataFrame): Unit = {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    assert(bytes > 0)
    val (atBound, rowsAt) = withSQLConf(threshold -> bytes.toString) {
      val df = build; (hasBroadcastHint(df), rowsOf(df))
    }
    val (below, rowsBelow) = withSQLConf(threshold -> (bytes - 1).toString) {
      val df = build; (hasBroadcastHint(df), rowsOf(df))
    }
    assert(atBound, s"no broadcast at a threshold of $bytes B")
    assert(!below, s"broadcast at a threshold of ${bytes - 1} B")
    assert(rowsAt.nonEmpty && rowsAt === rowsBelow)
  }

  private val nearCopies = List(
    List("w1", "w2", "w3", "w4", "w5"), List("w1", "w2", "w3", "w4", "w6"),
    List("w7", "w8", "w9"), List("w7", "w8", "w9"), List("w10", "w11"))

  test("jaccard prefix join broadcasts exactly while its observed prefix index fits the threshold") {
    import org.apache.spark.sql.functions._
    val df = toDf(nearCopies)
    val sets = SimilarityJoin.tokenized(df, "text")
    val freq = sets.select(explode(col("tokens")).as("token")).groupBy("token")
      .agg(count(lit(1)).as("df"))
    val bytes = SimilarityJoin.rankedPrefixes(sets, "doc_id", "tokens", Seq("blk"), 0.6,
      freq, vocabBroadcast = true).bytes
    pinsThreshold(bytes)(SimilarityJoin.jaccardSelfPrefix(df, "doc_id", "text", Seq("blk"), 0.6))
  }

  test("lshPairs broadcasts exactly while its observed band index fits the threshold") {
    import graft.ops.MinHash
    val df = toDf(nearCopies)
    val bytes = MinHash.signedBands(df, "doc_id", "text", Seq("blk"), 32, 8).bytes
    pinsThreshold(bytes)(MinHash.lshPairs(df, "doc_id", "text", Seq("blk"), 0.5))
  }

  test("hammingPairs broadcasts exactly while its observed band index fits the threshold") {
    import graft.ops.SimHash
    val df = toDf(nearCopies)
    val bytes = SimHash.signedBands(df, "doc_id", "text", Seq("blk"), 4).bytes
    pinsThreshold(bytes)(SimHash.hammingPairs(df, "doc_id", "text", Seq("blk"), 3))
  }

  // ---- the four bounded-count dispatches (PlanStatMemo.boundedBy): each
  // branch, run directly, equals brute force

  /** Strings with duplicates, NULLs, empty strings and one-character
    * variants of a shared pool, in blocks x / y / NULL, so near-matches
    * fall inside and across blocks.
    */
  private val stringCorpus: org.scalacheck.Gen[List[(Option[String], Option[String])]] = {
    import org.scalacheck.Gen
    val pool = Seq("", "a", "ab", "abc", "abd", "xbc", "kitten", "sitten", "sitting",
      "aaaa", "aaab", "abcdefgh", "abxdefgh")
    val variant = for {
      s <- Gen.oneOf(pool.filter(_.nonEmpty)); i <- Gen.choose(0, 7); c <- Gen.oneOf('a', 'b', 'x')
    } yield s.updated(i % s.length, c)
    val str = Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some("")),
      6 -> Gen.oneOf(pool).map(Some(_)), 3 -> variant.map(Some(_)))
    val blk = Gen.frequency(4 -> Gen.const(Some("x")), 3 -> Gen.const(Some("y")),
      1 -> Gen.const(None))
    Gen.choose(0, 24).flatMap(Gen.listOfN(_, Gen.zip(str, blk)))
  }

  private def stringDf(rows: Seq[(Option[String], Option[String])]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case ((s, b), i) =>
        Row(i.toLong, s.orNull, b.orNull) }, 2),
      StructType(Seq(StructField("id", LongType), StructField("s", StringType),
        StructField("blk", StringType))))

  private def rowSeq(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("edit distance: the auto dispatch and both distinct-domain tiers equal brute force") {
    import graft.ops.EditDistanceJoin
    var pairs = 0
    holds(8, 57L)(org.scalacheck.Prop.forAllNoShrink(stringCorpus,
        org.scalacheck.Gen.oneOf(1, 2)) { (rows, k) =>
      val df = stringDf(rows)
      val brute = rowSeq(EditDistanceJoin.selfJoinBrute(df, "id", "s", Seq("blk"), k))
      pairs += brute.size
      rowSeq(EditDistanceJoin.selfJoinDistinct(df, "id", "s", Seq("blk"), k)) == brute &&
        Seq(true, false).forall(small => rowSeq(EditDistanceJoin.selfJoinDistinctTier(
          df, "id", "s", Seq("blk"), k, q = 2, smallDomain = small)) == brute)
    })
    assert(pairs > 0, "no case produced a pair")
  }

  test("Jaro-Winkler: the auto dispatch and both tiers equal a brute in-block pair join") {
    import org.apache.spark.sql.functions._
    import graft.ops.StringSimJoin
    import graft.functions.StringExprs.jaroWinkler
    val keep = (c: org.apache.spark.sql.Column) => c >= 0.8
    var pairs = 0
    holds(8, 61L)(org.scalacheck.Prop.forAllNoShrink(stringCorpus) { rows =>
      val df = stringDf(rows)
      val a = df.select(col("id").as("a_id"), col("s").as("a_s"), col("blk"))
      val b = df.select(col("id").as("b_id"), col("s").as("b_s"), col("blk").as("b_blk"))
      val brute = rowSeq(a.join(b, col("blk") === col("b_blk") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("blk"),
          Det.round6(jaroWinkler(col("a_s"), col("b_s"))).as("score"))
        .filter(keep(col("score")))
        .orderBy("a_id", "b_id"))
      pairs += brute.size
      rowSeq(StringSimJoin.selfJoinDistinct(df, "id", "s", Seq("blk"), jaroWinkler, keep)) ==
        brute && Seq(true, false).forall(small => rowSeq(StringSimJoin.selfJoinDistinctTier(
          df, "id", "s", Seq("blk"), jaroWinkler, keep, smallDomain = small)) == brute)
    })
    assert(pairs > 0, "no case produced a pair")
  }

  /** 64-dim vectors (the LSH planes' width): random, exact copies,
    * near-copies with a few coordinates nudged, blends with a random
    * vector (cosine ≈ 0.6–0.85 to their base, where banding misses some
    * pairs), and NULL vectors.
    */
  private val vectorCorpus: org.scalacheck.Gen[List[Option[Vector[Double]]]] = {
    import org.scalacheck.Gen
    val vec = Gen.listOfN(64, Gen.choose(-1.0, 1.0)).map(_.toVector)
    for {
      base <- Gen.choose(2, 12).flatMap(Gen.listOfN(_, vec))
      copies <- Gen.someOf(base)
      nudges <- Gen.listOfN(copies.size, Gen.listOfN(3, Gen.zip(Gen.choose(0, 63),
        Gen.choose(-0.1, 0.1))))
      blends <- Gen.someOf(base)
      noise <- Gen.listOfN(blends.size, Gen.zip(vec, Gen.oneOf(0.6, 1.0, 1.3)))
      dups <- Gen.someOf(base)
      nulls <- Gen.choose(0, 2)
    } yield {
      val near = copies.zip(nudges).map { case (v, ns) =>
        ns.foldLeft(v) { case (acc, (i, d)) => acc.updated(i, acc(i) + d) } }
      val mixed = blends.zip(noise).map { case (v, (r, f)) =>
        v.zip(r).map { case (x, y) => x + f * y } }
      new scala.util.Random(base.size).shuffle(
        (base ++ near ++ mixed ++ dups).map(Some(_)) ++ List.fill(nulls)(None)).toList
    }
  }

  private def vectorDf(vs: Seq[Option[Vector[Double]]]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(vs.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v.orNull) }, 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))

  /** The operators' cosine, op for op: sequential dot products, norms as
    * the square root of a vector's dot with itself.
    */
  private def cosine(a: Vector[Double], b: Vector[Double]): Double = {
    def dot(x: Vector[Double], y: Vector[Double]) = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("cosinePairs: auto and exact equal brute force, banded is a subset with equal sims") {
    import graft.ops.VectorSearch
    var pairs = 0
    holds(8, 67L)(org.scalacheck.Prop.forAllNoShrink(vectorCorpus,
        org.scalacheck.Gen.oneOf(0.5, 0.6, 0.8, 0.95)) { (vs, tau) =>
      val df = vectorDf(vs)
      val ids = vs.zipWithIndex.collect { case (Some(v), i) => (i.toLong, v) }
      val brute = (for {
        (a, va) <- ids; (b, vb) <- ids if a < b
        sim = round6(cosine(va, vb)) if sim >= tau
      } yield Seq[Any](a, b, sim)).sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      pairs += brute.size
      val truth = brute.map(r => (r(0), r(1)) -> r(2)).toMap
      val banded = rowSeq(VectorSearch.cosinePairsLsh(df, "vec_id", "embedding", tau))
      rowSeq(VectorSearch.cosinePairs(df, "vec_id", "embedding", tau)) == brute &&
        rowSeq(VectorSearch.cosinePairsExact(df, "vec_id", "embedding", tau)) == brute &&
        banded.forall(r => truth.get((r(0), r(1))).contains(r(2)))
    })
    assert(pairs > 0, "no case produced a pair")
  }

  test("cosineKnnAuto: auto and exact equal brute-force top-k, banded emits true sims") {
    import org.apache.spark.sql.functions._
    import graft.ops.VectorSearch
    holds(8, 73L)(org.scalacheck.Prop.forAllNoShrink(vectorCorpus,
        org.scalacheck.Gen.choose(0, 12), org.scalacheck.Gen.choose(1, 4)) { (vs, m, k) =>
      val df = vectorDf(vs)
      val pred = col("id") < m
      val all = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      // top-k by (raw sim desc, NULL sims last, neighbor id), as the window ranks
      val brute = all.filter(_._1 < m).flatMap { case (q, qv) =>
        val ranked = all.filter(_._1 != q).map { case (n, nv) =>
          (n, for (a <- qv; b <- nv) yield cosine(a, b))
        }.sortBy { case (n, s) => (s.isEmpty, -s.getOrElse(0.0), n) }
        ranked.take(k).zipWithIndex.map { case ((n, s), r) =>
          Seq[Any](q, r + 1, n, s.map(x => round6(x): Any).orNull) }
      }
      val sims = (for {
        (a, Some(va)) <- all; (b, Some(vb)) <- all if a != b
      } yield (a, b) -> round6(cosine(va, vb))).toMap
      val banded = rowSeq(VectorSearch.lshCosineKnn(df, "vec_id", "embedding", pred, k))
      rowSeq(VectorSearch.cosineKnnAuto(df, "vec_id", "embedding", pred, k)) == brute &&
        rowSeq(VectorSearch.cosineKnn(df, "vec_id", "embedding", pred, k)) == brute &&
        banded.forall(r =>
          sims.get((r(0).asInstanceOf[Long], r(2).asInstanceOf[Long])).contains(r(3)))
    })
  }
}
