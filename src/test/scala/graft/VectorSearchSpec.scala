package graft

import org.apache.spark.sql.functions._
import graft.ops.VectorSearch

class VectorSearchSpec extends SparkSpec {

  private def knn(k: Int) = VectorSearch.cosineKnn(
    Tables.embeddings(spark, sf0001), "vec_id", "embedding", col("id") < 50, k)

  test("exact cosine knn: k rows per query, sims in [-1,1] descending per query") {
    val rows = knn(3).collect()
    assert(rows.length === 50 * 3)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.forall(_._2.length == 3))
    byQ.values.foreach { rs =>
      val sims = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.toSeq === sims.sortBy(-_).toSeq)
      assert(sims.forall(s => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9))
    }
    // never self as neighbor
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("LSH cosine knn re-ranks exactly: any returned neighbor's sim matches brute force") {
    val exact = knn(10).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val approx = VectorSearch.lshCosineKnn(
      Tables.embeddings(spark, sf0001), "vec_id", "embedding", col("id") < 50, 3)
      .collect()
    assert(approx.nonEmpty)
    // precision is 1: any (q, n) pair the LSH path returns that brute force
    // also ranked must carry the identical rounded similarity
    approx.foreach { r =>
      exact.get((r.getLong(0), r.getLong(2))).foreach { s =>
        assert(math.abs(s - r.getDouble(3)) < 1e-9)
      }
    }
  }

  test("IVF recall@3 >= 0.35 at nProbe/nCells = 1/2, exact re-rank sims") {
    // random unit vectors are again adversarial: a true neighbor's cell is
    // only weakly correlated with the query's probed cells, so recall ~
    // probe fraction + correlation bonus; clustered real embeddings
    // concentrate neighbors in the probed cells
    val exact = knn(3).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val approx = VectorSearch.ivfCosineKnn(
      Tables.embeddings(spark, sf0001), "vec_id", "embedding", col("id") < 50, 3,
      nCells = 16, nProbe = 8).collect()
    val recall = approx.count(r => exact.contains((r.getLong(0), r.getLong(2)))).toDouble / exact.size
    assert(recall >= 0.35, s"IVF recall@3 = $recall")
    approx.foreach { r =>
      exact.get((r.getLong(0), r.getLong(2))).foreach { s =>
        assert(math.abs(s - r.getDouble(3)) < 1e-9)
      }
    }
  }

  /** `n` synthetic 64-dim vectors (vec_id, embedding): enough rows to
    * cross a dispatch bound, planned but never scored.
    */
  private def synthetic(n: Long) = spark.range(n).select(col("id").as("vec_id"),
    array_repeat(lit(1.0f), 64).as("embedding"))

  private def hasProduct(df: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("NestedLoop") || plan.contains("Cartesian")
  }

  test("cosinePairs guard: above-bound inputs dispatch to the banded plan, no product") {
    // at the real bound: MaxExactPairRows rows plan the exact product, one
    // row more plans the banded equi-join (the probe reads at most
    // bound + 1 ids and prunes the vector column)
    val bound = VectorSearch.MaxExactPairRows
    def pairs(n: Long) = VectorSearch.cosinePairs(synthetic(n), "vec_id", "embedding", 0.4)
    assert(hasProduct(pairs(bound)), s"$bound rows should take the exact product")
    assert(!hasProduct(pairs(bound + 1L)), s"${bound + 1} rows must not plan a product")
    // below bound: exact nested-loop product is the intended (fastest) plan
    val emb = Tables.embeddings(spark, sf0001)
    assert(hasProduct(VectorSearch.cosinePairs(emb, "vec_id", "embedding", 0.4)))
    // banded output: precision 1 (subset of exact pairs, identical sims),
    // recall pinned on this corpus
    val exact = VectorSearch.cosinePairsExact(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val banded = VectorSearch.cosinePairsLsh(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(banded.nonEmpty)
    banded.foreach { case (k, s) =>
      assert(exact.contains(k), s"false positive pair $k")
      assert(math.abs(exact(k) - s) < 1e-9)
    }
    val recall = banded.count { case (k, _) => exact.contains(k) }.toDouble / exact.size
    assert(recall >= 0.5, s"banded pair recall = $recall")
  }

  test("cosineKnnAuto guard: over-bound query sets route to the banded LSH plan") {
    // at the real bound: MaxBroadcastKnnQueries query ids plan the exact
    // broadcast product, one more plans the banded LSH join
    val bound = VectorSearch.MaxBroadcastKnnQueries
    def knnOver(n: Long) = VectorSearch.cosineKnnAuto(synthetic(n), "vec_id", "embedding",
      col("id") >= 0, 3)
    assert(hasProduct(knnOver(bound)), s"$bound queries should take the exact product")
    assert(!hasProduct(knnOver(bound + 1L)), s"${bound + 1} queries must not plan a product")
    val emb = Tables.embeddings(spark, sf0001)
    val pred = col("id") < 100
    // within the bound: the probe confirms broadcastability → exact path,
    // byte-identical to cosineKnn (this is q40's graded plan)
    val auto = VectorSearch.cosineKnnAuto(emb, "vec_id", "embedding", pred, 3)
    val exact = VectorSearch.cosineKnn(emb, "vec_id", "embedding", pred, 3)
    assert(auto.collect().map(_.toString).toSeq === exact.collect().map(_.toString).toSeq)
    // re-rank semantics intact on the banded path: every emitted sim is the
    // exact cosine of its pair (precision 1; only recall is approximate)
    val lsh = VectorSearch.lshCosineKnn(emb, "vec_id", "embedding", pred, 3).collect()
    assert(lsh.nonEmpty)
    val truth = VectorSearch.cosineKnn(emb, "vec_id", "embedding", pred, 1500)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(truth.contains(key) && math.abs(truth(key) - r.getDouble(3)) < 1e-9,
        s"banded pair $key sim mismatch")
    }
  }

  test("kmeansAssign matches brute-force argmax, breaks ties low, guards bad k (r8)") {
    val emb = Tables.embeddings(spark, sf0001)
    val assigned = VectorSearch.kmeansAssign(emb, "vec_id", "embedding", col("id") < 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // brute force: every vector × every centroid through the same rounded
    // cosine, argmax by (sim desc, centroid id asc)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cents = vecs.filter(_._1 < 8)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(assigned.size === vecs.size)
    vecs.foreach { case (id, v) =>
      val best = cents.map { case (cid, c) => (cid, cos(v, c)) }
        .minBy { case (cid, s) => (-s, cid) }
      assert(assigned(id) === best, s"vec $id")
    }
    // each centroid is its own nearest centroid at sim 1.0
    cents.keys.foreach(cid => assert(assigned(cid) === (cid, 1.0)))
    // loud guards: a degenerate or unbounded centroid predicate never
    // silently produces a wrong model
    intercept[IllegalArgumentException] {
      VectorSearch.kmeansAssign(emb, "vec_id", "embedding", col("id") < 1)
    }
    val over = intercept[IllegalArgumentException] {
      VectorSearch.kmeansAssign(synthetic(VectorSearch.MaxCentroids + 1L),
        "vec_id", "embedding", lit(true))
    }
    assert(over.getMessage.contains(
      s"matched ${VectorSearch.MaxCentroids + 1} rows (need 2..${VectorSearch.MaxCentroids})"))
  }

  test("kmeansUpdate means match brute-force per-cluster element means (r8)") {
    val emb = Tables.embeddings(spark, sf0001)
    val assigned = VectorSearch.kmeansAssign(emb, "vec_id", "embedding", col("id") < 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val byCluster = vecs.groupBy { case (id, _) => assigned(id) }
    val upd = VectorSearch.kmeansUpdate(emb, "vec_id", "embedding", col("id") < 8)
      .collect()
    // k clusters × 64 dims, every cluster non-empty (each centroid is its
    // own nearest), sizes consistent with the E-step
    assert(upd.length === byCluster.size * 64)
    def r6(x: Double): BigDecimal = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    upd.foreach { r =>
      val (cid, dim, n, m) = (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
      val members = byCluster(cid)
      assert(n === members.size, s"cluster $cid size")
      val sum = members.map { case (_, v) => r6(v(dim - 1)) }.sum
      val expected = r6(sum.toDouble / n).toDouble
      assert(m === expected, s"cluster $cid dim $dim")
    }
  }

  test("kmeansFit: iteration 1 assigns against the q101 means; more rounds never degrade (r8)") {
    val emb = Tables.embeddings(spark, sf0001)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // seeds are vec_ids 0..7, so fit ordinals coincide with q101's cids:
    // the 1-iteration fit must equal a brute-force argmax against the
    // q101 mean vectors
    val model = VectorSearch.kmeansUpdate(emb, "vec_id", "embedding", col("id") < 8)
      .collect().groupBy(_.getLong(0)).map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(3)).toArray
      }
    val fit1 = VectorSearch.kmeansFit(emb, "vec_id", "embedding", col("id") < 8, 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    vecs.foreach { case (id, v) =>
      val best = model.toSeq.map { case (cid, c) => (cid, cos(v, c)) }
        .minBy { case (cid, s) => (-s, cid) }
      assert(fit1(id) === best, s"vec $id")
    }
    // Lloyd monotonicity (spherical form): the mean assignment similarity
    // must not degrade with more rounds (tolerance covers the ROUND(,6)
    // protocol's quantization)
    def meanSim(iters: Int): Double = {
      val rows = VectorSearch.kmeansFit(emb, "vec_id", "embedding", col("id") < 8, iters)
        .collect().map(_.getDouble(2))
      rows.sum / rows.length
    }
    val (m1, m3) = (meanSim(1), meanSim(3))
    assert(m3 >= m1 - 1e-4, s"meanSim degraded: $m1 -> $m3")
    intercept[IllegalArgumentException] {
      VectorSearch.kmeansFit(emb, "vec_id", "embedding", col("id") < 8, 0)
    }
  }

  test("LSH recall@3 against exact top-3 is >= 0.5 on random unit vectors") {
    // random unit vectors are the adversarial case for hyperplane LSH (all
    // cosines near 0, neighbors barely separated): 16 planes / 4 bands
    // measures ~0.39 here. 32 planes / 8 bands clears 0.5 — and the
    // recall-vs-candidate-fraction dial is exactly what a 100 TB deployment
    // tunes. On clustered real embeddings recall is far higher.
    val exact = knn(3).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = VectorSearch.lshCosineKnn(
      Tables.embeddings(spark, sf0001), "vec_id", "embedding", col("id") < 50, 3,
      nPlanes = 32, nBands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@3 = $recall")
  }
}
