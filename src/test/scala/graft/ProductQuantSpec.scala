package graft

import org.apache.spark.sql.functions._
import graft.ops.ProductQuant

/** [[graft.ops.ProductQuant]]: the PQ/ADC member of the ANN family. Pins
  * the model shape, partitioning-invariance of training and encoding
  * (the determinism contract every graded operator carries), the
  * zero-quantization-error limit (codeword-exact vectors ADC to distance
  * 0 and rank themselves first), and the ADC recall against exact L2 on
  * the real embedding corpus.
  */
class ProductQuantSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf0001)

  test("model shape and code ranges; training is partitioning-invariant") {
    val a = ProductQuant.train(emb.repartition(3), "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    val b = ProductQuant.train(emb.repartition(11), "vec_id", "embedding",
      m = 8, k = 16, iters = 2)
    assert(a.m === 8 && a.subDim === 8 && a.dim === 64)
    assert(a.centers.forall(sub => sub.length >= 2 && sub.length <= 16))
    assert(a.centers.forall(_.forall(_.length === 8)))
    assert(a === b, "codebooks must not depend on partitioning")
    val codes = ProductQuant.encode(emb.repartition(5), "vec_id", "embedding", a)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.size === 500)
    codes.values.foreach { cs =>
      assert(cs.length === 8)
      cs.zipWithIndex.foreach { case (c, s) =>
        assert(c >= 0 && c < a.centers(s).length, s"code $c out of range in subspace $s")
      }
    }
    val codes2 = ProductQuant.encode(emb.repartition(13), "vec_id", "embedding", a)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes === codes2, "codes must not depend on partitioning")
  }

  test("zero quantization error: codeword-exact vectors ADC to 0 and rank first") {
    import spark.implicits._
    // 4 distinct prototype vectors repeated 10x: k-means with k=4 recovers
    // them exactly (each cluster's mean IS the prototype), so every
    // vector's reconstruction error is 0
    val protos = Seq(
      Seq.fill(8)(1.0), Seq.fill(8)(-1.0),
      (0 until 8).map(_.toDouble), (0 until 8).map(i => -i.toDouble))
    // ids interleave the prototypes so the k lowest-id SEED rows are the 4
    // DISTINCT prototypes (seeding 4 copies of one vector would tie every
    // assignment into code 0 and collapse the other clusters)
    val rows = for (p <- protos.indices; r <- 0 until 10)
      yield ((r * 4 + p).toLong, protos(p))
    val df = rows.toDF("vec_id", "embedding").repartition(6)
    val model = ProductQuant.train(df, "vec_id", "embedding", m = 2, k = 4, iters = 3)
    val enc = ProductQuant.encode(df, "vec_id", "embedding", model)
    for ((proto, pi) <- protos.zipWithIndex) {
      val top = ProductQuant.adcTopK(enc, proto, model, 40).collect()
      // the 10 copies of this prototype hold distance 0 at the head
      assert(top.take(10).forall(_.getDouble(1) === 0.0),
        s"proto $pi: ${top.take(10).mkString(", ")}")
      assert(top.take(10).map(_.getLong(0)).toSet ===
        (0 until 10).map(r => (r * 4 + pi).toLong).toSet)
      // and every other vector scores strictly positive
      assert(top.drop(10).forall(_.getDouble(1) > 0.0))
    }
  }

  test("the kernel equals the expression-inlined argmin bit-for-bit; 8-bit regime trains") {
    import org.apache.spark.sql.Column
    val model = ProductQuant.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 1)
    // the pre-kernel inlined formulation, reconstructed verbatim: per
    // (subspace, code) a struct of (-round6(dist2), -code), argmin via
    // greatest — the tie/rounding contract the kernel must reproduce
    def subDist2(v: Column, start: Int, center: Seq[Double]): Column =
      center.zipWithIndex.map { case (c, i) =>
        val d = element_at(v, start + i + 1) - lit(c); d * d
      }.reduce(_ + _)
    def inlinedCode(v: Column, s: Int): Column = {
      val scored = model.centers(s).zipWithIndex.map { case (c, code) =>
        struct((-round(subDist2(v, s * model.subDim, c), 6)).as("negd"),
          lit(-code).as("negc"))
      }
      (-greatest(scored: _*).getField("negc")).cast("int")
    }
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val viaInlined = v.select(col("vec_id"), array((0 until 8).map(s =>
      inlinedCode(col("v"), s)): _*).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val viaKernel = ProductQuant.encode(emb, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(viaKernel === viaInlined)
    // the regime the kernel exists for: 8-bit-scale codebooks train and
    // encode (the inlined form hit codegen limits near k=64)
    val big = ProductQuant.train(emb, "vec_id", "embedding", m = 4, k = 128, iters = 1)
    assert(big.centers.forall(sub => sub.length >= 2 && sub.length <= 128))
    val bigCodes = ProductQuant.encode(emb, "vec_id", "embedding", big).collect()
    assert(bigCodes.length === 500)
    bigCodes.foreach(r => r.getSeq[Int](1).zipWithIndex.foreach { case (c, s) =>
      assert(c >= 0 && c < big.centers(s).length)
    })
  }

  test("dirty inputs: null elements/geometry yield null, NaN never crashes, train skips bad rows") {
    val r = spark.sql("""
      SELECT graft_pq_encode(array(1.0d, CAST(NULL AS DOUBLE)),
                             array(1.0d, 0.0d, 0.0d, 1.0d), 1, 2) AS null_elem,
             graft_pq_encode(array(1.0d, 2.0d),
                             array(1.0d, CAST(NULL AS DOUBLE), 0.0d, 1.0d), 1, 2) AS null_cb,
             graft_pq_encode(array(1.0d, 2.0d, 3.0d),
                             array(1.0d, 0.0d, 0.0d, 1.0d), 2, 2) AS bad_geom,
             graft_pq_encode(array(CAST('NaN' AS DOUBLE), 1.0d),
                             array(1.0d, 0.0d, 0.0d, 1.0d), 1, 2) AS nan_vec
      """).collect()(0)
    assert(r.isNullAt(0), "null vector element must null out")
    assert(r.isNullAt(1), "null codebook slot must null out, not act as a 0.0 center")
    assert(r.isNullAt(2), "geometry mismatch must null out")
    assert(!r.isNullAt(3), "NaN distances must not crash — ties resolve to code 0")
    assert(r.getSeq[Int](3) === Seq(0))
    // training over a corpus with one malformed row completes, excluding it
    import spark.implicits._
    val clean = (0 until 40).map(i =>
      (i.toLong, Seq.tabulate(8)(d => (i % 4 + d).toDouble)))
      .toDF("vec_id", "embedding")
    val dirty = spark.sql(
      "SELECT 999L AS vec_id, array(1.0d, CAST(NULL AS DOUBLE), 3.0d, 4.0d," +
        " 5.0d, 6.0d, 7.0d, 8.0d) AS embedding")
    val model = ProductQuant.train(clean.unionByName(dirty),
      "vec_id", "embedding", m = 2, k = 4, iters = 2)
    assert(model.centers.forall(_.length >= 2))
    // the dirty row still encodes to null rather than a wrong code
    val enc = ProductQuant.encode(clean.unionByName(dirty), "vec_id", "embedding", model)
    assert(enc.filter(col("vec_id") === 999L).head.isNullAt(1))
    assert(enc.filter(col("codes").isNotNull).count() === 40)
  }

  test("encode is a shuffle-free map pass; ADC ranking is TakeOrderedAndProject") {
    val model = ProductQuant.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 1)
    val enc = ProductQuant.encode(emb, "vec_id", "embedding", model)
    val encPlan = enc.queryExecution.executedPlan.toString
    assert(!encPlan.contains("Exchange"), encPlan.take(1500))
    assert(!encPlan.contains("Join"), encPlan.take(1500))
    val topPlan = ProductQuant.adcTopK(enc, Seq.fill(64)(0.0), model, 5)
      .queryExecution.executedPlan.toString
    // bounded top-k: per-partition heaps + one driver merge — never a
    // global sort exchange
    assert(topPlan.contains("TakeOrderedAndProject"), topPlan.take(1500))
  }

  test("IVF routing: full probe IS adcTopK; partial probe keeps recall and prunes the scan") {
    import org.apache.spark.sql.Row
    val coarse = ProductQuant.trainCoarse(emb, "vec_id", "embedding", nlist = 16, iters = 2)
    val pq = ProductQuant.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val enc = ProductQuant.encodeWithCell(emb, "vec_id", "embedding", coarse, pq).cache()
    val cells = enc.select("cell").distinct().collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < coarse.centers(0).length))
    assert(cells.length >= 2, "coarse quantizer must actually partition the corpus")
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy("vec_id").limit(8).collect().map(r => r.getSeq[Double](1))
    for (q <- vecs) {
      // probing every cell must reproduce adcTopK EXACTLY (rows and order)
      val full: Seq[Row] =
        ProductQuant.ivfAdcTopK(enc, q, coarse, pq, nprobe = 16, n = 10).collect().toSeq
      val plain: Seq[Row] =
        ProductQuant.adcTopK(enc.select("id", "codes"), q, pq, n = 10).collect().toSeq
      assert(full === plain)
    }
    // partial probing: the true ADC winners live in the query's nearest
    // cells most of the time — recall@10 of nprobe=4/16 vs the full ADC
    // ranking. Training is deterministic so the measured mean is exact:
    // 0.6625 here (near-isotropic synthetic vectors scatter true
    // neighbors across cells — the worst case for IVF routing, same as
    // for PQ itself; bound sits under the measured value)
    val rec = vecs.map { q =>
      val full = ProductQuant.adcTopK(enc.select("id", "codes"), q, pq, 10)
        .collect().map(_.getLong(0)).toSet
      val probed = ProductQuant.ivfAdcTopK(enc, q, coarse, pq, nprobe = 4, n = 10)
        .collect().map(_.getLong(0)).toSet
      full.intersect(probed).size / 10.0
    }
    val mean = rec.sum / rec.length
    assert(mean >= 0.60, s"nprobe=4/16 recall vs full ADC: $mean ($rec)")
    // and the probe is a literal IN predicate the scan can prune on
    val plan = ProductQuant.ivfAdcTopK(enc, vecs.head, coarse, pq, 4, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("cell") && plan.contains(" IN "), plan.take(1500))
    enc.unpersist()
  }

  test("ADC recall@10 vs exact L2 on the real corpus") {
    val model = ProductQuant.train(emb, "vec_id", "embedding", m = 16, k = 32, iters = 2)
    val enc = ProductQuant.encode(emb, "vec_id", "embedding", model).cache()
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val queries = vecs.keys.toSeq.sorted.take(20)
    val recalls = queries.map { qid =>
      val q = vecs(qid)
      val exact = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) =>
          (id, v.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      val adc = ProductQuant.adcTopK(enc, q, model, 11).collect()
        .map(_.getLong(0)).filter(_ != qid).take(10).toSet
      exact.intersect(adc).size / 10.0
    }
    enc.unpersist()
    val mean = recalls.sum / recalls.length
    // synthetic near-isotropic embeddings are PQ's WORST case (no cluster
    // structure to exploit); training is fully deterministic, so the
    // measured means are exact: 0.325 at (m=8,k=16), 0.50 at (m=16,k=32) —
    // vs ~0.02 for random ranking over 500 vectors. Bound sits a margin
    // under the 0.50 this config measures.
    assert(mean >= 0.40, s"mean ADC recall@10 $mean (per-query: $recalls)")
  }
}
