package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Det

/** Vector similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[cosineKnn]]: exact brute-force top-k — the correctness baseline.
  *    The query side is broadcast (it is the small side by construction);
  *    every data partition streams against it, so the plan is a
  *    block-partitioned matrix product with no data-side shuffle until the
  *    final per-query top-k. This shape survives 100 TB as long as the
  *    query set stays broadcastable.
  *  - [[lshCosineKnn]]: the scale path — random-hyperplane LSH (Charikar,
  *    STOC 2002) with banded buckets. Candidates come from an equi-join on
  *    (band index, band signature), so the quadratic stream-vs-broadcast
  *    scan is replaced by a hash shuffle; exact cosine re-ranks candidates.
  *    Approximate (recall < 1), hence no SQL oracle — recall is pinned by
  *    tests against [[cosineKnn]] ground truth.
  *
  * All arithmetic is double: float32 inputs are cast once, and both the dot
  * product and the norms are sequential `aggregate` folds so the result is
  * a deterministic function of the input bits (matches the DuckDB oracle's
  * evaluation to the last ulp in practice; outputs are ROUND(,6)).
  */
object VectorSearch {

  // codegen'd native expression — see graft.functions.VectorExprs for why
  // the HOF aggregate/zip_with formulation was replaced (interpreted lambda
  // per element, ~4× slower at sf0.1); identical accumulation order
  private def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dot(a, b)

  private def norm(v: Column): Column = graft.functions.VectorExprs.norm(v)

  /** Exact cosine top-k: for each row satisfying `queryPred`, the k nearest
    * neighbors (excluding self) by cosine similarity, ties broken by
    * neighbor id. Output (vec_id, rnk, neighbor, sim) totally ordered.
    */
  def cosineKnn(emb: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, k: Int): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = v.filter(queryPred)
      .select(col("id").as("vec_id"), col("v").as("qv"), col("nrm").as("qn"))
    val n = emb.sparkSession.sessionState.conf.numShufflePartitions
    // explicit-count spread: the data side probes the broadcast queries,
    // and a single-file scan would stream every dot product on one core
    val data = v.select(col("id").as("neighbor"), col("v").as("dv"), col("nrm").as("dn"))
      .repartition(n, col("neighbor"))

    val w = Window.partitionBy("vec_id").orderBy(col("simraw").desc, col("neighbor"))
    data.join(broadcast(q), col("vec_id") =!= col("neighbor"))
      .withColumn("simraw", dot(col("qv"), col("dv")) / (col("qn") * col("dn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("rnk"), col("neighbor"), Det.round6(col("simraw")).as("sim"))
      .orderBy("vec_id", "rnk")
  }

  /** Max query rows [[cosineKnn]] may broadcast: the exact plan's whole
    * scale story is "the query side fits in a broadcast"; beyond this bound
    * that premise fails and only the banded LSH plan is sane.
    */
  val MaxBroadcastKnnQueries: Int = 100000

  /** Max centroid rows [[kmeansAssign]] will inline, and so the bound on
    * the driver-side centroid collect. A k-means/IVF model is O(k·dim) — a
    * plan-time constant, never data-sized — so the cap is a loud-failure
    * guard against a mis-scoped predicate, not a tuning knob.
    */
  val MaxCentroids: Int = 1024

  /** Single-pass nearest-centroid assignment — the k-means "E step" and the
    * IVF coarse-assignment primitive. `centroidPred` (over the renamed `id`
    * column) selects the centroid rows; they are collected to the driver
    * (bounded by [[MaxCentroids]], loud `require` beyond it) and inlined as
    * codegen literals — exactly how distributed k-means ships its model
    * (centers are O(k·dim); Spark MLlib broadcasts collected centers each
    * iteration), so this is the one driver-side collect that IS the
    * at-scale design, not a shortcut. The per-row argmax is then a fused
    * chain of k codegen dot products folded through `greatest` over
    * `(sim, -centroid_id)` structs: NO join, NO explode, and NO shuffle —
    * at 100 TB the assignment is a pure map pass over the scan, and the
    * centroid-side norms constant-fold at plan time.
    *
    * Ties (equal ROUND(,6) sim) break to the LOWEST centroid id; sims are
    * rounded BEFORE comparison so an engine-portable oracle's argmax
    * agrees. Output: one row per input vector, `(id, centroid_id, sim)`.
    */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
                   centroidPred: Column): DataFrame =
    assignToCentroids(emb, idCol, vecCol, centroidPred)
      .select(col("id"), col("centroid_id"), col("sim"))

  /** [[kmeansAssign]] with the (double-cast) input vector still attached:
    * `(id, v, centroid_id, sim)`. r20: consumers that need both the
    * assignment and the vector (SemDeDup's within-cluster pair join) were
    * joining `kmeansAssign`'s output back to the embedding table on id —
    * a data×data shuffle join re-attaching a column the assignment's
    * map pass had just projected away. The assignment is map-only, so
    * carrying `v` through costs nothing and the join disappears.
    */
  def kmeansAssignWithVectors(emb: DataFrame, idCol: String, vecCol: String,
                              centroidPred: Column): DataFrame =
    assignToCentroids(emb, idCol, vecCol, centroidPred)
      .select(col("id"), col("v"), col("centroid_id"), col("sim"))

  /** Shared E-step core: per-row nearest centroid with the input vector
    * still attached, so [[kmeansUpdate]] can recompute centers without a
    * join back to the data.
    */
  private def assignToCentroids(emb: DataFrame, idCol: String, vecCol: String,
                                centroidPred: Column): DataFrame = {
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    assignFromModel(v, centroidRows(v, centroidPred).map(r => (r.getLong(0), r.getSeq[Double](1))))
  }

  /** The `centroidPred` rows of `v` in id order: the one driver-side
    * collect, loud beyond [[MaxCentroids]] rows and below 2.
    */
  private def centroidRows(v: DataFrame, centroidPred: Column): Array[Row] = {
    val rows = v.filter(centroidPred).orderBy("id").limit(MaxCentroids + 1).collect()
    require(rows.length >= 2 && rows.length <= MaxCentroids,
      s"k-means centroid predicate matched ${rows.length} rows (need 2..$MaxCentroids) — " +
        "a k-means model is a plan-time constant; re-scope the predicate")
    rows
  }

  /** Distributed k-means M-step: the element-wise mean vector of every
    * cluster produced by [[kmeansAssign]]'s E-step, emitted in long form
    * `(centroid_id, dim, n_members, mean_val)` (dim is 1-based). One Lloyd
    * iteration is this composed with the E-step; callers loop driver-side,
    * collecting each round's k×dim result as the next round's model —
    * state O(k·dim), exactly MLlib's iteration shape.
    *
    * Plan: the map-only assignment feeds ONE `posexplode` (a dim-fold data
    * expansion that partial aggregation compacts back to k·dim rows per
    * partition before the only shuffle) into a partial+final agg keyed
    * (centroid, dim) — no join anywhere. Determinism: elements ROUND(,6)
    * then summed as exact DECIMAL (round-terms-then-sums), so the means
    * are engine-exact.
    */
  def kmeansUpdate(emb: DataFrame, idCol: String, vecCol: String,
                   centroidPred: Column): DataFrame =
    meanByCluster(assignToCentroids(emb, idCol, vecCol, centroidPred))
      .orderBy("centroid_id", "dim")

  /** k·dim element-wise means of an assignment carrying `(centroid_id, v)`
    * — q101's plan: one posexplode, partial agg compacts the dim-fold
    * expansion to k·dim rows per partition before the only shuffle.
    */
  private def meanByCluster(assigned: DataFrame): DataFrame =
    assigned
      .select(col("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("centroid_id"), (col("pos") + 1).as("dim"))
      .agg(
        count(lit(1)).as("n_members"),
        round(sum(round(col("x"), 6).cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("mean_val"))

  /** Full Lloyd loop over [[kmeansAssign]]/[[kmeansUpdate]]'s primitives:
    * seeds from the `centroidPred` rows, then `iters` rounds of
    * assign → element-wise mean → re-seed. Between rounds ONLY the
    * O(k·dim) model crosses the driver (collected from the M-step's k·dim
    * aggregated rows — the same shape MLlib collects per iteration); the
    * data is re-scanned per round as a pure map pass, so the loop is
    * 100 TB-safe by construction: per-round cost is one scan + one k·dim
    * aggregation, state is the model.
    *
    * Returns the final assignment `(id, centroid_id, sim)` where
    * `centroid_id` is the ORDINAL of the learned center (0..k−1 in seed
    * order — after the first update centers are means, not input rows).
    * Deterministic: seeds are data rows fixed by the predicate, every
    * round's means use the ROUND(,6)/DECIMAL protocol, argmax ties break
    * to the lowest ordinal. No query calls it: q100/q101 grade one assign
    * and one update round, and this is the loop a caller runs past them.
    */
  def kmeansFit(emb: DataFrame, idCol: String, vecCol: String,
                centroidPred: Column, iters: Int): DataFrame = {
    require(iters >= 1, s"kmeansFit needs iters >= 1, got $iters")
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val seed = centroidRows(v, centroidPred).map(_.getSeq[Double](1))
    // ordinal ids: centers stop being input rows after the first update
    var model: Array[(Long, Seq[Double])] =
      seed.zipWithIndex.map { case (c, i) => (i.toLong, c) }
    var round = 0
    while (round < iters) {
      val means = meanByCluster(assignFromModel(v, model)).collect()
      // a seed cluster can empty out after a round: its ordinal simply
      // drops from the model (k shrinks), matching MLlib's behavior
      model = means.groupBy(_.getLong(0)).toArray.sortBy(_._1).map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq)
      }
      require(model.length >= 2,
        s"kmeansFit collapsed to ${model.length} non-empty cluster(s) at round $round")
      round += 1
    }
    assignFromModel(v, model)
      .select(col("id"), col("centroid_id"), col("sim"))
  }

  /** E-step against an explicit in-memory model (shared by the public
    * entry points; `v` must already be `(id, v: array<double>)`). Each
    * centroid becomes a codegen literal; `norm(lv)` constant-folds at plan
    * time, so the per-row cost is k fused dot products.
    */
  private def assignFromModel(v: DataFrame,
                              model: Array[(Long, Seq[Double])]): DataFrame = {
    val scored = model.map { case (cid, c) =>
      val lv = typedLit(c)
      struct(
        Det.round6(dot(col("v"), lv) / (norm(col("v")) * norm(lv))).as("sim"),
        lit(-cid).as("negid"))
    }
    val best = greatest(scored.toIndexedSeq: _*)
    v.select(col("id"), col("v"),
      (-best.getField("negid")).as("centroid_id"),
      best.getField("sim").as("sim"))
  }

  /** Size-dispatched cosine top-k — closes the q40-family scale gap the way
    * [[cosinePairs]] does for the pair form: a bounded
    * `limit(max+1).count()` probe on the PREDICATE-FILTERED id projection
    * routes a broadcastable query set to the exact [[cosineKnn]] and an
    * over-bound one to [[lshCosineKnn]] (banded candidates, exact cosine
    * re-rank — precision stays 1, recall is the pinned approximation).
    * `queryPred` must reference only the renamed `id` column (both
    * downstream paths share that contract). The probe counts at most
    * [[MaxBroadcastKnnQueries]] + 1 ids, and only the id column, so it stays
    * cheap on any corpus; a caller that wants one path calls it directly.
    */
  def cosineKnnAuto(emb: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, k: Int,
                    nPlanes: Int = 16, nBands: Int = 4, dim: Int = 64): DataFrame =
    if (PlanStatMemo.boundedBy(
        emb.select(col(idCol).as("id")).filter(queryPred), MaxBroadcastKnnQueries))
      cosineKnn(emb, idCol, vecCol, queryPred, k)
    else lshCosineKnn(emb, idCol, vecCol, queryPred, k, nPlanes, nBands, dim)

  /** Deterministic pseudo-random hyperplanes: splitmix64-style sequence from
    * a fixed seed, mapped to [-1, 1). Plan-time constants — no runtime
    * nondeterminism ever enters the DataFrame.
    */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    var x = seed
    def next(): Double = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Seq.fill(nPlanes)(Seq.fill(dim)(next()))
  }

  /** IVF-style approximate cosine top-k: coarse quantization + probing.
    *
    * Every vector is assigned to its nearest of `nCells` fixed coarse
    * centroids (deterministic pseudo-random unit directions — a real
    * deployment would k-means them, but centroid CHOICE only affects
    * recall, not the plan shape, and fixed seeds keep the determinism
    * contract). A query probes the `nProbe` cells nearest to it; candidates
    * are an equi-join on cell id — the scan shrinks from N to
    * ~N·nProbe/nCells — and exact cosine re-ranks, so precision stays 1.
    *
    * This is the standard IVF layout at scale: the cell id becomes the
    * partitioning/bucketing key, so each probe touches only its cells'
    * partitions.
    */
  def ivfCosineKnn(emb: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, k: Int,
                   nCells: Int = 16, nProbe: Int = 4, dim: Int = 64): DataFrame = {
    val cents = hyperplanes(nCells, dim) // unit-direction surrogate centroids
    val n = emb.sparkSession.sessionState.conf.numShufflePartitions

    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    // per-vector cell scores in ONE fused codegen node (was nCells dot
    // columns — an AQE plan-churn hazard, see LshOps), reused for
    // assignment and probing
    val scored = v.withColumn("scores", graft.functions.HyperplaneExprs.hpScores(
      col("v"), typedLit(cents.flatten)))

    // data side: each vector lives in exactly its argmax cell
    val assigned = scored.withColumn("cell",
      expr("array_position(scores, array_max(scores)) - 1").cast("int"))
    val data = assigned
      .select(col("id").as("neighbor"), col("v").as("dv"), col("nrm").as("dn"), col("cell"))
      .repartition(n, col("cell"))

    // query side: explode the nProbe best cells
    val q = scored.filter(queryPred)
      .withColumn("probe", slice(reverse(array_sort(
        expr("zip_with(scores, sequence(0, size(scores) - 1), (s, i) -> struct(s, i))"))),
        1, nProbe))
      .select(col("id").as("vec_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(col("probe.i")).as("q_cell"))

    val w = Window.partitionBy("vec_id").orderBy(col("simraw").desc, col("neighbor"))
    data.join(q, col("cell") === col("q_cell") && col("vec_id") =!= col("neighbor"))
      .withColumn("simraw", dot(col("qv"), col("dv")) / (col("qn") * col("dn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("rnk"), col("neighbor"), Det.round6(col("simraw")).as("sim"))
      .orderBy("vec_id", "rnk")
  }

  /** Exact all-pairs cosine near-dup pairs: (a_id, b_id, sim) with
    * a_id < b_id and ROUND(sim, 6) ≥ tau, totally ordered. Quadratic by
    * construction (a nested-loop product) — correct and fastest below
    * [[MaxExactPairRows]] rows, a scale-killer above it; call [[cosinePairs]]
    * for the guarded dispatch.
    *
    * Norms are computed once per vector and carried through the join; the
    * threshold compares the ROUND(,6) value so the compared quantity is the
    * output quantity (ulp-level accumulation differences can't flip
    * inclusion against an oracle).
    */
  def cosinePairsExact(emb: DataFrame, idCol: String, vecCol: String,
                       tau: Double): DataFrame = {
    val n = emb.sparkSession.sessionState.conf.numShufflePartitions
    val v = emb.select(col(idCol).as("vid"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    val a = v.select(col("vid").as("a_id"), col("v").as("av"), col("nrm").as("an"))
      .repartition(n, col("a_id"))
    val b = v.select(col("vid").as("b_id"), col("v").as("bv"), col("nrm").as("bn"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("sim", Det.round6(dot(col("av"), col("bv")) / (col("an") * col("bn"))))
      .filter(col("sim") >= tau)
      .select(col("a_id"), col("b_id"), col("sim"))
      .orderBy("a_id", "b_id")
  }

  /** LSH-banded cosine near-dup pairs — the scale path of
    * [[cosinePairsExact]]: candidates from an equi-join on (band, band
    * value) exactly like [[lshCosineKnn]], exact cosine re-rank, so
    * precision is 1 (every emitted pair truly clears tau) and only recall
    * is approximate. Same output schema/ordering as the exact form.
    */
  def cosinePairsLsh(emb: DataFrame, idCol: String, vecCol: String, tau: Double,
                     nPlanes: Int = 32, nBands: Int = 8, dim: Int = 64): DataFrame = {
    require(nPlanes % nBands == 0, "nPlanes must divide into nBands")
    val planes = hyperplanes(nPlanes, dim)
    // one fused codegen node for the whole signature — see LshOps scaladoc
    // for why N per-plane dot columns are an AQE plan-churn hazard
    val bandsCol: Column = graft.functions.HyperplaneExprs.hpBands(
      col("v"), typedLit(planes.flatten), lit(nBands))

    val v = emb.select(col(idCol).as("vid"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("bands", bandsCol)
    def side(p: String) = v.select(
      col("vid").as(s"${p}_id"), col("v").as(s"${p}v"), col("nrm").as(s"${p}n"),
      posexplode(col("bands")).as(Seq(s"${p}_band", s"${p}_bv")))
    val n = emb.sparkSession.sessionState.conf.numShufflePartitions
    val a = side("a").repartition(n, col("a_band"), col("a_bv"))
    val b = side("b")
    // sim BEFORE the pair dedup (see lshCosineKnn): the dedup shuffle then
    // carries (id, id, sim), not two dim-double vectors per candidate
    a.join(b, col("a_band") === col("b_band") && col("a_bv") === col("b_bv")
        && col("a_id") < col("b_id"))
      .withColumn("simraw", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .groupBy("a_id", "b_id").agg(max(col("simraw")).as("simraw"))
      .withColumn("sim", Det.round6(col("simraw")))
      .filter(col("sim") >= tau)
      .select(col("a_id"), col("b_id"), col("sim"))
      .orderBy("a_id", "b_id")
  }

  /** Above this row count the exact all-pairs product is a scale-killer
    * (10k rows ≈ 5·10⁷ pairs is the workable ceiling for a quadratic plan;
    * beyond it the banded path's hash shuffle wins by orders of magnitude).
    */
  val MaxExactPairRows: Int = 10000

  /** Size-dispatched cosine near-dup pairs: a bounded `limit(max+1).count()`
    * probe (same protocol as SimilarityJoin.freqJoined — the limit caps the
    * probe's cost regardless of true input size) routes small inputs to the
    * exact product and everything else to the LSH-banded plan, so the
    * quadratic form can never be dispatched on an input where only the
    * banded path is sane. The probe reads at most [[MaxExactPairRows]] + 1
    * rows whatever the input size; a caller that wants one path calls
    * [[cosinePairsExact]] or [[cosinePairsLsh]] directly.
    */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String, tau: Double): DataFrame =
    if (PlanStatMemo.boundedBy(emb, MaxExactPairRows)) cosinePairsExact(emb, idCol, vecCol, tau)
    else cosinePairsLsh(emb, idCol, vecCol, tau)

  /** Approximate cosine top-k via random-hyperplane LSH.
    *
    * Signature = sign bits of `nPlanes` hyperplane projections, split into
    * `nBands` bands; two vectors are candidates iff they collide on ≥1 band
    * (posexplode → equi-join on (band, value)). Exact cosine then re-ranks
    * candidates, so precision is 1 and only recall is approximate.
    */
  def lshCosineKnn(emb: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, k: Int,
                   nPlanes: Int = 16, nBands: Int = 4, dim: Int = 64): DataFrame = {
    require(nPlanes % nBands == 0, "nPlanes must divide into nBands")
    val planes = hyperplanes(nPlanes, dim)

    // one fused codegen node for the whole banded signature (identical bit
    // layout to the unfused per-plane columns — see LshOps scaladoc)
    val bands: Column = graft.functions.HyperplaneExprs.hpBands(
      col("v"), typedLit(planes.flatten), lit(nBands))

    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("bands", bands)
    val q = v.filter(queryPred)
      .select(col("id").as("vec_id"), col("v").as("qv"), col("nrm").as("qn"),
        posexplode(col("bands")).as(Seq("band", "bval")))
    val n = emb.sparkSession.sessionState.conf.numShufflePartitions
    val data = v
      .select(col("id").as("neighbor"), col("v").as("dv"), col("nrm").as("dn"),
        posexplode(col("bands")).as(Seq("d_band", "d_bval")))
      .repartition(n, col("d_band"), col("d_bval"))

    val w = Window.partitionBy("vec_id").orderBy(col("simraw").desc, col("neighbor"))
    // cosine is computed BEFORE the pair dedup: a band-duplicate pair costs
    // one extra codegen'd 64-mult loop, but the dedup shuffle then carries
    // (id, id, sim) instead of two 64-double vectors per row
    data.join(q, col("band") === col("d_band") && col("bval") === col("d_bval")
        && col("vec_id") =!= col("neighbor"))
      .withColumn("simraw", dot(col("qv"), col("dv")) / (col("qn") * col("dn")))
      .groupBy("vec_id", "neighbor").agg(max(col("simraw")).as("simraw"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("rnk"), col("neighbor"), Det.round6(col("simraw")).as("sim"))
      .orderBy("vec_id", "rnk")
  }
}
