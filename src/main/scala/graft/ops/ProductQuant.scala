package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Det

/** Product quantization (Jégou, Douze & Schmid, TPAMI 2011) — the vector
  * compression behind every billion-scale ANN index (FAISS IVF-PQ): split
  * each `dim`-vector into `m` subvectors, learn a tiny k-means codebook PER
  * SUBSPACE, and store each vector as `m` small codes (k ≤ 256 — the
  * paper's 8-bit setting; assignment runs through the `graft_pq_encode`
  * kernel, whose codebook is one flattened literal child, so the
  * expression tree stays constant-size in m·k).
  * Completes this library's ANN family — hyperplane LSH (q54),
  * IVF (q56), int8 scalar quantization (q116) — with the member that trades
  * 4·dim bytes for m at query-ranking quality scalar quantization can't
  * reach.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - TRAINING holds only the codebook on the driver — m·k·(dim/m) = k·dim
  *    doubles, the same O(model) footprint as [[VectorSearch.kmeansFit]] —
  *    and each Lloyd round is ONE distributed pass: every subspace's
  *    assignment happens in the same codegen projection (m·k literal
  *    subvector distances), and every subspace's M-step shares one
  *    partial+final aggregation keyed `(subspace, code, dim)`.
  *  - ENCODING is a pure per-row map pass (no shuffle, no join): one
  *    `graft_pq_encode` kernel node emits all m codes as an `array<int>`.
  *  - ADC QUERIES never touch raw vectors: the per-query distance table
  *    (m·k floats) folds into ONE literal lookup array, so scoring a row is
  *    m integer indexes + adds — a codegen projection over the code column,
  *    top-k via TakeOrderedAndProject. The raw-vector column can be cold
  *    storage.
  *
  * Determinism: codebooks seed from the lowest-id rows, means follow the
  * ROUND(,6)/exact-DECIMAL protocol, argmin ties break to the lowest code,
  * so codes and rankings are partitioning-invariant (pinned in
  * ProductQuantSpec).
  */
object ProductQuant {

  /** Codebook: `centers(s)(c)` = subspace `s`'s codeword `c` (length
    * dim/m). `k` may shrink below the requested size if clusters empty out
    * during training (per-subspace, mirroring kmeansFit).
    */
  final case class PqModel(m: Int, subDim: Int, centers: Vector[Vector[Seq[Double]]]) {
    require(centers.length == m && centers.forall(_.nonEmpty))
    def dim: Int = m * subDim
  }

  /** Flatten the codebook (subspace, code, dim)-major for the
    * [[graft.functions.PqOps]] kernel, padding shrunken subspace
    * codebooks to the uniform max by REPEATING that subspace's first
    * center — a duplicate at a higher index can never win the kernel's
    * strict-< argmin, so padding is assignment-neutral.
    */
  private def flatPadded(model: PqModel): (Seq[Double], Int) = {
    val kMax = model.centers.map(_.length).max
    val flat = model.centers.flatMap { sub =>
      (sub ++ Vector.fill(kMax - sub.length)(sub.head)).flatten
    }
    (flat, kMax)
  }

  /** All m code assignments for vector column `v` — ONE kernel node
    * (`graft_pq_encode`) whose codebook is a single flattened literal
    * child, so the expression tree is constant-size in m·k (the reason
    * k can honestly reach the PQ-paper 256; an expression-inlined argmin
    * measured ~10⁵ nodes there). Distances ROUND(,6), ties → lowest code
    * — bit-identical to the inlined formulation, pinned in
    * ProductQuantSpec.
    */
  private def codesFor(v: Column, model: PqModel): Column = {
    val (flat, kMax) = flatPadded(model)
    graft.functions.PqExprs.pqEncode(v, typedLit(flat), lit(model.m), lit(kMax))
  }

  /** Train per-subspace codebooks with `iters` Lloyd rounds, seeded from
    * the `k` lowest-id rows' subvectors. One distributed pass per round;
    * only the codebook crosses the driver.
    */
  def train(emb: DataFrame, idCol: String, vecCol: String,
            m: Int, k: Int, iters: Int): PqModel = {
    // k reaches the PQ-paper 256 (8-bit codes) because assignment runs
    // through the graft_pq_encode KERNEL — the codebook is one flattened
    // literal child, not m·k inlined struct expressions (which blow past
    // codegen method limits around k≈64; see PqExprs scaladoc).
    require(m >= 1 && k >= 2 && k <= 256, s"m=$m k=$k")
    require(iters >= 1, s"iters=$iters")
    val v = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val dim = v.select(size(col("v"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m

    val seedRows = v.orderBy("id").limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    require(seedRows.length == k, s"corpus has ${seedRows.length} rows < k=$k")
    var model = PqModel(m, subDim, Vector.tabulate(m)(s =>
      seedRows.toVector.map(r => r.slice(s * subDim, (s + 1) * subDim))))

    var it = 0
    while (it < iters) {
      // ONE pass: the kernel assigns all m codes in one projection, then
      // each row emits m (subspace, code, subvector) triples; the shared
      // M-step aggregation computes every subspace's means
      val assigned = v
        .select(col("v"), codesFor(col("v"), model).as("codes"))
        // a malformed row (null element, wrong dimension) yields null
        // codes from the kernel: excluded from training rather than
        // poisoning the M-step with a null code group
        .filter(col("codes").isNotNull)
        .select(explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), element_at(col("codes"), s + 1).as("code"),
            slice(col("v"), s * subDim + 1, subDim).as("sv"))): _*)).as("a"))
        .select(col("a.s"), col("a.code"), posexplode(col("a.sv")).as(Seq("d", "x")))
      val means = assigned
        .groupBy("s", "code", "d")
        .agg(round(sum(round(col("x"), 6).cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("mean"))
        .collect()
      model = PqModel(m, subDim, Vector.tabulate(m) { s =>
        means.filter(_.getInt(0) == s)
          .groupBy(_.getInt(1)).toVector.sortBy(_._1)
          .map { case (_, rows) =>
            rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
          }
      })
      require(model.centers.forall(_.length >= 2),
        s"a subspace collapsed to < 2 codewords at round $it")
      it += 1
    }
    model
  }

  /** Encode every vector to its `m` codes — a pure map pass through the
    * `graft_pq_encode` kernel.
    */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             model: PqModel): DataFrame = {
    val v = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    v.select(col("id"), codesFor(col("v"), model).as("codes"))
  }

  /** Train a COARSE quantizer — one codebook over the WHOLE vector — by
    * running the subspace machinery with m = 1: `nlist` centroids for IVF
    * cell routing. (PQ and coarse quantization are the same algorithm at
    * different granularities; reusing the m=1 case keeps one Lloyd
    * implementation.)
    */
  def trainCoarse(emb: DataFrame, idCol: String, vecCol: String,
                  nlist: Int, iters: Int): PqModel =
    train(emb, idCol, vecCol, m = 1, k = nlist, iters = iters)

  /** Encode with an IVF routing cell attached: `(id, cell, codes)`. Still
    * a pure map pass — the cell argmin and the m code argmins share the
    * same codegen projection.
    */
  def encodeWithCell(emb: DataFrame, idCol: String, vecCol: String,
                     coarse: PqModel, pq: PqModel): DataFrame = {
    require(coarse.m == 1 && coarse.dim == pq.dim,
      s"coarse must be an m=1 model of dim ${pq.dim}")
    val v = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    v.select(col("id"),
      element_at(codesFor(col("v"), coarse), 1).as("cell"),
      codesFor(col("v"), pq).as("codes"))
  }

  /** IVF-PQ search (the FAISS `use_residual=false` composition): rank only
    * the members of the `nprobe` coarse cells nearest the query, by ADC.
    * The cell shortlist is computed here from the O(nlist·dim) coarse
    * model, so the scan sees a literal `cell IN (...)` predicate — with a
    * cell-partitioned/bucketed layout that predicate is partition pruning,
    * and the scan cost drops from the corpus to the probed cells. Probing
    * every cell (`nprobe = nlist`) is EXACTLY [[adcTopK]]; smaller nprobe
    * trades the recall pinned in ProductQuantSpec. (Residual PQ —
    * codebooks over `v − coarse(v)` — is the next refinement; it buys
    * accuracy at the cost of a per-row data-dependent center subtraction,
    * which would put an interpreted lambda in the encode path. Documented
    * trade, deliberately not taken here.)
    */
  def ivfAdcTopK(encoded: DataFrame, query: Seq[Double], coarse: PqModel,
                 pq: PqModel, nprobe: Int, n: Int): DataFrame = {
    require(coarse.m == 1, "coarse must be an m=1 model")
    require(nprobe >= 1, s"nprobe=$nprobe")
    val cells = coarse.centers(0).zipWithIndex.map { case (c, i) =>
      (c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum, i)
    }.sorted.take(nprobe).map(_._2)
    adcTopK(encoded.filter(col("cell").isin(cells: _*)), query, pq, n)
  }

  /** Asymmetric-distance top-`n` for one query vector over an encoded
    * relation: the m·k distance table is computed once here and folded
    * into a flat literal array (`table(s·k + code)`), so scoring is m
    * lookups + adds per row with the raw vectors never read.
    */
  def adcTopK(encoded: DataFrame, query: Seq[Double], model: PqModel,
              n: Int): DataFrame = {
    require(query.length == model.dim,
      s"query dim ${query.length} != model dim ${model.dim}")
    val k = model.centers.map(_.length).max
    val table: Seq[Double] = (0 until model.m).flatMap { s =>
      (0 until k).map { c =>
        if (c < model.centers(s).length)
          model.centers(s)(c).zipWithIndex.map { case (x, i) =>
            val d = x - query(s * model.subDim + i); d * d
          }.sum
        else Double.MaxValue // padding for shrunken subspace codebooks
      }
    }
    val lut = typedLit(table)
    val dist = (0 until model.m).map(s =>
      element_at(lut, element_at(col("codes"), s + 1) + lit(s * k) + 1))
      .reduce(_ + _)
    encoded.select(col("id"), Det.round6(dist).as("adc_dist"))
      .orderBy(col("adc_dist"), col("id"))
      .limit(n)
  }
}
