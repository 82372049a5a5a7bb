package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Det

/** MinHash + LSH approximate set-similarity (Broder 1997; banding analysis
  * as in Mining of Massive Datasets ch. 3).
  *
  * Signature: h_i(S) = min over tokens t of (a_i·x(t) + b_i) mod p, with
  * x(t) = xxhash64(t) mod p and p = 2^31 − 1. The (a_i, b_i) come from a
  * fixed-seed splitmix sequence — plan-time constants, so a signature is a
  * pure deterministic function of the token set. E[matches/n] = J(A,B).
  *
  * LSH: the n-hash signature is cut into b bands of r rows; a pair is a
  * candidate iff some band hashes equal. Candidate generation is an
  * equi-join on (band index, band hash) — a hash shuffle, never all-pairs.
  * With n=32, b=8, r=4: P(candidate | J=0.8) = 1−(1−0.8⁴)⁸ ≈ 0.985, and
  * P(candidate | J=0.3) ≈ 0.06 — the classic S-curve.
  *
  * No SQL oracle (engine hash functions differ); verified by property
  * tests against the exact join's ground truth (fixed seeds ⇒ stable).
  */
object MinHash extends org.apache.spark.internal.Logging {
  val P: Long = 2147483647L // 2^31 − 1, prime; keeps a·x within a Long

  /** Fixed-seed splitmix64 stream → (a, b) hash parameters, a ∈ [1,p), b ∈ [0,p). */
  private[graft] def params(n: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    var x = seed
    def next(): Long = {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      z >>> 1 // non-negative
    }
    Seq.fill(n)((next() % (P - 1) + 1, next() % P))
  }

  /** Adds a `sig` column: array<long> of nHashes min-hash values over the
    * distinct tokens of `textCol`.
    *
    * Plan shape (since r6): ONE per-row codegen'd expression
    * ([[graft.functions.SigOps.minhashSig]]) over the token array — a
    * document's tokens are already co-located in its row, so the signature
    * needs no data movement at all. The previous explode → nHashes-`min`
    * aggregation paid a docs × nHashes shuffle plus an N-column agg tree
    * that AQE re-canonicalized per stage; rounds 1–5 carried it because the
    * HOF `array_min`-of-`transform` alternative was ~4× slower — the native
    * expression beats both. Signatures are bit-identical (the kernel calls
    * Spark's own XxHash64 with the same seed and replicates `pmod`), so the
    * pinned recall/error constants in MinHashSpec are unchanged.
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 nHashes: Int = 32, keep: Seq[String] = Nil): DataFrame = {
    val flat: Seq[Long] = params(nHashes).flatMap { case (a, b) => Seq(a, b) }
    SimilarityJoin.tokenized(docs, textCol)
      // a doc with no usable token has no signature — mirror the explode
      // formulation, where such a doc never reached the aggregation.
      // Filtered on the CHEAP equivalent predicate: split() never emits
      // null elements, so sig is null iff tokens is empty — filtering on
      // sig itself would push the sketch kernel into the scan's DataFilters
      // and compute every signature twice (once to filter, once to project)
      .filter(size(col("tokens")) > 0)
      .select(col(idCol).as("id") +: keep.map(col) :+
        graft.functions.SigExprs.minhashSig(col("tokens"), typedLit(flat)).as("sig"): _*)
  }

  /** MinHash signature of each GROUP's union token set: since
    * min over A∪B = min(min over A, min over B), the union's signature is
    * the element-wise min of the member documents' signatures — computed
    * distributed as posexplode(sig) → (group, pos) min → re-pack. Output:
    * (groupCols…, sig array<long>). State is groups × nHashes longs —
    * corpus-slice sketches this small can sit on the driver at any scale.
    */
  def groupSignatures(docs: DataFrame, groupCols: Seq[String], textCol: String,
                      nHashes: Int = 32): DataFrame = {
    val flat: Seq[Long] = params(nHashes).flatMap { case (a, b) => Seq(a, b) }
    SimilarityJoin.tokenized(docs, textCol)
      .filter(size(col("tokens")) > 0)
      .select(groupCols.map(col) :+
        graft.functions.SigExprs.minhashSig(col("tokens"), typedLit(flat)).as("sig"): _*)
      .select(groupCols.map(col) :+ posexplode(col("sig")).as(Seq("pos", "v")): _*)
      .groupBy(groupCols.map(col) :+ col("pos"): _*)
      .agg(min(col("v")).as("mv"))
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("pos"), col("mv")))).as("sv"))
      .withColumn("sig", col("sv.mv"))
      .drop("sv")
  }

  /** Pairwise estimated Jaccard between corpus SLICES (e.g. sources,
    * languages): the dataset-overlap / cross-source-contamination view.
    * Output ((a_…groupCols), (b_…groupCols), est_sim ROUND 6), one row per
    * unordered slice pair, totally ordered. The slice-sig relation is tiny
    * (slices × nHashes), so the pair join broadcasts; the HOF match count
    * is fine here — it runs once per slice pair, not per document.
    */
  def groupSimilarity(docs: DataFrame, groupCols: Seq[String], textCol: String,
                      nHashes: Int = 32): DataFrame = {
    require(groupCols.nonEmpty)
    // struct comparison, NOT a concatenated string key: concatenation is
    // ambiguous for multi-column groups (("ab","c") vs ("a","bc")) — a
    // collision makes a_key < b_key false in BOTH orientations and silently
    // drops that slice pair; struct ordering is lexicographic per field
    val sigs = groupSignatures(docs, groupCols, textCol, nHashes)
      .withColumn("_key", struct(groupCols.map(col): _*))
    val a = sigs.select(col("_key").as("a_key") +: col("sig").as("a_sig") +:
      groupCols.map(c => col(c).as(s"a_$c")): _*)
    val b = sigs.select(col("_key").as("b_key") +: col("sig").as("b_sig") +:
      groupCols.map(c => col(c).as(s"b_$c")): _*)
    val nMatch = size(filter(zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y),
      (m: Column) => m))
    a.join(broadcast(b), col("a_key") < col("b_key"))
      .withColumn("est_sim",
        graft.Det.round6(nMatch.cast("double") / lit(nHashes.toDouble)))
      .select(groupCols.map(c => col(s"a_$c")) ++
        groupCols.map(c => col(s"b_$c")) :+ col("est_sim"): _*)
      .orderBy((groupCols.map(c => col(s"a_$c")) ++
        groupCols.map(c => col(s"b_$c"))): _*)
  }

  /** LSH candidate pairs with MinHash-estimated Jaccard.
    *
    * Output (a_id, b_id, est_sim ROUND 6) for candidate pairs (≥1 equal
    * band, equal block keys, a < b) with est_sim ≥ tauEst, totally ordered.
    *
    * Plan shape: the signatures and their band hashes are checkpointed
    * ONCE ([[signedBands]]), and both sides of the banded candidate join
    * read that checkpoint, so tokenization and the sketch kernel run once.
    * The row count observed on the checkpoint job, times the exploded
    * band row's width, decides the join: within
    * `spark.sql.autoBroadcastJoinThreshold` (> 0) one side is broadcast,
    * otherwise both sides shuffle on (band, hash, blocks). The decision is
    * logged at INFO under this object's logger (`graft.ops.MinHash`).
    */
  def lshPairs(docs: DataFrame, idCol: String, textCol: String,
               blockCols: Seq[String], tauEst: Double,
               nHashes: Int = 32, nBands: Int = 8): DataFrame = {
    val signed = signedBands(docs, idCol, textCol, blockCols, nHashes, nBands)
    logInfo(signed.decision("lshPairs", if (signed.broadcastable) "broadcast" else "shuffle"))

    def side(p: String) = signed.df.select(
      col("id").as(s"${p}_id") +: col("sig").as(s"${p}_sig") +:
        blockCols.map(c => col(c).as(s"${p}_$c")) :+
        posexplode(col("bands")).as(Seq(s"${p}_band", s"${p}_bh")): _*)

    val a = side("a")
    val b = side("b")
    val blockEq = blockCols.map(c => col(s"a_$c") === col(s"b_$c"))
    val cond = (Seq(col("a_band") === col("b_band"), col("a_bh") === col("b_bh"),
      col("a_id") < col("b_id")) ++ blockEq).reduce(_ && _)

    val nMatch = size(filter(zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y),
      (m: Column) => m))
    // estimate computed BEFORE the pair dedup so the dedup shuffle carries
    // (a_id, b_id, est) instead of two nHashes-long signatures per row
    a.join(if (signed.broadcastable) broadcast(b) else b, cond)
      .withColumn("est_sim", nMatch.cast("double") / lit(nHashes.toDouble))
      .groupBy("a_id", "b_id").agg(max(col("est_sim")).as("est_sim"))
      .filter(col("est_sim") >= tauEst)
      .select(col("a_id"), col("b_id"), Det.round6(col("est_sim")).as("est_sim"))
      .orderBy("a_id", "b_id")
  }

  /** [[lshPairs]]' index: (id, blocks…, sig, bands) checkpointed once,
    * `bands` holding the nBands band hashes. `bytes` estimates the
    * exploded band relation: nBands rows (id, sig, blocks…, band, hash)
    * per document.
    */
  private[graft] def signedBands(docs: DataFrame, idCol: String, textCol: String,
                                 blockCols: Seq[String], nHashes: Int,
                                 nBands: Int): Materialized = {
    require(nHashes % nBands == 0)
    val rows = nHashes / nBands
    val signed = signatures(docs, idCol, textCol, nHashes, keep = blockCols)
      .withColumn("bands", array((0 until nBands).map(bi =>
        hash(slice(col("sig"), bi * rows + 1, rows))): _*))
    // the sig array: a length word, a null-bit word, one word per hash
    val bandRow = Materialized.rowBytes(4 + blockCols.size,
      lit(16L + 8L * nHashes) + Materialized.blockBytes(blockCols))
    Materialized(signed, "minhash_bands", bandRow * nBands)
  }
}
