package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate fingerprints (Charikar, STOC 2002; Manku et al.,
  * WWW 2007 for the dedup application).
  *
  * A document's 64-bit signature packs the signs of per-bit vote sums over
  * its token hashes: bit i is 1 iff Σ_tokens (±1 by bit i of xxhash64(tok))
  * is positive. Near-identical token sets flip few votes, so Hamming
  * distance approximates set difference.
  *
  * Plan shape mirrors [[MinHash.signatures]]: one per-row codegen'd
  * expression over the document's token array — zero shuffles, 8 bytes of
  * signature per document — at 100 TB the signature relation is small
  * enough to bucket-join or even broadcast per block.
  *
  * Candidate pairs come from banding the 64 bits into 4×16-bit bands
  * (equi-join on band value — any pair within Hamming ≤ 3 of 64 collides on
  * ≥1 whole band by pigeonhole when the 3 flips hit ≤3 bands; wider radii
  * trade off via more/narrower bands). Exact Hamming verification uses
  * bit_count(a XOR b).
  */
object SimHash extends org.apache.spark.internal.Logging {

  /** Adds a `sig` BIGINT column: 64-bit simhash over distinct tokens.
    *
    * Since r6 this is ONE per-row codegen'd expression
    * ([[graft.functions.SigOps.simhashSig]]) over the already-co-located
    * token array — no explode, no 64-conditional-sum aggregation, no
    * shuffle at all (the previous agg tree was also an AQE
    * re-canonicalization hazard; see LshOps). Signatures are bit-identical
    * (same XxHash64 seed, same vote rule), so every pinned recall constant
    * in PipelineSpec is unchanged.
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 keep: Seq[String] = Nil): DataFrame = {
    SimilarityJoin.tokenized(docs, textCol)
      // no usable token → no signature, mirroring the explode formulation;
      // the cheap equivalent of sig.isNotNull (see MinHash.signatures for
      // why filtering on sig itself double-computes the kernel at the scan)
      .filter(size(col("tokens")) > 0)
      .select(col(idCol).as("id") +: keep.map(col) :+
        graft.functions.SigExprs.simhashSig(col("tokens")).as("sig"): _*)
  }

  /** Near-dup candidate pairs within `maxHamming` (of 64), blocked by
    * `blockCols`, banded `nBands` × (64/nBands) bits for candidate
    * generation. Output (a_id, b_id, hamming), totally ordered.
    *
    * Recall contract: pigeonhole guarantees recall 1.0 only for pairs
    * within Hamming ≤ nBands − 1 (that many flips can dirty at most
    * nBands − 1 bands, leaving one clean). A `maxHamming` ABOVE that is an
    * approximate query — true pairs whose flips touch every band are
    * dropped, with collision probability decaying as distance grows.
    * Guaranteed recall at radius r needs nBands ≥ r + 1, i.e. r = 16 needs
    * 17+ bands of ≤ 3 bits — at which point nearly everything collides and
    * candidates go quadratic, so wide radii are approximate BY DESIGN
    * (Manku et al. run r = 3 with 4 bands for exactly this reason — and so
    * does q48). Measured radius-16 recall is pinned in PipelineSpec.
    *
    * Plan shape: as in [[MinHash.lshPairs]], the signatures and band
    * values are checkpointed ONCE ([[signedBands]]) and both join sides
    * read the checkpoint; the observed row count times the band row's
    * width picks a broadcast or a shuffle candidate join against
    * `spark.sql.autoBroadcastJoinThreshold`, logged at INFO under
    * `graft.ops.SimHash`.
    */
  def hammingPairs(docs: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], maxHamming: Int,
                   nBands: Int = 4): DataFrame = {
    val signed = signedBands(docs, idCol, textCol, blockCols, nBands)
    logInfo(signed.decision("hammingPairs", if (signed.broadcastable) "broadcast" else "shuffle"))

    def side(p: String) = signed.df.select(
      col("id").as(s"${p}_id") +: col("sig").as(s"${p}_sig") +:
        blockCols.map(c => col(c).as(s"${p}_$c")) :+
        posexplode(col("bands")).as(Seq(s"${p}_band", s"${p}_bv")): _*)

    val a = side("a")
    val b = side("b")
    val blockEq = blockCols.map(c => col(s"a_$c") === col(s"b_$c"))
    val cond = (Seq(col("a_band") === col("b_band"), col("a_bv") === col("b_bv"),
      col("a_id") < col("b_id")) ++ blockEq).reduce(_ && _)

    a.join(if (signed.broadcastable) broadcast(b) else b, cond)
      .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))))
      .groupBy("a_id", "b_id").agg(max(col("hamming")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy("a_id", "b_id")
  }

  /** [[hammingPairs]]' index: (id, blocks…, sig, bands) checkpointed once,
    * `bands` holding the nBands (64/nBands)-bit band values. `bytes`
    * estimates the exploded band relation: nBands rows
    * (id, sig, blocks…, band, value) per document.
    */
  private[graft] def signedBands(docs: DataFrame, idCol: String, textCol: String,
                                 blockCols: Seq[String], nBands: Int): Materialized = {
    require(nBands >= 1 && 64 % nBands == 0,
      s"nBands must divide 64, got $nBands")
    val w = 64 / nBands
    val mask = if (w == 64) -1L else (1L << w) - 1
    val signed = signatures(docs, idCol, textCol, keep = blockCols)
      .withColumn("bands", array((0 until nBands).map(b =>
        shiftright(col("sig"), b * w).bitwiseAND(lit(mask))): _*))
    val bandRow = Materialized.rowBytes(4 + blockCols.size, Materialized.blockBytes(blockCols))
    Materialized(signed, "simhash_bands", bandRow * nBands)
  }
}
