package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. The program sees only what these produce: the
  * same (seed, index) always yields the same input, whose SHA-256
  * fingerprint is recorded with the run.
  */
object Gen {
  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
                       n_chars: Long)

  /** One dedup batch and the properties that decide graft's dispatch. */
  final case class Batch(docs: IndexedSeq[Doc], planted: IndexedSeq[(Long, Long)],
                         fingerprint: String) {
    /** max / avg document frequency over the distinct tokens (computed here,
      * independently of graft's own skew probe) */
    lazy val skew: Double = {
      val df = docs.flatMap(d => tokens(d.text)).groupBy(identity).view.mapValues(_.size)
      df.values.max.toDouble / (df.values.sum.toDouble / df.size)
    }
    def plantedShare: Double = planted.size.toDouble / docs.size
  }

  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr")
  val Sources: IndexedSeq[String] = IndexedSeq("src0", "src1", "src2", "src3")

  /** The token set graft's set-similarity operators use: distinct words. */
  def tokens(text: String): Set[String] = text.split(" +").toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  def fingerprint(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def word(rank: Int): String = "w" + Integer.toString(rank, 36)

  /** Zipf(s) over `vocab` ranks as a cumulative table. */
  private def zipfCdf(vocab: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1, s))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    cdf.map(_ / cdf.last)
  }
  private lazy val cdf = zipfCdf(Vocab, ZipfS)
  val Vocab = 20000
  val ZipfS = 1.0

  private def zipfWord(rng: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    word(if (i >= 0) i else -i - 1)
  }

  /** A dedup batch: `nDocs` documents of 20–59 Zipf-drawn words, of which a
    * `dupShare` share are near-copies of an earlier document (same block
    * columns, one to three words replaced, dropped or added). Ids are
    * unique across the batches of one run.
    */
  def dedupBatch(seed: Long, index: Int, nDocs: Int, dupShare: Double): Batch = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + index)
    val docs = new Array[Doc](nDocs)
    val planted = IndexedSeq.newBuilder[(Long, Long)]
    val base = index.toLong * 10000000L
    for (i <- 0 until nDocs) {
      val id = base + i
      val doc =
        if (i > 0 && rng.nextDouble() < dupShare) {
          val orig = docs(rng.nextInt(i))
          val ws = orig.text.split(" ").toBuffer
          for (_ <- 0 until 1 + rng.nextInt(3)) rng.nextInt(3) match {
            case 0 => ws(rng.nextInt(ws.size)) = zipfWord(rng)
            case 1 if ws.size > 2 => ws.remove(rng.nextInt(ws.size))
            case _ => ws.insert(rng.nextInt(ws.size + 1), zipfWord(rng))
          }
          planted += (orig.doc_id -> id)
          val text = ws.mkString(" ")
          Doc(id, text, orig.lang, orig.source, text.length.toLong)
        } else {
          val text = Seq.fill(20 + rng.nextInt(40))(zipfWord(rng)).mkString(" ")
          Doc(id, text, Langs(rng.nextInt(Langs.size)),
            Sources(rng.nextInt(Sources.size)), text.length.toLong)
        }
      docs(i) = doc
    }
    Batch(docs.toIndexedSeq, planted.result(),
      fingerprint(docs.iterator.map(d => s"${d.doc_id}|${d.text}|${d.lang}|${d.source}")))
  }
}
