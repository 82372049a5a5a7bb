package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{GraphOps, MinHash, SimHash, SimilarityJoin}

/** `dedup-cold`: a stream of fresh seeded batches, each written to a new
  * parquet directory (untimed) and run through the dedup pipeline: exact-hash
  * dedup, the probe-dispatched Jaccard self-join, MinHash LSH pairs, SimHash
  * pairs, then connected components over the Jaccard pairs. Every input file
  * is new, so no planning memo can hit.
  */
final class DedupCold(workDir: String, seed: Long, nDocs: Int, dupShare: Double,
                      tau: Double = 0.8) extends Workload {
  private val blocks = Seq("lang", "source")
  private val seen = collection.mutable.ArrayBuffer[Gen.Batch]()

  def setup(spark: SparkSession): Unit =
    spark.range(100000).selectExpr("sum(id)").collect()

  def unit(spark: SparkSession, probe: Probe, index: Int): Seq[OpResult] = {
    val batch = Gen.dedupBatch(seed, index + 1, nDocs, dupShare)
    seen += batch
    val dir = s"$workDir/batches/b${index + 1}"
    import spark.implicits._
    batch.docs.toDS().coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def docs: DataFrame = graft.Tables.documents(spark, dir)

    val byId = batch.docs.map(d => d.doc_id -> Gen.tokens(d.text)).toMap
    // exact duplicates by content hash; the survivors feed the similarity ops
    def survivors: DataFrame = {
      val d = docs
      d.join(d.groupBy(sha2(col("text"), 256).as("h")).agg(min("doc_id").as("doc_id")),
        Seq("doc_id")).drop("h")
    }
    var pairs = Array.empty[(Long, Long)]

    def checkPairs(b: Gen.Batch, sets: Map[Long, Set[String]]): Option[String] = {
      val emitted = pairs.map { case (a, c) => (math.min(a, c), math.max(a, c)) }.toSet
      val low = pairs.find { case (a, c) => Gen.jaccard(sets(a), sets(c)) < tau - 1e-9 }
      // every planted near-copy that survives the exact stage, with true J >= tau
      val kept = b.docs.groupBy(_.text).values.map(_.map(_.doc_id).min).toSet
      val missed = b.planted.find { case (o, d) =>
        kept(o) && kept(d) && Gen.jaccard(sets(o), sets(d)) >= tau + 1e-9 &&
          !emitted((math.min(o, d), math.max(o, d)))
      }
      low.map(p => s"pair $p has J < $tau").orElse(missed.map(p => s"planted pair $p missing"))
    }

    def checkComponents(rows: Array[Row]): Option[String] = {
      // union-find over the emitted pairs: the components graft returns
      // must be exactly these, each labelled by its minimum id
      val parent = collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, c) =>
        val (ra, rc) = (find(a), find(c))
        if (ra != rc) parent(math.max(ra, rc)) = math.min(ra, rc)
      }
      val want = parent.keys.map(k => k -> find(k)).toMap
      val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (got == want) None
      else Some(s"components differ: ${got.size} labelled nodes, expected ${want.size}")
    }

    val exactDups = batch.docs.groupBy(_.text).values.map(_.size - 1).sum.toLong

    val exact = Workload.op(probe, "ops.exact")(survivors)(Digest.of, Digest.run) {
      case (n, _) =>
        (if (n != nDocs - exactDups) Some(s"$n survivors, expected ${nDocs - exactDups}")
         else None, n)
    }

    val jac = Workload.op(probe, "ops.jaccard")(
      SimilarityJoin.jaccardSelfAuto(survivors, "doc_id", "text", blocks, tau))(
      df => df.select("a_id", "b_id"), _.collect()) { rows =>
      pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
      (checkPairs(batch, byId), pairs.length.toLong)
    }

    def pairOp(family: String, df: => DataFrame) =
      Workload.op(probe, family)(df)(_.select("a_id", "b_id"), _.collect()) { rows =>
        val bad = rows.find(r => r.getLong(0) >= r.getLong(1) ||
          !byId.contains(r.getLong(0)) || !byId.contains(r.getLong(1)))
        (bad.map(r => s"malformed pair $r"), rows.length.toLong)
      }
    val mh = pairOp("ops.minhash",
      MinHash.lshPairs(survivors, "doc_id", "text", blocks, 0.5))
    val sh = pairOp("ops.simhash",
      SimHash.hammingPairs(survivors, "doc_id", "text", blocks, 3))

    val cc = Workload.op(probe, "ops.components")(
      GraphOps.connectedComponents(pairs.toSeq.toDF("a_id", "b_id"), "a_id", "b_id"))(
      identity, _.collect()) { rows =>
      (checkComponents(rows), rows.length.toLong)
    }

    Seq(exact, jac, mh, sh, cc)
  }

  def inputs: Seq[(String, String)] = {
    val b = seen.drop(Main.WarmUnits) // the warm-up batches
    Seq(
      "batch_docs" -> nDocs.toString,
      "batches" -> b.size.toString,
      "vocab_skew" -> Json.arr(b.map(x => Json.num(x.skew)).toSeq),
      "planted_share" -> Json.arr(b.map(x => Json.num(x.plantedShare)).toSeq),
      "fingerprints" -> Json.arr(b.map(x => Json.str(x.fingerprint.take(16))).toSeq))
  }

}
