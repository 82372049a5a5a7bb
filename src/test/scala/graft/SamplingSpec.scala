package graft

import graft.ops.Sampling

class SamplingSpec extends SparkSpec {

  test("stratified hash sample: per-stratum fractions realized, default drops") {
    val docs = Tables.documents(spark, sf001)
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val langs = perLang.keys.toSeq.sorted
    val fracs = Map(langs.head -> 1.0, langs(1) -> 0.5)
    val sampled = Sampling.stratifiedByHash(docs, "lang", fracs,
      defaultFraction = 0.0, idCols = Seq("doc_id"))
    val got = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // fraction 1.0 keeps everything, default 0.0 drops whole strata
    assert(got(langs.head) === perLang(langs.head))
    assert(langs.drop(2).forall(l => !got.contains(l)), got.toString)
    // 0.5 stratum within binomial tolerance (n≈100 → 3σ ≈ 15pp)
    val f = got(langs(1)).toDouble / perLang(langs(1))
    assert(math.abs(f - 0.5) < 0.2, s"stratum fraction $f")
    // pure filter: no exchange in the plan
    assert(!sampled.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("q72: stratified sample counts are deterministic and track declared fractions") {
    val perLang = Tables.documents(spark, sf001).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out1 = SparkEntry.queries("q72_sample_stratified")(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val out2 = SparkEntry.queries("q72_sample_stratified")(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(out1.toSeq === out2.toSeq, "content-hash sampling must be run-stable")
    val got = out1.toMap
    // de is declared 1.0 → exact; en 0.5 / zh 0.25 / default 0.1 within 3σ
    assert(got("de") === perLang("de"))
    for ((lang, f) <- Seq("en" -> 0.5, "zh" -> 0.25, "es" -> 0.1, "fr" -> 0.1)) {
      val n = perLang(lang).toDouble
      val tol = 3.0 * math.sqrt(f * (1 - f) / n) + 1e-9
      val realized = got.getOrElse(lang, 0L).toDouble / n
      assert(math.abs(realized - f) <= tol, s"$lang realized $realized target $f tol $tol")
    }
  }
}
