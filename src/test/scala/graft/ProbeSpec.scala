package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Probe` names a query by key, short key or unique prefix. The
  * inventory is an unordered map, so a first-prefix-match lookup picks a
  * query by hash order (`q10` found `q105_negative_sampling`).
  */
class ProbeSpec extends AnyFunSuite {
  private val keys = SparkEntry.queries.keySet

  test("query names resolve by key, then short key, then unique prefix; anything else fails") {
    assert(keys.groupBy(_.takeWhile(_ != '_')).forall(_._2.size == 1),
      "two queries share a short key")
    assert(Probe.resolve("q10", keys) === "q10_join_semi")
    assert(Probe.resolve("q12", keys) === "q12_join_theta_range")
    assert(Probe.resolve("q105_negative_sampling", keys) === "q105_negative_sampling")
    assert(Probe.resolve("q40_cos", keys) === "q40_cosine_knn")
    // keys are zero-padded (q04_…): `q4` is no short key, and it prefixes q40–q49
    val ambiguous = intercept[IllegalArgumentException](Probe.resolve("q4", keys))
    assert(ambiguous.getMessage.contains("q40_cosine_knn") &&
      ambiguous.getMessage.contains("10 queries"), ambiguous.getMessage)
    intercept[IllegalArgumentException](Probe.resolve("nosuchquery", keys))
  }
}
