package graftbench

/** The benchmark's own test of its generators: the same seed gives the same
  * input fingerprint, and a different seed a different one.
  */
object SelfTest {
  def apply(): Unit = {
    def batch(seed: Long, i: Int) = Gen.dedupBatch(seed, i, 500, 0.2)
    val a = batch(1, 1)
    check(a.fingerprint == batch(1, 1).fingerprint, "same seed, same batch fingerprint")
    check(a.fingerprint != batch(2, 1).fingerprint, "another seed, another batch fingerprint")
    check(a.fingerprint != batch(1, 2).fingerprint, "another batch, another fingerprint")
    check(a.planted.nonEmpty && a.skew > 64, s"batch is skewed with planted copies (skew ${a.skew})")
    println("selftest: ok")
  }

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new AssertionError(s"selftest failed: $what")
}
