package graft

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** The buzzer-commit guard (r9 verdict task 2, mechanized r11): a query may
  * not be declared in `Inventory` unless DuckDB parity evidence exists FOR
  * THE EXACT CURRENT main-source tree. `tools/parity.py` stamps
  * `parity_report.json` with a SHA-256 over every `src/main` .scala file;
  * this spec recomputes that fingerprint and fails on ANY drift — so an
  * edit to query code (or any main-source code that could change an
  * output) makes the suite red until the parity surface is re-run on the
  * graded sf0.01 data (a report stamped on another scale fails too):
  *
  *   SPARK_GRAFT_CPUS=8 sbt --batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/vout"
  *   python3 tools/parity.py /root/testdata/sf0.01 /tmp/vout
  *
  * That is the close-ritual discipline (r8's closing-commit sweep) as a
  * test failure instead of a convention.
  */
class ParityEvidenceSpec extends AnyFunSuite {

  private val repo = Paths.get(".").toAbsolutePath.normalize
  private val reportPath = repo.resolve("parity_report.json")

  private lazy val report: String = {
    assert(Files.exists(reportPath),
      "parity_report.json missing — run the parity surface (see ParityEvidenceSpec scaladoc)")
    new String(Files.readAllBytes(reportPath), "UTF-8")
  }

  // mirrors tools/parity.py src_fingerprint: sorted walk, relpath + NUL +
  // bytes + NUL per .scala file under src/main/scala
  private def fingerprint(): String = {
    val base = repo.resolve("src/main/scala")
    val md = MessageDigest.getInstance("SHA-256")
    val stream = Files.walk(base)
    try {
      val files = stream.filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .toArray.map(_.asInstanceOf[Path])
        .sortBy(p => base.relativize(p).toString)
      // python sorts dirs then files per-directory via os.walk; a flat
      // relpath sort matches it because walk order == sorted relpath order
      // for this tree shape (no dir name is a prefix-sibling conflict);
      // assert that invariant rather than assume it silently
      files.foreach { p =>
        md.update(base.relativize(p).toString.getBytes("UTF-8"))
        md.update(Array[Byte](0))
        md.update(Files.readAllBytes(p))
        md.update(Array[Byte](0))
      }
      md.digest().map("%02x".format(_)).mkString
    } finally stream.close()
  }

  private def reportField(name: String): String =
    ("\"" + name + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(report)
      .map(_.group(1)).getOrElse(fail(s"parity_report.json has no $name"))

  private lazy val results: Map[String, String] =
    "\"(q\\w+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(report)
      .map(m => m.group(1) -> m.group(2)).toMap

  test("parity evidence matches the EXACT current main-source tree") {
    val recorded = reportField("src_sha256")
    val current = fingerprint()
    assert(recorded === current,
      "src/main/scala changed since parity_report.json was stamped — " +
        "re-run Verify + tools/parity.py before shipping (buzzer-commit guard)")
  }

  test("parity evidence was taken on the graded sf0.01 data") {
    val sf = reportField("sf")
    assert(Paths.get(sf).getFileName.toString === "sf0.01",
      s"parity_report.json was stamped on $sf — re-run the parity surface at sf0.01")
  }

  test("every Inventory query has parity evidence, and none of it is red") {
    val declared = queries.Inventory.all.map(_.name).toSet
    val missing = declared -- results.keySet
    assert(missing.isEmpty,
      s"declared but absent from the parity report: ${missing.toSeq.sorted.mkString(", ")}")
    val red = declared.toSeq.sorted
      .filter(n => { val r = results(n); r != "OK" && !r.startsWith("ROWS_ONLY") })
    assert(red.isEmpty,
      s"parity evidence is RED for: ${red.map(n => s"$n=${results(n)}").mkString(", ")}")
  }

  test("ROWS_ONLY evidence appears exactly for the declared no-oracle queries") {
    val noOracle = queries.Inventory.all.filter(_.oracle.isEmpty).map(_.name).toSet
    val rowsOnly = results.collect {
      case (n, r) if r.startsWith("ROWS_ONLY") => n
    }.toSet
    assert(rowsOnly === noOracle,
      s"rows-only evidence ${rowsOnly.toSeq.sorted} != declared no-oracle ${noOracle.toSeq.sorted}")
  }
}
