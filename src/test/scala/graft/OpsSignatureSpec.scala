package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The operators pick their own algorithms: no public entry point under
  * `graft.ops` takes an `Option[Boolean]` that overrides a choice the
  * operator makes from an observed statistic. A spec that needs one branch
  * calls the branch function, or a `private[graft]` form.
  */
class OpsSignatureSpec extends AnyFunSuite {

  /** (file, def name, signature) of every `def` under `base` that carries
    * no `private` / `protected` modifier on its line. The signature runs
    * from the name to the first `=` or `{` outside brackets, so default
    * arguments stay inside it. Local defs count as public: stricter.
    */
  private def publicDefs(base: Path): Seq[(String, String, String)] = {
    val stream = Files.walk(base)
    val sources = try stream.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => base.relativize(p).toString -> Files.readString(p)).toList
    finally stream.close()
    for {
      (file, src) <- sources
      m <- """\bdef\s+(\w+)""".r.findAllMatchIn(src).toList
      lineStart = src.lastIndexOf('\n', m.start) + 1
      if !"""\b(private|protected)\b""".r.findFirstIn(src.substring(lineStart, m.start)).isDefined
    } yield {
      var depth = 0
      var i = m.end
      while (i < src.length && !(depth == 0 && (src(i) == '=' || src(i) == '{'))) {
        if (src(i) == '(' || src(i) == '[') depth += 1
        if (src(i) == ')' || src(i) == ']') depth -= 1
        i += 1
      }
      (file, m.group(1), src.substring(m.start, i))
    }
  }

  test("no public def under graft.ops takes an Option[Boolean] parameter") {
    val defs = publicDefs(Paths.get("src/main/scala/graft/ops"))
    // the scan sees the dispatching entry points and skips private forms
    val names = defs.map(_._2).toSet
    assert(Set("jaccardSelfAuto", "jaccardRSAuto", "selfJoinDistinct", "cosineKnnAuto",
      "cosinePairs", "connectedComponents").subsetOf(names), names)
    assert(!names.contains("connectedComponentsCapped"))
    val overrides = defs.collect { case (file, name, sig)
      if """:\s*Option\s*\[\s*Boolean\s*\]""".r.findFirstIn(sig).isDefined => s"$file: $name" }
    assert(overrides === Nil)
  }
}
