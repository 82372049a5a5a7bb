package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Two source scans over the library's public surface.
  *
  * The operators pick their own algorithms: no public entry point under
  * `graft.ops` takes an `Option[Boolean]` that overrides a choice the
  * operator makes from an observed statistic. A spec that needs one branch
  * calls the branch function, or a `private[graft]` form.
  *
  * Every public def under `graft.ops`, `graft.functions` and
  * `graft.streaming` has a caller in `src/main`, or a reason on
  * `Unreached` for being kept without one.
  */
class OpsSignatureSpec extends AnyFunSuite {

  /** One `def` with no `private` / `protected` modifier on its line: file
    * (relative to `src/main/scala`), name, the modifiers before it, its
    * signature (from the name to the first `=` or `{` outside brackets, so
    * default arguments stay inside it), and its span in the comment-blanked
    * source — from `def` to the first later line indented no deeper that
    * is not its own closing bracket. Local defs count as public: stricter.
    */
  private case class PublicDef(file: String, name: String, modifiers: String,
                               sig: String, start: Int, end: Int) {
    def label: String = Paths.get(file).getFileName.toString.stripSuffix(".scala") + "." + name
    def holds(f: String, pos: Int): Boolean = f == file && start <= pos && pos < end
  }

  /** `src` with every comment blanked to spaces. Newlines stay, so lines
    * and indentation survive; string literals stay, so a name that reaches
    * a def from SQL text or generated code still counts.
    */
  private def blankComments(src: String): String = {
    val out = new StringBuilder(src)
    def blank(from: Int, to: Int): Unit =
      (from until to).foreach(k => if (out(k) != '\n') out(k) = ' ')
    var i = 0
    while (i < src.length) {
      if (src.startsWith("\"\"\"", i)) {
        val j = src.indexOf("\"\"\"", i + 3)
        i = if (j < 0) src.length else j + 3
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        i = j + 1
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        i += 3 // a char literal such as '"'
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        val e = if (j < 0) src.length else j
        blank(i, e)
        i = e
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < src.length && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j)
        i = j
      } else i += 1
    }
    out.toString
  }

  private lazy val mainSources: Seq[(String, String)] = {
    val base = Paths.get("src/main/scala")
    val stream = Files.walk(base)
    try stream.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => base.relativize(p).toString -> blankComments(Files.readString(p))).toList
    finally stream.close()
  }

  private def publicDefs(dir: String): Seq[PublicDef] =
    for {
      (file, src) <- mainSources if file.startsWith(dir + "/")
      m <- """\bdef\s+(\w+)""".r.findAllMatchIn(src).toList
      lineStart = src.lastIndexOf('\n', m.start) + 1
      modifiers = src.substring(lineStart, m.start)
      if !"""\b(private|protected)\b""".r.findFirstIn(modifiers).isDefined
    } yield {
      var depth = 0
      var i = m.end
      while (i < src.length && !(depth == 0 && (src(i) == '=' || src(i) == '{'))) {
        if (src(i) == '(' || src(i) == '[') depth += 1
        if (src(i) == ')' || src(i) == ']') depth -= 1
        i += 1
      }
      val indent = modifiers.takeWhile(_ == ' ').length
      val end = """\n( *)(\S)""".r.findAllMatchIn(src.substring(m.end))
        .find(l => l.group(1).length < indent ||
          l.group(1).length == indent && !"})".contains(l.group(2)))
        .map(m.end + _.start + 1).getOrElse(src.length)
      PublicDef(file, m.group(1), modifiers, src.substring(m.start, i), m.start, end)
    }

  test("no public def under graft.ops takes an Option[Boolean] parameter") {
    val defs = publicDefs("graft/ops")
    // the scan sees the dispatching entry points and skips private forms
    val names = defs.map(_.name).toSet
    assert(Set("jaccardSelfAuto", "jaccardRSAuto", "selfJoinDistinct", "cosineKnnAuto",
      "cosinePairs", "connectedComponents").subsetOf(names), names)
    assert(!names.contains("connectedComponentsCapped"))
    val overrides = defs.collect {
      case d if """:\s*Option\s*\[\s*Boolean\s*\]""".r.findFirstIn(d.sig).isDefined =>
        s"${d.file}: ${d.name}"
    }
    assert(overrides === Nil)
  }

  /** A def is reached when its name occurs in the comment-blanked
    * `src/main` outside its own span and outside the span of any def that
    * is itself unreached (so a helper whose only caller is dead code is
    * dead too; allow-listed defs count as live). Outside the def's own file
    * a bare name counts only as a member selection (`.name`) or under an
    * import of an object, class or trait the file declares. `override`
    * defs (the kernels' Catalyst methods) are not scanned. The scan goes by
    * name: any `.name` anywhere, or a same-named member of another object
    * in the def's file, reaches it, so collisions make the scan lenient,
    * never strict.
    */
  test("every public def under graft.ops, graft.functions and graft.streaming has a caller in src/main") {
    val defs = Seq("graft/ops", "graft/functions", "graft/streaming").flatMap(publicDefs)
      .filterNot(d => """\boverride\b""".r.findFirstIn(d.modifiers).isDefined)
    val owners = mainSources.map { case (f, src) =>
      f -> """(?m)^(?:\w+\s+)*(?:object|class|trait)\s+(\w+)""".r.findAllMatchIn(src)
        .map(_.group(1)).toSet
    }.toMap
    val imports = mainSources.map { case (f, src) =>
      f -> """\bimport\s+[\w.]*?\b(\w+)\.(\{[^}]*\}|\w+)""".r.findAllMatchIn(src)
        .map(m => m.group(1) -> m.group(2).split("""[{},=>\s]+""").toSet).toList
    }.toMap
    val uses = (for {
      (f, src) <- mainSources
      m <- """[A-Za-z_]\w*""".r.findAllMatchIn(src)
    } yield (m.matched, f, m.start, m.start > 0 && src(m.start - 1) == '.'))
      .groupMap(_._1)(u => (u._2, u._3, u._4))
    def imported(f: String, d: PublicDef): Boolean = imports(f).exists {
      case (owner, selectors) =>
        owners(d.file)(owner) && (selectors("_") || selectors(d.name))
    }
    def reached(d: PublicDef, dead: Set[PublicDef]): Boolean =
      uses.getOrElse(d.name, Nil).exists { case (f, pos, dotted) =>
        !d.holds(f, pos) && !dead.exists(_.holds(f, pos)) &&
          (f == d.file || dotted || imported(f, d))
      }
    var dead = Set.empty[PublicDef]
    var grew = true
    while (grew) {
      val next = defs.filterNot(d => dead(d) || Unreached.contains(d.label) || reached(d, dead))
      dead ++= next
      grew = next.nonEmpty
    }
    assert(dead.map(_.label).toSeq.sorted === Nil,
      "public defs with no caller in src/main: delete them, or add each to " +
        "OpsSignatureSpec.Unreached with the reason it stays")
    val stale = Unreached.keys.filterNot(l =>
      defs.exists(d => d.label == l && !reached(d, dead))).toSeq.sorted
    assert(stale === Nil, "allow-listed defs that are reached or gone: drop them from the list")
  }

  /** Public defs kept without a `src/main` caller, by `File.def`, each with
    * the reason it stays.
    */
  private val Unreached = Map(
    "SimilarityJoin.containmentRSGeneral" ->
      "README's decontamination entry point for eval sets whose id type differs from the corpus's",
    "SimilarityJoin.jaccardRSPrefix" -> "the R-S prefix branch that specs force",
    "SimilarityJoin.jaccardRSAuto" -> "the R-S face of the auto dispatch, pinned against both R-S branches",
    "EditDistanceJoin.selfJoin" -> "the open-domain gram-prefix branch that specs force",
    "EditDistanceJoin.selfJoinBrute" -> "the brute-force oracle of the edit-distance specs",
    "VectorSearch.kmeansFit" -> "the multi-round Lloyd loop over the q100/q101 primitives",
    "Curation.tokenBudgetSelect" -> "the q139 reference",
    "Sessionize.sessionRows" -> "q145's streaming face, run by FileStreamSpec's restart test",
    "AtomicStreamSink.exactlyOnceUpsert" -> "table-format code, moved with the commit core",
    "Kernels.register" -> "the raw-SQL entry point for a session built without the extensions")
}
