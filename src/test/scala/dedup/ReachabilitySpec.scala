package dedup

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Dead-code gate: every main source file must be reachable from an entry
  * point. Roots are the files that define `def main(` plus the benchmark's
  * traced driver (`perfbench/trace/Trace.scala`, compiled against
  * `src/main`). A file reaches another when, with comments and string
  * literals stripped, it names one of the other file's top-level objects,
  * classes or traits. No file may be left unreached, so a subsystem no
  * entry point uses cannot be added or left behind unnoticed.
  */
class ReachabilitySpec extends AnyFunSuite {

  private def isIdent(c: Char) = Character.isLetterOrDigit(c) || c == '_'

  /** `src` with comments and string and char literals removed. An
    * interpolated string keeps the code it splices in (`$name` and
    * `${expr}`), since that code can name an object. */
  private def strip(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(j: Int) = if (j < src.length) src.charAt(j) else '\u0000'
    while (i < src.length) {
      val c = src.charAt(i)
      if (c == '/' && at(i + 1) == '/') {
        while (i < src.length && src.charAt(i) != '\n') i += 1
      } else if (c == '/' && at(i + 1) == '*') {
        var depth = 1 // Scala block comments nest
        i += 2
        while (i < src.length && depth > 0) {
          if (at(i) == '/' && at(i + 1) == '*') { depth += 1; i += 2 }
          else if (at(i) == '*' && at(i + 1) == '/') { depth -= 1; i += 2 }
          else i += 1
        }
        out += ' '
      } else if (c == '"') {
        val interpolated = i > 0 && isIdent(src.charAt(i - 1))
        val triple = src.startsWith("\"\"\"", i)
        i += (if (triple) 3 else 1)
        var open = true
        while (i < src.length && open) {
          if (triple && src.startsWith("\"\"\"", i)) {
            i += 3
            while (at(i) == '"') i += 1 // a closing run may end in extra quotes
            open = false
          } else if (!triple && at(i) == '"') { i += 1; open = false }
          else if (!triple && at(i) == '\\') i += 2
          else if (interpolated && at(i) == '$' && at(i + 1) == '{') {
            var depth = 1
            i += 2
            val start = i
            while (i < src.length && depth > 0) {
              if (at(i) == '{') depth += 1 else if (at(i) == '}') depth -= 1
              i += 1
            }
            out ++= " " ++= src.substring(start, i - 1) ++= " "
          } else if (interpolated && at(i) == '$' && Character.isLetter(at(i + 1))) {
            val start = i + 1
            i += 1
            while (i < src.length && isIdent(at(i))) i += 1
            out ++= " " ++= src.substring(start, i) ++= " "
          } else i += 1
        }
        out += ' '
      } else if (c == '\'' && at(i + 1) == '\\') {
        i += 2
        while (i < src.length && at(i) != '\'') i += 1
        i += 1
        out += ' '
      } else if (c == '\'' && at(i + 2) == '\'') {
        i += 3
        out += ' '
      } else {
        out += c
        i += 1
      }
    }
    out.toString
  }

  private val TopLevel =
    ("(?m)^(?:(?:private|protected|final|sealed|abstract|implicit|case)(?:\\[\\w+\\])?\\s+)*" +
      "(?:package\\s+)?(?:object|class|trait)\\s+(\\w+)").r
  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r

  private def scalaFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** The main source files no root reaches, by file name. */
  private def unreached(): Set[String] = {
    val trace = Paths.get("perfbench/trace/Trace.scala")
    val files = (scalaFiles(Paths.get("src/main/scala")) :+ trace)
      .map(p => p -> strip(new String(Files.readAllBytes(p), "UTF-8"))).toMap
    val definedIn: Map[String, Set[Path]] = files.toSeq
      .flatMap { case (p, src) => TopLevel.findAllMatchIn(src).map(_.group(1) -> p) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val refs: Map[Path, Set[Path]] = files.map { case (p, src) =>
      p -> Ident.findAllIn(src).toSet.flatMap((n: String) => definedIn.getOrElse(n, Set.empty[Path]))
    }
    val roots = files.collect { case (p, src) if src.contains("def main(") => p }.toSet + trace
    var seen = roots
    var frontier = roots
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(refs) -- seen
      seen ++= frontier
    }
    (files.keySet -- seen).map(_.getFileName.toString)
  }

  // the allowlist is gone; the title keeps its wording so the test's id stays
  test("every main source file is reached from an entry point, except the allowlist") {
    assert(unreached() === Set.empty[String])
  }

  test("strip drops comments and literals but keeps interpolated code") {
    val src = "a // Foo\n/* Bar /* nested */ Baz */ b \"Qux\" s\"$Quux ${Corge.x}\" " +
      "'\\n' 'c' \"\"\"Grault\"\"\" d"
    assert(Ident.findAllIn(strip(src)).toSet === Set("a", "b", "s", "Quux", "Corge", "x", "d"))
  }
}
