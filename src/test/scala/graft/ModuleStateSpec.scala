package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** No module-level mutable state in `src/main`: an operator's evidence
  * (reads spent, files pruned, rounds run) comes back as part of its
  * return value. A `var` in an `object` body is shared by every
  * session on the JVM, so evidence parked there can be overwritten by
  * another session between the operator call and the read — and when
  * a query gates a column on it, the query result changes too. The
  * scan is line-based: a `var` declaration belongs to the nearest
  * line above it that is indented less, and is flagged when that line
  * opens an `object`. */
class ModuleStateSpec extends AnyFunSuite {

  private val varDecl = """^(\s*)(?:\w+(?:\[\w+\])?\s+)*var\s""".r
  private val objectHeader = """^\s*(?:\w+\s+)*object\s""".r

  /** (line number, line) of each `@volatile` and object-body `var`. */
  private def offenders(lines: Seq[String]): Seq[(Int, String)] = {
    def indent(l: String) = l.takeWhile(_ == ' ').length
    def code(l: String) = l.trim.nonEmpty && !l.trim.matches("""(//|/\*|\*).*""")
    lines.indices.collect {
      case i if lines(i).contains("@volatile") => (i + 1, lines(i).trim)
      case i if varDecl.findFirstIn(lines(i)).nonEmpty &&
          lines.take(i).reverseIterator.filter(code)
            .find(indent(_) < indent(lines(i)))
            .exists(objectHeader.findFirstIn(_).nonEmpty) => (i + 1, lines(i).trim)
    }
  }

  test("src/main declares no @volatile and no var in an object body") {
    // rot guard: the scan must still see the shape it exists to catch
    assert(offenders(Seq("object A extends B {", "  // c", "  private[graft] var x = 0",
      "  def f = { var i = 0; i }", "}")).map(_._1) === Seq(3))
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root),
      s"source tree not found at ${root.toAbsolutePath} — run tests from the repo root")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 20, s"scan saw only ${files.size} source files")
    val found = for {
      f <- files
      (line, text) <- offenders(java.nio.file.Files.readAllLines(f).asScala.toSeq)
    } yield s"  $f:$line: $text"
    assert(found.isEmpty,
      "module-level mutable state in src/main — return the operator's " +
        "evidence with its result (a case class next to the DataFrame) " +
        "instead of parking it in a shared variable:\n" + found.mkString("\n"))
  }
}
