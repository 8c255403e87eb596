package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guard over `src/main/scala/graft`: every entry point
  * plans on the engine configuration, and gates carry no hidden knobs.
  *
  *  - A session built from a bare `SparkSession.builder()` silently
  *    drops the engine baseline (`preferSortMergeJoin=false`, AQE,
  *    the codegen cache), so a tool on it times or audits a different
  *    planner than Bench and Verify run. Sessions come from
  *    [[SessionDefaults]]; the one other form allowed is
  *    `SessionDefaults(SparkSession.builder()…)`, which applies the
  *    same baseline to a builder the caller shapes (Main).
  *  - A gate that reads a system property or environment variable has
  *    a second behaviour no bench or oracle run exercises, so nothing
  *    under `queries/` reads one.
  */
class EntryPointAuditSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private def scalaFiles(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.walk(dir)) { walk =>
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    }

  /** Code lines of a file with their 1-based numbers: comment lines
    * and trailing `//` comments dropped, so prose may name the
    * patterns.
    */
  private def codeLines(p: Path): Seq[(String, Int)] =
    Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
      case (line, i) if !Seq("*", "/*", "//").exists(line.trim.startsWith) =>
        val j = line.indexOf("//")
        (if (j < 0) line else line.substring(0, j), i + 1)
    }

  private def violations(files: Seq[Path])(bad: String => Boolean): Seq[String] =
    files.flatMap(p => codeLines(p).collect {
      case (code, n) if bad(code) => s"$p:$n: ${code.trim}"
    })

  test("sessions are built through SessionDefaults") {
    assert(Files.isDirectory(root), s"missing $root")
    val builder = """SparkSession\s*\.builder\b""".r
    val found = violations(scalaFiles(root).filterNot(_.endsWith("SessionDefaults.scala"))) {
      code => builder.findFirstIn(code).isDefined &&
        !code.contains("SessionDefaults(SparkSession.builder()")
    }
    assert(found.isEmpty,
      "SparkSession.builder() outside SessionDefaults (use " +
        "SessionDefaults.builder(cpus) or SessionDefaults(builder)):\n" +
        found.mkString("\n"))
  }

  test("gate queries read no system property or environment variable") {
    val knob = """sys\s*\.\s*(props|env)\b|System\s*\.\s*(getProperty|getenv)\b""".r
    val found = violations(scalaFiles(root.resolve("queries"))) {
      code => knob.findFirstIn(code).isDefined
    }
    assert(found.isEmpty,
      "gate code reads a system property or environment variable:\n" +
        found.mkString("\n"))
  }
}
