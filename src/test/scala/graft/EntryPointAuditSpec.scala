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
  *  - Gates are filed by family, and every family loads tables through
  *    `graft.Tables.load` and takes the exact-arithmetic helpers from
  *    `QueryDef`'s companion, so neither policy is copied per file.
  *  - The engine's rules, strategy and confs are installed once, at
  *    session build ([[SessionDefaults]]). Nothing in the engine adds
  *    rules or strategies to a live session or registers functions in
  *    it, gates and the loader change confs only through the scoped
  *    `QueryDef.withConf`, and the test session is the engine's.
  */
class EntryPointAuditSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val testRoot = Paths.get("src/test/scala")

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

  test("gate files share one loader and one helper set and are not filed by round") {
    val files = scalaFiles(root.resolve("queries"))
    val byRound = files.map(_.getFileName.toString).filter(_.matches("""Round\d+Queries\.scala"""))
    val copy = """\bdef t\(|\bdef dec\(|\bdef dec38\(|\bdef cents\b|\bval Q2? =""".r
    val found = violations(files.filterNot(_.endsWith("QueryDef.scala"))) {
      code => copy.findFirstIn(code).isDefined
    }
    assert(byRound.isEmpty,
      "gate files named by round (file gates by family):\n" + byRound.mkString("\n"))
    assert(found.isEmpty,
      "a private table loader or exact-arithmetic helper copy (import " +
        "graft.Tables.{load => t} and the QueryDef helpers instead):\n" +
        found.mkString("\n"))
  }

  test("no gate, function handle or loader installs anything on the session") {
    val install = """\bexperimental\b|extraOptimizations|extraStrategies|functionRegistry|""" +
      """createOrReplaceTempFunction|call_function\("""
    val installs = violations(scalaFiles(root))(code => install.r.findFirstIn(code).isDefined)

    // conf.set( under queries/ and in Tables, except inside withConf
    val queryDef = root.resolve("queries/QueryDef.scala")
    val withConf: Set[Int] = {
      val lines = Files.readAllLines(queryDef).asScala.toIndexedSeq
      val start = lines.indexWhere(_.contains("def withConf["))
      if (start < 0) Set.empty
      else {
        val indent = lines(start).takeWhile(_ == ' ')
        val end = lines.indexWhere(_ == indent + "}", start)
        (start + 1 to (if (end < 0) start else end) + 1).toSet
      }
    }
    val confFiles = scalaFiles(root.resolve("queries")) :+ root.resolve("Tables.scala")
    val confSets = confFiles.flatMap(p => codeLines(p).collect {
      case (code, n) if code.contains("conf.set(") && !(p == queryDef && withConf(n)) =>
        s"$p:$n: ${code.trim}"
    })

    val builder = """SparkSession\s*\.builder\b""".r
    val testBuilders = violations(
        scalaFiles(testRoot).filterNot(_.endsWith("EntryPointAuditSpec.scala"))) {
      code => builder.findFirstIn(code).isDefined &&
        !code.contains("SessionDefaults(SparkSession.builder()")
    }

    assert(installs.isEmpty,
      "engine code installs a rule, strategy or function on a live session " +
        "(add it to GraftExtensions, or build the expression in its handle):\n" +
        installs.mkString("\n"))
    assert(confSets.isEmpty,
      "a conf set outside QueryDef.withConf (session-wide confs belong in " +
        "SessionDefaults.sqlConfs):\n" + confSets.mkString("\n"))
    assert(testBuilders.isEmpty,
      "a test session not built through SessionDefaults:\n" + testBuilders.mkString("\n"))
  }
}
