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
  *  - The pipeline's layers (store, etl, analytics, sources) start no
  *    threads: its stage threads come only from `Main`'s stage pool,
  *    made per run from the calling thread, so every job carries the
  *    caller's Spark local properties (an op id, job tags).
  *  - Every public `def` and `object` outside `queries/` and `dev/` has
  *    a caller in `src/main`: its name appears in `src/main` code
  *    somewhere other than its own definition, or it is on a short
  *    list of kept entry points, each with its reason. Entry points
  *    that only specs call are compiled, documented and tested without
  *    ever running. The check is by name, so it misses a dead `def`
  *    whose name a live one shares (two `read`s, one of them dead).
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

  test("the pipeline's layers start no threads of their own") {
    val threads = """\bnew\s+Thread\b|\bExecutors\s*\.|\bExecutionContext\b""".r
    val layers = Seq("store", "etl", "analytics", "sources").map(root.resolve)
    layers.foreach(d => assert(Files.isDirectory(d), s"missing $d"))
    val found = violations(layers.flatMap(scalaFiles))(code => threads.findFirstIn(code).isDefined)
    assert(found.isEmpty,
      "a thread, executor or execution context outside Main's stage pool " +
        "(run concurrent work as a Main stage):\n" + found.mkString("\n"))
  }

  /** Public entry points that stay with no caller in `src/main`. */
  private val uncalledKeeps: Map[(String, String), String] = Map(
    ("SparkEntry.scala", "entry") -> "the driver contract, called by name from outside the repo",
    ("analytics/NsSqlQueries.scala", "NsSqlQueries") ->
      "the Spark-SQL twin that NsSqlQueriesSpec checks NsQueries against",
    ("etl/Clock.scala", "golden") ->
      "the reference capture's clock, at which GoldenCleanSpec checks the reference's own rows",
    ("sources/DbSource.scala", "DbSource") -> "SURVEY S9's only implementation",
    ("sources/DbSource.scala", "chooseBackend") -> "SURVEY S9's backend autoselect",
    ("sources/RawSource.scala", "writePartitionedJsonl") ->
      "SURVEY S3/S4's only implementation: the date-pathed JSONL archive",
    ("sources/RawSource.scala", "readJsonl") -> "SURVEY S6's only implementation: the archive scan",
    ("sources/RawSource.scala", "writeCsvSnapshot") -> "SURVEY S5's only implementation: the CSV snapshot")

  /** `src` with comments blanked and string and char literals emptied,
    * newlines kept, so braces and keywords in it are code.
    */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0 // block-comment nesting
    def at(t: String) = src.startsWith(t, i)
    while (i < src.length) {
      val c = src(i)
      if (depth > 0) {
        if (at("*/")) { depth -= 1; i += 2 }
        else if (at("/*")) { depth += 1; i += 2 }
        else { if (c == '\n') out += c; i += 1 }
      } else if (at("/*")) { depth = 1; i += 2 }
      else if (at("//")) { while (i < src.length && src(i) != '\n') i += 1 }
      else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= "\"\"" ++= src.substring(i, stop).filter(_ == '\n')
        i = stop
      } else if (c == '"') {
        i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') i += (if (src(i) == '\\') 2 else 1)
        out ++= "\"\""
        i += 1
      } else if (c == '\'' && i + 2 < src.length && (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val end = src.indexOf('\'', i + 2)
        out ++= "' '"
        i = if (end < 0) src.length else end + 1
      } else { out += c; i += 1 }
    }
    out.toString
  }

  @annotation.tailrec
  private def unparenthesized(s: String): String = {
    val t = s.replaceAll("""\([^()]*\)""", "")
    if (t == s) s else unparenthesized(t)
  }

  /** Public `def`s and `object`s of a file as (name, line): members of
    * a public template (class, object or trait) and top-level objects,
    * leaving out `override`s, private and protected members, members
    * of private templates and of anonymous classes (`new T { … }`),
    * and local definitions.
    */
  private def publicDefs(p: Path): Seq[(String, Int)] = {
    val declRe = ("""((?:(?:private|protected)(?:\[\w+\])?\s+|\w+\s+)*)""" +
      """\b(class|object|trait|def|val|var|new)\b(?:\s+([A-Za-z_]\w*))?""").r
    // per open brace: do definitions directly inside it declare public
    // members? The package level does; so does the body of a public
    // template inside such a scope; nothing else does
    var scopes = List(true)
    var header = new StringBuilder
    val found = Seq.newBuilder[(String, Int)]
    codeOnly(new String(Files.readAllBytes(p), "UTF-8")).split("\n", -1).zipWithIndex.foreach {
      case (line, i) =>
        declRe.findAllMatchIn(line).foreach { m =>
          val mods = Option(m.group(1)).getOrElse("")
          if (scopes.head && Set("def", "object")(m.group(2)) &&
              !Seq("private", "protected", "override").exists(mods.contains))
            Option(m.group(3)).foreach(n => found += n -> (i + 1))
        }
        line.foreach {
          case '{' =>
            // a template's parameters may declare vals: read past them
            val last = declRe.findAllMatchIn(unparenthesized(header.toString)).toSeq.lastOption
            val publicTemplate = last.exists(m => Set("class", "object", "trait")(m.group(2)) &&
              !Option(m.group(1)).exists(_.contains("private")))
            scopes = (publicTemplate && scopes.head) :: scopes
            header = new StringBuilder
          case '}' =>
            if (scopes.tail.nonEmpty) scopes = scopes.tail
            header = new StringBuilder
          case c => header += c
        }
        header += '\n'
    }
    found.result()
  }

  test("every public entry point outside queries/ and dev/ has a caller in src/main") {
    val all = scalaFiles(root) ++ scalaFiles(Paths.get("src/main/scala/org"))
    val word = """[A-Za-z_]\w*""".r
    val uses = all.flatMap(p => codeLines(p).flatMap { case (code, _) => word.findAllIn(code) })
      .groupBy(identity).view.mapValues(_.size).toMap
    val candidates = scalaFiles(root)
      .map(p => root.relativize(p).toString.replace('\\', '/') -> p)
      .filterNot { case (rel, _) => rel.startsWith("queries/") || rel.startsWith("dev/") }
    val uncalled = candidates.flatMap { case (rel, p) =>
      publicDefs(p).collect { case (name, n) if name != "main" && uses.getOrElse(name, 0) <= 1 =>
        (rel, name) -> s"$p:$n"
      }
    }
    val dead = uncalled.filterNot { case (key, _) => uncalledKeeps.contains(key) }
    assert(dead.isEmpty,
      "a public entry point that nothing in src/main calls (delete it with the specs " +
        "that are its only callers, or keep it in uncalledKeeps with the reason it stays):\n" +
        dead.map { case ((_, name), at) => s"$at: $name" }.mkString("\n"))
    val stale = uncalledKeeps.keySet -- uncalled.map(_._1)
    assert(stale.isEmpty,
      "an uncalledKeeps entry that is gone or now has a caller (drop it from the list):\n" +
        stale.mkString("\n"))
  }
}
