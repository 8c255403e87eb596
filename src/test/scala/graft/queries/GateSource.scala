package graft.queries

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The source of one gate's own definition, for the specs that pin a
  * gate's code where its plan cannot show it (truncated behind a
  * localCheckpoint). A family file holds many gates, so a whole-file
  * check would pass on any of them; this returns just
  * `val <gate> = QueryDef(…)`, through its closing paren, with
  * comments blanked out so prose cannot satisfy a pin.
  */
object GateSource {

  private val dir = Paths.get("src/main/scala/graft/queries")

  /** Code of `val <gateVal> = QueryDef(...)`, from whichever file
    * under `queries/` defines it.
    */
  def apply(gateVal: String): String = {
    val decl = s"val $gateVal = QueryDef("
    val hits = scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toSeq)
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
      .filter(_._2.contains(decl))
    assert(hits.size == 1,
      s"$decl is defined in ${hits.size} files under $dir: ${hits.map(_._1).mkString(", ")}")
    val code = blankComments(hits.head._2)
    val start = code.indexOf(decl)
    assert(start >= 0, s"$decl sits in a comment")
    code.substring(start, closeOf(code, start + decl.length - 1) + 1)
  }

  /** `src` with `//` and `/* */` comments replaced by spaces. */
  private def blankComments(src: String): String = {
    val out = src.toCharArray
    var i = 0
    def blank(from: Int, to: Int): Unit =
      for (k <- from until to if out(k) != '\n') out(k) = ' '
    while (i < src.length) {
      if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        i = if (end < 0) src.length else end + 3
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < src.length && src.charAt(j) != '"') j += (if (src.charAt(j) == '\\') 2 else 1)
        i = j + 1
      } else if (src.startsWith("'\"'", i)) {
        i += 3
      } else if (src.startsWith("//", i)) {
        val end = src.indexOf('\n', i) match { case -1 => src.length; case e => e }
        blank(i, end); i = end
      } else if (src.startsWith("/*", i)) {
        val end = src.indexOf("*/", i + 2) match { case -1 => src.length; case e => e + 2 }
        blank(i, end); i = end
      } else i += 1
    }
    new String(out)
  }

  /** Index of the paren closing the one at `open`, skipping strings. */
  private def closeOf(code: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < code.length) {
      if (code.startsWith("\"\"\"", i)) {
        i = code.indexOf("\"\"\"", i + 3) + 3
      } else {
        code.charAt(i) match {
          case '"' =>
            var j = i + 1
            while (code.charAt(j) != '"') j += (if (code.charAt(j) == '\\') 2 else 1)
            i = j
          case '\'' if i + 2 < code.length && code.charAt(i + 2) == '\'' => i += 2
          case '(' => depth += 1
          case ')' =>
            depth -= 1
            if (depth == 0) return i
          case _ =>
        }
        i += 1
      }
    }
    throw new IllegalStateException(s"unbalanced definition at offset $open")
  }
}
