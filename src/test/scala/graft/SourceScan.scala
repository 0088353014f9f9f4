package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Read-only scans of the repository's Scala sources, shared by the specs
  * that pin the source tree itself (`MainReachSpec`, `ReadmeSyncSpec`).
  * Paths are relative to the repository root, the suite's working
  * directory. */
object SourceScan {

  /** Every `.scala` file under `dir`, with its text comment-stripped. */
  def sources(dir: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .sorted.map(p => p -> stripComments(new String(Files.readAllBytes(p), "UTF-8")))
    finally walk.close()
  }

  /** `src` without its `//` and `/* */` comments. String and character
    * literals are kept whole, so a `//` inside a literal is not taken for
    * a comment. */
  def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def copyTo(j: Int): Unit = { out ++= src.substring(i, j); i = j }
    while (i < n) {
      if (src.startsWith("/*", i)) {
        val j = src.indexOf("*/", i + 2)
        i = if (j < 0) n else j + 2
        out += ' '
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("\"\"\"", i)) {
        val close = src.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) n else close + 3
        while (j < n && src(j) == '"') j += 1
        copyTo(j)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        copyTo(math.min(j + 1, n))
      } else if (src(i) == '\'' && i + 2 < n && src(i + 1) == '\\') {
        val close = src.indexOf('\'', i + 3)
        copyTo(if (close < 0) n else close + 1)
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        copyTo(i + 3)
      } else copyTo(i + 1)
    }
    out.toString
  }

  private val modifiers = "(?:(?:private|protected|final|sealed|case|abstract|implicit)(?:\\[\\w+\\])?\\s+)*"

  /** Names of the objects, classes and traits declared at the top level
    * of `code` (a declaration that starts its line, unindented). */
  def topLevelTypes(code: String): Set[String] =
    s"(?m)^$modifiers(?:object|class|trait)\\s+(\\w+)".r
      .findAllMatchIn(code).map(_.group(1)).toSet

  /** Names of every object, class and trait declared in `code`, nested
    * ones included. */
  def declaredTypes(code: String): Set[String] =
    s"(?m)^\\s*$modifiers(?:object|class|trait)\\s+(\\w+)".r
      .findAllMatchIn(code).map(_.group(1)).toSet

  /** The identifiers `code` uses. */
  def identifiers(code: String): Set[String] =
    "\\w+".r.findAllIn(code).toSet
}
