package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Glob → regex attribute matching, mirroring the reference's
  * `fnmatch.translate` + case-insensitive `re.match` search
  * (`server.py:78-86`) and the Grafana substring search
  * (`server.py:196-207`).
  *
  * The produced regexes use only syntax shared by Java regex (Spark's
  * `rlike`) and RE2 (DuckDB's `regexp_matches`) so the same pattern can
  * drive both the engine and the oracle.
  */
object GlobFns {

  /** Escape so the result is a literal in both Java regex and RE2. */
  def regexQuote(s: String): String =
    s.flatMap(c =>
      if ("\\.[]{}()*+-?^$|/".indexOf(c) >= 0) s"\\$c" else c.toString)

  /** Translate a shell glob into an anchored regex. Supported: `*`, `?`,
    * `[seq]`, `[!seq]`; everything else matched literally. Mirrors
    * Python's fnmatch.translate edge cases: a `]` immediately after `[`
    * (or `[!`) is a literal class member, an unclosed `[` is a literal
    * bracket, and `&&`/`[` inside a class are escaped so Java regex
    * does not read class intersection or nesting into them. */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          // fnmatch: the scan for the closing ] starts after an optional
          // leading ! and an optional literal ] member
          var j = i + 1
          if (j < glob.length && glob.charAt(j) == '!') j += 1
          if (j < glob.length && glob.charAt(j) == ']') j += 1
          val close = glob.indexOf(']', j)
          if (close < 0) sb.append("\\[")
          else {
            val inner = glob.substring(i + 1, close)
            val neg = inner.startsWith("!")
            val safe = (if (neg) inner.substring(1) else inner)
              .replace("\\", "\\\\")
              .replace("[", "\\[")
              .replace("]", "\\]")
              .replace("&", "\\&")
              .replace("^", "\\^")
            sb.append('[').append(if (neg) "^" else "").append(safe)
              .append(']')
            i = close
          }
        case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('$').toString
  }

  /** Case-insensitive anchored glob regex (F5). */
  def globRegex(glob: String): String = "(?i)" + globToRegex(glob)

  def globMatch(c: Column, glob: String): Column = c.rlike(globRegex(glob))

  /** Case-insensitive substring match (F6, Grafana `/search`). */
  def substringRegex(term: String): String = "(?i)" + regexQuote(term)

  def substringMatch(c: Column, term: String): Column =
    c.rlike(substringRegex(term))
}
