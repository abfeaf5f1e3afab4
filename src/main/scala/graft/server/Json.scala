package graft.server

/** Minimal JSON codec for the HTTP shim — the sandbox has no JSON
  * library on the classpath and the route payloads (reference
  * `server.py:101-112,152-158,247-253`) are small and shallow, so a
  * ~100-line recursive-descent parser is the honest dependency-free
  * choice. Not a general-purpose parser: no streaming, whole input in
  * memory, which is exactly the shape of a request body.
  *
  * Values map to: Map[String, Any], Vector[Any], String, Double
  * (all numbers), Boolean, null.
  */
object Json {

  /** A malformed body (`at` = its offset) or a well-formed value of the
    * wrong shape (`at` < 0, no offset to report). */
  final case class JsonError(msg: String, at: Int = -1)
      extends RuntimeException(if (at >= 0) s"$msg at offset $at" else msg)

  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.value()
    p.skipWs()
    if (!p.eof) throw JsonError("trailing content", p.pos)
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (!eof && Character.isWhitespace(s.charAt(pos))) pos += 1
    private def fail(msg: String): Nothing = throw JsonError(msg, pos)
    private def expect(c: Char): Unit = {
      if (eof || s.charAt(pos) != c) fail(s"expected '$c'")
      pos += 1
    }

    def value(): Any = {
      skipWs()
      if (eof) fail("unexpected end")
      s.charAt(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => string()
        case 't' => lit("true", true)
        case 'f' => lit("false", false)
        case 'n' => lit("null", null)
        case c if c == '-' || c.isDigit => number()
        case c => fail(s"unexpected '$c'")
      }
    }

    private def lit(word: String, v: Any): Any = {
      if (!s.startsWith(word, pos)) fail(s"expected $word")
      pos += word.length
      v
    }

    private def obj(): Map[String, Any] = {
      expect('{'); skipWs()
      val b = Map.newBuilder[String, Any]
      if (!eof && s.charAt(pos) == '}') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        skipWs()
        val k = string()
        skipWs(); expect(':')
        b += k -> value()
        skipWs()
        if (!eof && s.charAt(pos) == ',') pos += 1
        else { expect('}'); done = true }
      }
      b.result()
    }

    private def arr(): Vector[Any] = {
      expect('['); skipWs()
      val b = Vector.newBuilder[Any]
      if (!eof && s.charAt(pos) == ']') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        b += value()
        skipWs()
        if (!eof && s.charAt(pos) == ',') pos += 1
        else { expect(']'); done = true }
      }
      b.result()
    }

    private def string(): String = {
      expect('"')
      val sb = new StringBuilder
      while (true) {
        if (eof) fail("unterminated string")
        val c = s.charAt(pos); pos += 1
        c match {
          case '"' => return sb.toString()
          case '\\' =>
            if (eof) fail("bad escape")
            val e = s.charAt(pos); pos += 1
            e match {
              case '"' => sb += '"'
              case '\\' => sb += '\\'
              case '/' => sb += '/'
              case 'b' => sb += '\b'
              case 'f' => sb += '\f'
              case 'n' => sb += '\n'
              case 'r' => sb += '\r'
              case 't' => sb += '\t'
              case 'u' =>
                if (pos + 4 > s.length) fail("bad \\u escape")
                sb += Integer.parseInt(s.substring(pos, pos + 4), 16).toChar
                pos += 4
              case other => fail(s"bad escape '\\$other'")
            }
          case ch => sb += ch
        }
      }
      sb.toString() // unreachable
    }

    private def number(): Double = {
      val start = pos
      if (!eof && s.charAt(pos) == '-') pos += 1
      while (!eof && (s.charAt(pos).isDigit || "+-.eE".indexOf(s.charAt(pos)) >= 0))
        pos += 1
      try s.substring(start, pos).toDouble
      catch { case _: NumberFormatException => fail("bad number") }
    }
  }

  // ------------------------------------------------------------ encoding

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Encode Maps (insertion-ordered), Seqs, String, numbers, Boolean,
    * null. Doubles that are whole numbers render without ".0" (matches
    * the reference's json.dumps of ints). */
  def write(v: Any): String = v match {
    case null => "null"
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      // JSON has no NaN/Infinity tokens — a bare `NaN` (an all-NaN
      // hover column's min, say) makes the whole response fail
      // JSON.parse. Deliberate divergence from the reference's bare
      // json.dumps (whose default allow_nan emits the same invalid
      // token); null matches GrafanaStream.jsonNum's choice here
      if (d.isNaN || d.isInfinite) "null"
      else if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case other => quote(other.toString)
  }

  // ------------------------------------------------------------ accessors

  // A value of the wrong JSON type (or null) is a client error: each
  // accessor throws JsonError, which the shim answers with a 400.

  private def kind(v: Any): String = v match {
    case null => "null"
    case _: Map[_, _] => "an object"
    case _: Vector[_] => "an array"
    case _: String => "a string"
    case _: Boolean => "a boolean"
    case _ => "a number"
  }

  private def wrongType(want: String, v: Any): Nothing =
    throw JsonError(s"expected $want, got ${kind(v)}")

  def obj(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case other => wrongType("an object", other)
  }
  def arr(v: Any): Vector[Any] = v match {
    case xs: Vector[_] => xs
    case other => wrongType("an array", other)
  }
  /** An array of exactly `n` elements — `what` names it in the error. */
  def arrOf(v: Any, n: Int, what: String): Vector[Any] = {
    val xs = arr(v)
    if (xs.length != n)
      throw JsonError(s"$what must have $n elements, got ${xs.length}")
    xs
  }
  def str(v: Any): String = v match {
    case s: String => s
    case other => wrongType("a string", other)
  }
  def num(v: Any): Double = v match {
    case d: Double => d
    case s: String => s.toDoubleOption.getOrElse(wrongType("a number", s))
    case other => wrongType("a number", other)
  }
}
