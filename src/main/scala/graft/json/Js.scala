package graft.json

/** Minimal immutable JSON tree that preserves the *raw source substring* of
  * every node.
  *
  * Why not Jackson: the reference engine's path library (tidwall/gjson, see
  * /root/reference/entity/transform/transformer.go:313) returns the verbatim
  * source text for non-leaf results (e.g. `{"a": "b"}` keeps its original
  * whitespace — reference test `entity/transform/transformer_test.go:329-347`)
  * and the verbatim number literal for numeric results (`1.50` stays "1.50").
  * A DOM that re-serializes loses both. We therefore parse with offsets and
  * expose `raw` as a view into the original input.
  *
  * The parser is lenient like gjson: a malformed document — including one
  * nested deeper than [[Js.MaxDepth]] — yields `None`, and path lookups on
  * it behave as "not exists" (missing-field semantics).
  */
sealed trait Js {
  def src: String
  def start: Int
  def end: Int

  /** Verbatim source text of this node (gjson `Result.Raw`). */
  def raw: String = src.substring(start, end)
}

final case class JsStr(value: String, src: String, start: Int, end: Int) extends Js
final case class JsNum(src: String, start: Int, end: Int) extends Js {
  /** The literal as written, e.g. "1.50". */
  def literal: String = raw
  lazy val toDouble: Double =
    try literal.toDouble
    catch { case _: NumberFormatException => 0.0 }
}
final case class JsBool(value: Boolean, src: String, start: Int, end: Int) extends Js
final case class JsNull(src: String, start: Int, end: Int) extends Js
final case class JsObj(fields: Vector[(String, Js)], src: String, start: Int, end: Int) extends Js {
  /** First binding wins on duplicate keys (gjson iteration order). */
  def get(key: String): Option[Js] = fields.collectFirst { case (k, v) if k == key => v }
}
final case class JsArr(items: Vector[Js], src: String, start: Int, end: Int) extends Js

object Js {

  /** Parse a JSON document. Lenient contract: `None` on malformed input. */
  def parse(s: String): Option[Js] = {
    try {
      val p = new Parser(s)
      p.skipWs()
      val v = p.parseValue()
      p.skipWs()
      // Trailing garbage tolerated (gjson also stops at first complete value).
      Some(v)
    } catch {
      case _: JsParseException => None
      case _: StringIndexOutOfBoundsException => None
    }
  }

  /** Deepest container nesting a document may have. The parser recurses
    * once per level, so without a bound a deeply nested event throws
    * StackOverflowError out of a task instead of reading as malformed.
    */
  val MaxDepth = 1024

  private final class JsParseException extends RuntimeException(null, null, false, false)

  private final class Parser(s: String) {
    private[this] var i = 0
    private[this] val n = s.length
    private[this] var depth = 0

    private def fail(): Nothing = throw new JsParseException

    def skipWs(): Unit = {
      while (i < n && (s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    }

    def parseValue(): Js = {
      if (i >= n) fail()
      s.charAt(i) match {
        case '{' => enter(); leave(parseObj())
        case '[' => enter(); leave(parseArr())
        case '"' => parseStr()
        case 't' =>
          val st = i; expect("true"); JsBool(value = true, s, st, i)
        case 'f' =>
          val st = i; expect("false"); JsBool(value = false, s, st, i)
        case 'n' =>
          val st = i; expect("null"); JsNull(s, st, i)
        case c if c == '-' || (c >= '0' && c <= '9') => parseNum()
        case _ => fail()
      }
    }

    private def enter(): Unit = {
      depth += 1
      if (depth > MaxDepth) fail()
    }
    private def leave(container: Js): Js = { depth -= 1; container }

    private def expect(lit: String): Unit = {
      if (i + lit.length > n || !s.regionMatches(i, lit, 0, lit.length)) fail()
      i += lit.length
    }

    private def parseObj(): Js = {
      val st = i
      i += 1 // '{'
      val fields = Vector.newBuilder[(String, Js)]
      skipWs()
      if (i < n && s.charAt(i) == '}') { i += 1; return JsObj(fields.result(), s, st, i) }
      while (true) {
        skipWs()
        if (i >= n || s.charAt(i) != '"') fail()
        val key = parseStringLiteral()
        skipWs()
        if (i >= n || s.charAt(i) != ':') fail()
        i += 1
        skipWs()
        val v = parseValue()
        fields += ((key, v))
        skipWs()
        if (i >= n) fail()
        s.charAt(i) match {
          case ',' =>
            i += 1
            skipWs()
            // Lenient: tolerate trailing comma (gjson scans, never validates
            // — reference test events contain these, transformer_test.go:533+).
            if (i < n && s.charAt(i) == '}') { i += 1; return JsObj(fields.result(), s, st, i) }
          case '}' => i += 1; return JsObj(fields.result(), s, st, i)
          // Lenient: missing comma between members (also present in
          // reference test events).
          case '"' =>
          case _ => fail()
        }
      }
      fail()
    }

    private def parseArr(): Js = {
      val st = i
      i += 1 // '['
      val items = Vector.newBuilder[Js]
      skipWs()
      if (i < n && s.charAt(i) == ']') { i += 1; return JsArr(items.result(), s, st, i) }
      while (true) {
        skipWs()
        items += parseValue()
        skipWs()
        if (i >= n) fail()
        s.charAt(i) match {
          case ',' =>
            i += 1
            skipWs()
            if (i < n && s.charAt(i) == ']') { i += 1; return JsArr(items.result(), s, st, i) }
          case ']' => i += 1; return JsArr(items.result(), s, st, i)
          case _ => fail()
        }
      }
      fail()
    }

    private def parseStr(): Js = {
      val st = i
      val v = parseStringLiteral()
      JsStr(v, s, st, i)
    }

    /** Parses a double-quoted string literal starting at `i`; returns the
      * unescaped value and advances past the closing quote.
      */
    private def parseStringLiteral(): String = {
      i += 1 // opening quote
      val sb = new java.lang.StringBuilder
      while (i < n) {
        val c = s.charAt(i)
        if (c == '"') { i += 1; return sb.toString }
        else if (c == '\\') {
          i += 1
          if (i >= n) fail()
          s.charAt(i) match {
            case '"' => sb.append('"'); i += 1
            case '\\' => sb.append('\\'); i += 1
            case '/' => sb.append('/'); i += 1
            case 'b' => sb.append('\b'); i += 1
            case 'f' => sb.append('\f'); i += 1
            case 'n' => sb.append('\n'); i += 1
            case 'r' => sb.append('\r'); i += 1
            case 't' => sb.append('\t'); i += 1
            case 'u' =>
              if (i + 5 > n) fail()
              val hex = s.substring(i + 1, i + 5)
              try sb.append(Integer.parseInt(hex, 16).toChar)
              catch { case _: NumberFormatException => fail() }
              i += 5
            case _ => fail()
          }
        } else { sb.append(c); i += 1 }
      }
      fail()
    }

    private def parseNum(): Js = {
      val st = i
      if (i < n && s.charAt(i) == '-') i += 1
      while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      if (i < n && s.charAt(i) == '.') {
        i += 1
        while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      }
      if (i < n && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
        i += 1
        if (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
        while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      }
      if (i == st) fail()
      JsNum(s, st, i)
    }
  }
}
