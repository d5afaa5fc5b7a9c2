package graft.functions

/** RE2 → java.util.regex translation for the spec `regexp` transform.
  *
  * The reference validates/compiles specs' regular expressions with Go's RE2
  * engine (/root/reference/entity/regexp.go:42-66). The dialects overlap on
  * everything the conformance specs use; the one systematic difference is
  * named-group syntax: RE2 `(?P<name>...)` vs Java `(?<name>...)`.
  * Java group names must be alphanumeric, so translated patterns address
  * groups by index (capture-group order is collected separately by
  * [[graft.spec.RegexpSpec.collectGroups]], mirroring entity/regexp.go:69-88).
  */
object Re2 {
  /** Rewrite RE2 named groups into plain capturing groups, preserving order. */
  def toJavaRegex(re2: String): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    val n = re2.length
    while (i < n) {
      if (re2.charAt(i) == '\\' && i + 1 < n) {
        sb.append(re2.charAt(i)).append(re2.charAt(i + 1))
        i += 2
      } else if (re2.regionMatches(i, "(?P<", 0, 4)) {
        val close = re2.indexOf('>', i + 4)
        require(close > 0, s"unterminated named group in: $re2")
        sb.append('(') // plain capturing group; names resolved positionally
        i = close + 1
      } else {
        sb.append(re2.charAt(i))
        i += 1
      }
    }
    sb.toString
  }

  private val countedRepeat = """\{\d+(,\d*)?\}""".r
  private val posixClass = """\[:\^?[a-z]+:\]""".r

  /** Go's error text (after "error parsing regexp: ") for the first
    * construct in `re2` that Go 1.19's `regexp` refuses but java.util.regex
    * would run: backreferences, lookarounds, atomic and `(?<name>` groups,
    * stacked (possessive) repetition. None when there is none. Classes,
    * escapes and `\Q…\E` quotes are skipped. `\1`–`\9` are refused even
    * where Go would read an octal escape, since Java reads a backreference.
    */
  def unsupported(re2: String): Option[String] = {
    val n = re2.length
    def after(r: scala.util.matching.Regex, i: Int): Option[Int] =
      r.findPrefixMatchOf(re2.subSequence(i, n)).map(i + _.end)
    // end of the repetition operator at i, its non-greedy `?` included, or
    // -1; a `{` that opens no counted repeat is a literal, as in Go
    def repeatEnd(i: Int): Int = {
      val end = re2.charAt(i) match {
        case '*' | '+' | '?' => i + 1
        case '{' => after(countedRepeat, i).getOrElse(-1)
        case _ => -1
      }
      if (end > 0 && end < n && re2.charAt(end) == '?') end + 1 else end
    }
    var i = 0
    while (i < n) {
      if (re2.charAt(i) == '\\' && i + 1 < n) {
        val c = re2.charAt(i + 1)
        if (c >= '1' && c <= '9') return Some(s"invalid escape sequence: `\\$c`")
        i = if (c != 'Q') i + 2 else { val e = re2.indexOf("\\E", i + 2); if (e < 0) n else e + 2 }
      } else if (re2.charAt(i) == '[') { // a leading `]` is a literal
        i += 1
        if (re2.startsWith("^", i)) i += 1
        if (re2.startsWith("]", i)) i += 1
        while (i < n && re2.charAt(i) != ']')
          i = if (re2.charAt(i) == '\\') i + 2 else after(posixClass, i).getOrElse(i + 1)
        i += 1
      } else if (re2.startsWith("(?P<", i)) i += 4
      else if (re2.startsWith("(?", i)) { // flags, then `:` or `)`
        val j = re2.indexWhere(c => "imsU-".indexOf(c) < 0, i + 2)
        if (j >= 0 && (re2.charAt(j) == ':' || re2.charAt(j) == ')')) i = j + 1
        else return Some("invalid or unsupported Perl syntax: `" +
          re2.substring(i, if (j < 0) n else j + 1) + "`")
      } else {
        val first = repeatEnd(i)
        if (first < 0) i += 1
        else if (first < n && repeatEnd(first) > 0)
          return Some(s"invalid nested repetition operator: `${re2.substring(i, repeatEnd(first))}`")
        else i = first
      }
    }
    None
  }
}
