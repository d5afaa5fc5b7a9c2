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
  /** Rewrite RE2 named groups into plain capturing groups, preserving order.
    * Escapes, `\Q…\E` quotes and character classes are copied whole, so a
    * `(?P<` inside one stays the literal text it is there.
    */
  def toJavaRegex(re2: String): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    val n = re2.length
    while (i < n) {
      val skip = literalEnd(re2, i)
      if (skip > i) {
        sb.append(re2, i, skip)
        i = skip
      } else if (re2.startsWith("(?P<", i)) {
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

  /** End of `r`'s match at `i` in `s`, if `r` matches there. */
  private def after(r: scala.util.matching.Regex, s: String, i: Int): Option[Int] =
    r.findPrefixMatchOf(s.subSequence(i, s.length)).map(i + _.end)

  /** End of the escape, `\Q…\E` quote or character class that starts at
    * `i` (a leading `]` in a class is a literal; its escapes and POSIX
    * classes are inside it), or `i` when none starts there. No group,
    * flag or repetition syntax applies inside one.
    */
  private def literalEnd(re2: String, i: Int): Int = {
    val n = re2.length
    if (re2.charAt(i) == '\\' && i + 1 < n) {
      if (re2.charAt(i + 1) != 'Q') i + 2
      else { val e = re2.indexOf("\\E", i + 2); if (e < 0) n else e + 2 }
    } else if (re2.charAt(i) == '[') {
      var j = i + 1
      if (re2.startsWith("^", j)) j += 1
      if (re2.startsWith("]", j)) j += 1
      while (j < n && re2.charAt(j) != ']')
        j = if (re2.charAt(j) == '\\') j + 2
          else after(posixClass, re2, j).getOrElse(j + 1)
      math.min(j + 1, n)
    } else i
  }

  /** Go's error text (after "error parsing regexp: ") for the first
    * construct in `re2` that Go 1.19's `regexp` refuses but java.util.regex
    * would run: backreferences, lookarounds, atomic and `(?<name>` groups,
    * stacked (possessive) repetition. None when there is none. Classes,
    * escapes and `\Q…\E` quotes are skipped. `\1`–`\9` are refused even
    * where Go would read an octal escape, since Java reads a backreference.
    */
  def unsupported(re2: String): Option[String] = {
    val n = re2.length
    // end of the repetition operator at i, its non-greedy `?` included, or
    // -1; a `{` that opens no counted repeat is a literal, as in Go
    def repeatEnd(i: Int): Int = {
      val end = re2.charAt(i) match {
        case '*' | '+' | '?' => i + 1
        case '{' => after(countedRepeat, re2, i).getOrElse(-1)
        case _ => -1
      }
      if (end > 0 && end < n && re2.charAt(end) == '?') end + 1 else end
    }
    var i = 0
    while (i < n) {
      val skip = literalEnd(re2, i)
      if (skip > i) {
        if (re2.charAt(i) == '\\' && re2.charAt(i + 1) >= '1' && re2.charAt(i + 1) <= '9')
          return Some(s"invalid escape sequence: `${re2.substring(i, skip)}`")
        i = skip
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
