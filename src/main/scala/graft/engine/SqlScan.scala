package graft.engine

/** Quote-, paren- and CASE-aware scanning over SQL statement text —
  * the shared lexical substrate of the hand-rolled statement routers
  * ([[MergeSql]], [[DmlSql]]). No full grammar:
  * expressions pass through verbatim to Spark's parser, which owns
  * their semantics; these helpers only find STRUCTURAL positions
  * (clause keywords, top-level commas, balanced parens) without being
  * fooled by string literals, quoted identifiers, nested parentheses,
  * or `CASE ... WHEN ... THEN ... END` expression syntax.
  *
  * Shared on purpose: round 17 shipped one copy inside MergeSql, and
  * the round-17 verdict's CASE-mangling finding (a lazy regex finding
  * a DIFFERENT "THEN" than the CASE-aware splitter) is exactly the
  * class of drift two private copies invite. One body, one behavior. */
private[engine] object SqlScan {

  def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Index of case-insensitive keyword `word` at or after `from`, at
    * paren depth 0, outside quotes, AND outside `CASE ... END`
    * expressions — an assignment like `SET x = CASE WHEN c THEN 1
    * ELSE 2 END` must not have its inner WHEN/THEN mistaken for a
    * clause boundary; -1 if absent. */
  def topLevelKeyword(s: String, word: String, from: Int): Int = {
    var i = from
    var depth = 0
    var caseDepth = 0
    var quote: Char = 0
    def kwAt(j: Int, w: String): Boolean =
      s.regionMatches(true, j, w, 0, w.length) &&
        (j == 0 || !isWordChar(s.charAt(j - 1))) &&
        (j + w.length >= s.length || !isWordChar(s.charAt(j + w.length)))
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == quote) {
          if (i + 1 < s.length && s.charAt(i + 1) == quote) i += 1
          else quote = 0
        }
        i += 1
      } else c match {
        case '\'' | '"' | '`' => quote = c; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0 && kwAt(i, "CASE")) { caseDepth += 1; i += 4 }
          else if (depth == 0 && caseDepth > 0 && kwAt(i, "END")) {
            caseDepth -= 1; i += 3
          } else if (depth == 0 && caseDepth == 0 && kwAt(i, word)) return i
          else i += 1
      }
    }
    -1
  }

  /** Split on top-level commas (quote- and paren-aware). */
  def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        cur += c
        if (c == quote) {
          if (i + 1 < s.length && s.charAt(i + 1) == quote) { cur += c; i += 1 }
          else quote = 0
        }
      } else c match {
        case '\'' | '"' | '`' => cur += c; quote = c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
        case other => cur += other
      }
      i += 1
    }
    val last = cur.toString.trim
    if (last.nonEmpty) out += last
    out.result()
  }

  /** Consume a balanced parenthesized span starting at `open` (which
    * must be '('); returns the index AFTER the closing paren. */
  def balancedParen(s: String, open: Int): Int = {
    var i = open
    var depth = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == quote) {
          if (i + 1 < s.length && s.charAt(i + 1) == quote) i += 1
          else quote = 0
        }
      } else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i + 1
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException("unbalanced parentheses in statement")
  }

  def skipWs(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && s.charAt(i).isWhitespace) i += 1
    i
  }

  /** Read an identifier chain (dots allowed); a BACKTICKED leg unwraps
    * to its inner name — the wire plane's Trino `"t"` arrives requoted
    * as `` `t` `` and must still parse as a table/alias name. Returns
    * (name, index after the chain). */
  def readWord(s: String, from: Int): (String, Int) = {
    val start = skipWs(s, from)
    var i = start
    val out = new StringBuilder
    var more = true
    while (more && i < s.length) {
      val c = s.charAt(i)
      if (c == '`') {
        i += 1
        while (i < s.length && s.charAt(i) != '`') { out += s.charAt(i); i += 1 }
        require(i < s.length, "unterminated backtick in identifier")
        i += 1
      } else if (isWordChar(c) || c == '.') { out += c; i += 1 }
      else more = false
    }
    (out.toString, i)
  }

  /** True when `pos` falls inside a single-quoted string literal. */
  def insideLiteral(s: String, pos: Int): Boolean = {
    var i = 0
    var in = false
    while (i < pos && i < s.length) {
      if (s.charAt(i) == '\'') {
        if (in && i + 1 < s.length && s.charAt(i + 1) == '\'') i += 1
        else in = !in
      }
      i += 1
    }
    in
  }

  /** True when the text contains keyword `word` at paren depth 0
    * outside quotes/CASE — a containment probe over the whole text. */
  def hasTopLevelKeyword(s: String, word: String): Boolean =
    topLevelKeyword(s, word, 0) >= 0
}
