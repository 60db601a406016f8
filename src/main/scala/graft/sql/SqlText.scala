package graft.sql

import scala.annotation.tailrec
import scala.util.matching.Regex

/** The one lexical rule of the SQL front end — the part the reference's
  * JavaCC token manager (Parser.jj) plays before any parser rule runs.
  * Every structural scan in `graft.sql` reads the same-length MASK built
  * here, so no rewrite keeps quote state of its own:
  *
  *  - Quoting: the contents of a `'...'` string literal and of a
  *    `` `...` `` quoted identifier become U+0001; the quote characters
  *    stay, so positions map 1:1 onto the original text. Inside a
  *    `'...'` literal a backslash escapes the next character (Spark's
  *    lexer reads `\'` as a quote inside the literal), and a doubled
  *    `''` reads as two adjacent literals.
  *  - Nesting: `(` and `[` open a group and `)` and `]` close one, on a
  *    single depth counter; depth 0 is the top level of the scanned text.
  *
  * Regexes FIND on the mask and splice from the original text. A rewrite
  * that replaces every match independently uses [[replaceMasked]]; one
  * whose replacement must see the text the previous splice produced
  * (nested calls lower inside-out, a later site depends on an earlier
  * one) uses [[spliceEach]], the one site driver: it decides which
  * matches are visited, where a splice lands and when the text is
  * re-scanned, and the pass only builds its replacement. The scanning
  * helpers take masked text (`m`) unless their doc says otherwise; on
  * balanced text their answers do not depend on which kind of bracket a
  * group uses. Comment stripping and the dialect re-quoters scan other
  * grammars and keep their own loops. */
object SqlText {

  /** Same-length copy of `s` with every char inside a `'...'` literal or
    * a `` `...` `` identifier replaced by U+0001 (quotes preserved; a
    * `\` inside a `'...'` literal masks itself and the char after it). */
  def mask(s: String): String = {
    val a = s.toCharArray
    var quote = '\u0000'
    var i = 0
    while (i < a.length) {
      val c = a(i)
      if (quote != '\u0000') {
        if (c == quote) quote = '\u0000'
        else {
          a(i) = '\u0001'
          if (c == '\\' && quote == '\'' && i + 1 < a.length) { i += 1; a(i) = '\u0001' }
        }
      }
      else if (c == '\'' || c == '`') quote = c
      i += 1
    }
    new String(a)
  }

  /** replaceAllIn driven by matches on the MASKED text; `f` receives the
    * masked match (positions valid in the original) plus the original
    * text for group extraction. */
  def replaceMasked(sql: String, re: Regex)(f: (Regex.Match, String) => String): String = {
    val sb = new StringBuilder
    var last = 0
    re.findAllMatchIn(mask(sql)).foreach { m =>
      sb.append(sql.substring(last, m.start)).append(f(m, sql))
      last = m.end
    }
    sb.append(sql.substring(last)).toString
  }

  /** One match of a [[spliceEach]] head on the current text: `sql` is
    * that text and `m` its mask, and the match's positions are valid in
    * both. */
  final class Site(val sql: String, val m: String, val hit: Regex.Match) {
    def start: Int = hit.start
    def end: Int = hit.end
    /** Group `i` of the head, read from the original text. */
    def group(i: Int): String = origGroup(hit, sql, i)
    /** The close of the group the head's last char opens, or -1. */
    def close: Int = closeOf(m, hit.end - 1)
  }

  /** A splice a pass asks for: replace sql[start, end) with `text`. */
  final case class Splice(start: Int, end: Int, text: String)

  /** The one site driver. Finds `head` on the mask of `sql` and hands
    * each match, in text order, to `splice`; applies the first splice
    * that changes the text, then re-scans the new text from its start.
    * Stops when no match yields a splice. A pass whose replacement keeps
    * its own head must make the replacement stop matching, or the scan
    * does not end. */
  @tailrec def spliceEach(sql: String, head: Regex)(splice: Site => Option[Splice]): String =
    firstSplice(sql, head, splice) match {
      case Some(next) => spliceEach(next, head)(splice)
      case None => sql
    }

  private def firstSplice(sql: String, head: Regex, splice: Site => Option[Splice]): Option[String] = {
    val m = mask(sql)
    head.findAllMatchIn(m).flatMap(hit => splice(new Site(sql, m, hit)))
      .map(sp => sql.substring(0, sp.start) + sp.text + sql.substring(sp.end))
      .find(_ != sql)
  }

  /** Group `i` of a masked match, read from the ORIGINAL text. */
  def origGroup(m: Regex.Match, orig: String, i: Int): String =
    if (m.start(i) < 0) null else orig.substring(m.start(i), m.end(i))

  /** If the whole-word keyword sequence `words` starts at `start`, return
    * the index just past it (words separated by any whitespace run);
    * -1 otherwise. */
  def matchWords(s: String, start: Int, words: Array[String]): Int = {
    if (start > 0 && isWordChar(s.charAt(start - 1))) return -1
    var i = start
    var w = 0
    while (w < words.length) {
      val kw = words(w)
      if (!s.regionMatches(true, i, kw, 0, kw.length)) return -1
      i += kw.length
      if (i < s.length && isWordChar(s.charAt(i))) return -1
      w += 1
      if (w < words.length) {
        val j = i
        while (i < s.length && s.charAt(i).isWhitespace) i += 1
        if (i == j) return -1
      }
    }
    i
  }

  /** Index of the quote closing the `'...'` literal whose opening quote
    * is at `open` (ORIGINAL text), or -1 if it does not close. A `\`
    * escapes the char after it, and a doubled `''` reads as one quote
    * inside the literal, the SQL-standard escape. */
  def literalEnd(s: String, open: Int): Int = {
    var i = open + 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') i += 2
      else if (c != '\'') i += 1
      else if (i + 1 < s.length && s.charAt(i + 1) == '\'') i += 2
      else return i
    }
    -1
  }

  def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  private def opens(c: Char) = c == '(' || c == '['
  private def closes(c: Char) = c == ')' || c == ']'

  /** Index of the `)`/`]` closing the group opened at `open`, or -1. */
  def closeOf(m: String, open: Int): Int = {
    if (open < 0) return -1
    var depth = 0
    var i = open
    while (i < m.length) {
      val c = m.charAt(i)
      if (opens(c)) depth += 1
      else if (closes(c)) { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    -1
  }

  /** Index of the `(`/`[` opening the group closed at `close`, or -1. */
  def openOf(m: String, close: Int): Int = {
    var depth = 0
    var i = close
    while (i >= 0) {
      val c = m.charAt(i)
      if (closes(c)) depth += 1
      else if (opens(c)) { depth -= 1; if (depth == 0) return i }
      i -= 1
    }
    -1
  }

  /** The first `)`/`]` at or after `from` that no group after `from`
    * opened — the end of the group `from` sits in — or `m.length`. */
  def groupEnd(m: String, from: Int): Int = {
    var depth = 0
    var i = from
    while (i < m.length) {
      val c = m.charAt(i)
      if (opens(c)) depth += 1
      else if (closes(c)) { if (depth == 0) return i; depth -= 1 }
      i += 1
    }
    m.length
  }

  /** True when every group in `m` closes and no close comes unopened. */
  def balanced(m: String): Boolean = {
    var depth = 0
    var i = 0
    while (i < m.length && depth >= 0) {
      val c = m.charAt(i)
      if (opens(c)) depth += 1 else if (closes(c)) depth -= 1
      i += 1
    }
    depth == 0
  }

  /** End of the clause starting at `from`: the first depth-0 `stops`
    * keyword or the end of the enclosing group, whichever comes first. */
  def clauseEnd(m: String, from: Int, stops: String*): Int =
    (groupEnd(m, from) +: stops.map(topLevelIndex(m, _, from)).filter(_ >= 0)).min

  /** [start, end) ranges of the depth-0 comma-separated pieces of
    * m[from, to) — always at least one; slice them from the original. */
  def commaRanges(m: String, from: Int, to: Int): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var depth = 0
    var start = from
    var i = from
    while (i < to) {
      val c = m.charAt(i)
      if (opens(c)) depth += 1
      else if (closes(c)) depth -= 1
      else if (c == ',' && depth == 0) { out += ((start, i)); start = i + 1 }
      i += 1
    }
    out += ((start, to))
    out.result()
  }

  /** Depth-0 comma pieces of the ORIGINAL text `s` (masked here), each
    * untrimmed. */
  def splitTop(s: String): Seq[String] =
    commaRanges(mask(s), 0, s.length).map { case (a, b) => s.substring(a, b) }

  /** Trimmed depth-0 comma elements of sql[from, to), split on its mask. */
  def splitElems(sql: String, m: String, from: Int, to: Int): Seq[String] =
    commaRanges(m, from, to).map { case (a, b) => sql.substring(a, b).trim }

  /** Index of the first depth-0 occurrence at or after `from` of the
    * case-insensitive keyword sequence `kw` ("ORDER BY" matches across
    * any whitespace run), or -1. Depth counts from `from`. */
  def topLevelIndex(m: String, kw: String, from: Int = 0): Int =
    find(m, kw, from, anyDepth = false)

  /** Like [[topLevelIndex]], at any depth. */
  def anyDepthIndex(m: String, kw: String, from: Int = 0): Int =
    find(m, kw, from, anyDepth = true)

  /** The last depth-0 occurrence of `kw` in `m`, or -1. */
  def lastTopLevelIndex(m: String, kw: String): Int = {
    var last = -1
    var at = topLevelIndex(m, kw)
    while (at >= 0) { last = at; at = topLevelIndex(m, kw, at + kw.length) }
    last
  }

  /** The matches of `re` on `m` that start at depth 0. */
  def topLevelMatches(m: String, re: Regex): Iterator[Regex.Match] = {
    var depth = 0
    var i = 0
    re.findAllMatchIn(m).filter { hit =>
      while (i < hit.start) {
        val c = m.charAt(i)
        if (opens(c)) depth += 1 else if (closes(c)) depth -= 1
        i += 1
      }
      depth == 0
    }
  }

  private def find(m: String, kw: String, from: Int, anyDepth: Boolean): Int = {
    val words = kw.toUpperCase(java.util.Locale.ROOT).split("\\s+")
    var depth = 0
    var i = from
    while (i < m.length) {
      val c = m.charAt(i)
      if (opens(c)) depth += 1
      else if (closes(c)) depth -= 1
      else if ((anyDepth || depth == 0) && matchWords(m, i, words) >= 0) return i
      i += 1
    }
    -1
  }

  /** Backward walk over the expression primary ending before `end`
    * (whitespace before `end` skipped): identifier chains (dots,
    * backticks, literal chars) and balanced `()`/`[]` groups, so a call,
    * a parenthesized expression and prior subscripts all belong to it.
    * Operators end the walk. Returns the primary's start, or -1 when
    * there is none. */
  def primaryStart(m: String, end: Int): Int = {
    var s = end - 1
    while (s >= 0 && m.charAt(s).isWhitespace) s -= 1
    val first = s
    var scanning = true
    while (scanning && s >= 0) {
      val c = m.charAt(s)
      if (isWordChar(c) || c == '.' || c == '`' || c == '\'' || c == '\u0001') s -= 1
      else if (closes(c)) { val o = openOf(m, s); s = if (o < 0) -1 else o - 1 }
      else scanning = false
    }
    if (s + 1 > first) -1 else s + 1
  }
}
