package graft.core

import scala.collection.mutable.ArrayBuffer

/** Treebank-style word tokenizer + the reference's offset-tracking scan.
  *
  * The reference calls `nltk.word_tokenize` (Punkt sentence split +
  * Treebank word tokenizer) on each sentence string, then recovers char
  * offsets with a running `txt.find(tok, offset)` scan
  * (ml/extract-features.py:17-38). No NLTK exists on the JVM, so this is
  * a from-scratch implementation of the *published* Treebank tokenizer
  * rules (Robert MacIntyre's PTB sed script, as circulated in open-source
  * tokenizers) plus a rule-based sentence splitter standing in for Punkt.
  *
  * The word tokenizer is one hand-written scanner over a reused char
  * buffer: no regex, no intermediate strings. It replays the Treebank
  * rules in their published order with Java-regex semantics (leftmost
  * non-overlapping matches, `$` before a final line terminator,
  * Unicode `\w`/`\b` and case folding where the rule is Unicode-aware).
  * One pre-scan records which trigger characters the sentence holds; a
  * rule none of whose trigger characters occur costs nothing, so a plain
  * sentence takes the pre-scan, the final-period splice and the split.
  * The regex implementation it replaced lives on in `src/test` as
  * `TokenizeRegexOracle`, the differential oracle of TokenizeSpec and
  * the PropertySpec parity property.
  *
  * Parity-critical quirks reproduced exactly:
  *   - `"` is rewritten to ``` `` ```/`''`, so the offset scan's
  *     `find` returns -1 for those tokens: start = -1, end = len(tok)-2,
  *     and the cursor moves to `-1 + len(tok)` (W3, SURVEY §2.5).
  *   - end offsets are INCLUSIVE: `end = start + len - 1`.
  *   - the scan never resets: after a miss the cursor can move backwards.
  *
  * Known limitation (documented, not fixed): offsets are UTF-16 code
  * units (Java String indexing) while Python's `str.find` counts code
  * points — they diverge only for astral (non-BMP) characters, which the
  * DDI corpus does not contain. A corpus with emoji/astral chars would
  * shift offsets after each such char relative to the reference
  * (TokenizeSpec pins the UTF-16 behaviour).
  */
object Tokenize {

  /** Treebank tokenization of a single (already-split) sentence. */
  def treebankWords(sent: String): Vector[String] = {
    val sc = new Scanner(sent)
    val out = Vector.newBuilder[String]
    sc.foreachToken((buf, from, until) => out += new String(buf, from, until - from))
    out.result()
  }

  /** Receives one token as `buf(from until until)`. */
  private trait TokenSink {
    def apply(buf: Array[Char], from: Int, until: Int): Unit
  }

  // ---- character classes (Java regex semantics) -----------------------

  private def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** `\w` under UNICODE_CHARACTER_CLASS (java.util.regex.CharPredicates.WORD). */
  private[core] def isWordU(cp: Int): Boolean =
    Character.isAlphabetic(cp) ||
      ((((1 << Character.NON_SPACING_MARK) | (1 << Character.ENCLOSING_MARK) |
        (1 << Character.COMBINING_SPACING_MARK) | (1 << Character.DECIMAL_DIGIT_NUMBER) |
        (1 << Character.CONNECTOR_PUNCTUATION)) >> Character.getType(cp)) & 1) != 0 ||
      cp == 0x200C || cp == 0x200D

  /** `\s` under UNICODE_CHARACTER_CLASS (CharPredicates.WHITE_SPACE). */
  private[core] def isSpaceU(cp: Int): Boolean =
    (((1 << Character.SPACE_SEPARATOR) | (1 << Character.LINE_SEPARATOR) |
      (1 << Character.PARAGRAPH_SEPARATOR)) >> Character.getType(cp) & 1) != 0 ||
      (cp >= 0x9 && cp <= 0xd) || cp == 0x85

  /** Case-insensitive literal match under UNICODE_CASE: `c` matches the
    * lower-case pattern char `p` iff `lower(upper(c)) == p`.
    */
  private def foldsTo(c: Int, p: Char): Boolean =
    Character.toLowerCase(Character.toUpperCase(c)) == p

  /** The char `toLowerCase(ROOT)` maps `c` to, where that is one char;
    * U+0130 maps to two (`i` + combining dot) and is returned unchanged.
    */
  private def lowerRoot(c: Char): Char =
    if (c < 128) (if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
    else if (c == 'İ') c
    else Character.toLowerCase(c)

  private def isQuote(c: Char): Boolean =
    c == '«' || c == '“' || c == '‘' || c == '„' || c == '`' || c == '"' || c == '\'' ||
      c == '»' || c == '”' || c == '’'

  // trigger-char bits of the pre-scan
  private final val Quote = 1
  private final val Dot = 2
  private final val ColonComma = 4
  private final val Symbol = 8 // ;@#$%&
  private final val QuestBang = 16
  private final val Apos = 32
  private final val Star = 64
  private final val Bracket = 128
  private final val Dash = 256
  private final val DotDot = 512

  private def isBracket(c: Char): Boolean =
    c == '[' || c == ']' || c == '(' || c == ')' || c == '{' || c == '}' || c == '<' || c == '>'

  /** Contraction words the oracle's fast path looks for in the
    * `toLowerCase(ROOT)` text before running the (Unicode case-folding)
    * contraction rules; kept as a gate so the scanner takes the same
    * branch on every input.
    */
  private val ContractionWords = Array("cannot", "gimme", "gonna", "gotta", "lemme", "wanna")

  /** One sentence's working text. Every rule reads `a(0 until n)` and
    * writes its result to `b`, then the two swap.
    */
  private final class Scanner(sent: String) {
    private var n = sent.length
    private var a = new Array[Char](2 * n + 16)
    private var b = new Array[Char](2 * n + 16)
    private var m = 0
    sent.getChars(0, n, a, 0)

    private def put(c: Char): Unit = {
      if (m == b.length) b = java.util.Arrays.copyOf(b, 2 * m)
      b(m) = c
      m += 1
    }
    private def putRange(from: Int, until: Int): Unit = {
      var i = from
      while (i < until) { put(a(i)); i += 1 }
    }
    /** Appends to the working text itself (tail rewrites). */
    private def append(c: Char): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, 2 * n)
      a(n) = c
      n += 1
    }
    private def appendAll(src: Array[Char], from: Int, until: Int): Unit = {
      var i = from
      while (i < until) { append(src(i)); i += 1 }
    }
    private def swap(): Unit = {
      val t = a; a = b; b = t
      n = m; m = 0
    }
    private def at(i: Int): Char = if (i >= 0 && i < n) a(i) else '\u0000'

    private def cpAt(i: Int): Int = Character.codePointAt(a, i, n)
    private def cpBefore(i: Int): Int = Character.codePointBefore(a, i, 0)

    /** `\b` (Unicode) at position i. */
    private def boundary(i: Int): Boolean =
      (i > 0 && isWordU(cpBefore(i))) != (i < n && isWordU(cpAt(i)))

    /** Non-multiline `$` at position i: end of input, or before a final
      * line terminator (`\r\n` counts as one).
      */
    private def dollar(i: Int): Boolean =
      i == n ||
        (i == n - 1 && {
          val c = a(i)
          (c == '\n' && !(i > 0 && a(i - 1) == '\r')) || c == '\r' || c == '\u0085' || (c | 1) == 0x2029
        }) ||
        (i == n - 2 && a(i) == '\r' && a(i + 1) == '\n')

    /** Fold-matches the lower-case ASCII literal `w` at position i. */
    private def foldMatch(i: Int, w: String): Boolean = {
      if (i < 0 || i + w.length > n) return false
      var j = 0
      while (j < w.length) {
        if (!foldsTo(a(i + j), w.charAt(j))) return false
        j += 1
      }
      true
    }

    private def flags(): Int = {
      var f = 0
      var i = 0
      while (i < n) {
        val c = a(i)
        if (c < 128) {
          c match {
            case '.' => f |= (if (i + 1 < n && a(i + 1) == '.') Dot | DotDot else Dot)
            case ':' | ','                             => f |= ColonComma
            case ';' | '@' | '#' | '$' | '%' | '&'     => f |= Symbol
            case '?' | '!'                             => f |= QuestBang
            case '*'                                   => f |= Star
            case '-' => if (i + 1 < n && a(i + 1) == '-') f |= Dash
            case '\'' | '"' | '`'                      => f |= Quote | (if (c == '\'') Apos else 0)
            case _ => if (isBracket(c)) f |= Bracket
          }
        } else if (isQuote(c)) f |= Quote
        i += 1
      }
      f
    }

    /** Surrounds every char matching `p` with spaces. */
    private def spaceAround(p: Char => Boolean): Unit = {
      var i = 0
      while (i < n) {
        val c = a(i)
        if (p(c)) { put(' '); put(c); put(' ') } else put(c)
        i += 1
      }
      swap()
    }

    /** Replaces every non-overlapping `lit` with `" " + lit + " "`. */
    private def spacePairs(c0: Char, c1: Char): Unit = {
      var i = 0
      while (i < n) {
        if (a(i) == c0 && i + 1 < n && a(i + 1) == c1) { put(' '); put(c0); put(c1); put(' '); i += 2 }
        else { put(a(i)); i += 1 }
      }
      swap()
    }

    // ---- starting quotes ----

    /** Surrounds every maximal run of `c` at least `min` long with spaces. */
    private def spaceRuns(c: Char, min: Int): Unit = {
      var i = 0
      while (i < n) {
        var j = i
        while (j < n && a(j) == c) j += 1
        if (j - i >= min) { put(' '); putRange(i, j); put(' '); i = j }
        else { put(a(i)); i += 1 }
      }
      swap()
    }

    /** `([«“‘„]|[`]+)` -> `" $1 "`, then `^"` -> `` ` ``, then `(``)` -> `" $1 "`. */
    private def startingQuotes(): Unit = {
      spaceAround(c => c == '«' || c == '“' || c == '‘' || c == '„')
      spaceRuns('`', 1)
      if (n > 0 && a(0) == '"') { put('`'); put('`'); putRange(1, n); swap() }
      spacePairs('`', '`')
      // ([ \(\[{<])("|'{2}) -> "$1 `` "
      var j = 0
      while (j < n) {
        val c = a(j)
        val open = c == ' ' || c == '(' || c == '[' || c == '{' || c == '<'
        val len =
          if (!open) 0
          else if (at(j + 1) == '"') 1
          else if (at(j + 1) == '\'' && at(j + 2) == '\'') 2
          else 0
        if (len > 0) { put(c); put(' '); put('`'); put('`'); put(' '); j += 1 + len }
        else { put(c); j += 1 }
      }
      swap()
      // (?i)(')(?!re|ve|ll|m|t|s|d|n)(\w)\b -> "$1 $2"
      var k = 0
      while (k < n) {
        val c = a(k)
        var took = false
        if (c == '\'' && k + 1 < n) {
          val cp = cpAt(k + 1)
          val after = k + 1 + Character.charCount(cp)
          if (isWordU(cp) &&
              !(foldMatch(k + 1, "re") || foldMatch(k + 1, "ve") || foldMatch(k + 1, "ll") ||
                foldsTo(cp, 'm') || foldsTo(cp, 't') || foldsTo(cp, 's') || foldsTo(cp, 'd') ||
                foldsTo(cp, 'n')) &&
              boundary(after)) {
            put('\''); put(' '); putRange(k + 1, after)
            k = after
            took = true
          }
        }
        if (!took) { put(c); k += 1 }
      }
      swap()
    }

    // ---- punctuation ----

    /** `([^\.])(\.)([C]*)\s*$` -> `"$1 $2 $3 "` (or `"$1 $2$3 "` when
      * `!spaced`), where C is `closers`. Only the last period can match:
      * nothing after it may be a period.
      */
    private def finalPeriod(closers: String, spaced: Boolean): Unit = {
      var q = n - 1
      while (q >= 0 && a(q) != '.') q -= 1
      if (q < 1 || a(q - 1) == '.') return
      val t0 = q + 1
      var x = t0
      while (x < n && closers.indexOf(a(x)) >= 0) x += 1
      // greedy C* then \s*, backtracking like the regex engine
      var cEnd = -1
      var wsEnd = -1
      while (cEnd < 0 && x >= t0) {
        var y = x
        while (y < n && isAsciiSpace(a(y))) y += 1
        while (cEnd < 0 && y >= x) { if (dollar(y)) { cEnd = x; wsEnd = y } else y -= 1 }
        x -= 1
      }
      if (cEnd < 0) return
      val tail = java.util.Arrays.copyOfRange(a, t0, n)
      n = q
      append(' '); append('.')
      if (spaced) append(' ')
      appendAll(tail, 0, cEnd - t0)
      append(' ')
      appendAll(tail, wsEnd - t0, tail.length)
    }

    /** `([:,])([^\d])` -> `" $1 $2"`, then `([:,])$` -> `" $1 "`. */
    private def colonsCommas(): Unit = {
      var i = 0
      while (i < n) {
        val c = a(i)
        if ((c == ':' || c == ',') && i + 1 < n && !(a(i + 1) >= '0' && a(i + 1) <= '9')) {
          put(' '); put(c); put(' '); put(a(i + 1)); i += 2
        } else { put(c); i += 1 }
      }
      swap()
      // `$` needs the end or a final line terminator after the match, so
      // only the last three positions can hold it
      i = math.max(0, n - 3)
      while (i < n && !((a(i) == ':' || a(i) == ',') && dollar(i + 1))) i += 1
      if (i < n) {
        val tail = java.util.Arrays.copyOfRange(a, i, n)
        n = i
        append(' '); append(tail(0)); append(' ')
        appendAll(tail, 1, tail.length)
      }
    }

    /** `([^'])' ` -> `"$1 ' "`. */
    private def apostropheSpace(): Unit = {
      var i = 0
      while (i < n) {
        val c = a(i)
        if (c != '\'' && at(i + 1) == '\'' && at(i + 2) == ' ') {
          put(c); put(' '); put('\''); put(' '); i += 3
        } else { put(c); i += 1 }
      }
      swap()
    }

    // ---- ending quotes ----

    private def endingQuotes(): Unit = {
      spaceAround(c => c == '»' || c == '”' || c == '’')
      spacePairs('\'', '\'')
      var i = 0
      while (i < n) {
        if (a(i) == '"') { put(' '); put('\''); put('\''); put(' ') } else put(a(i))
        i += 1
      }
      swap()
      // ([^' ])('[sS]|'[mM]|'[dD]|') -> "$1 $2 "
      i = 0
      while (i < n) {
        val c = a(i)
        val len =
          if (c == '\'' || c == ' ' || at(i + 1) != '\'') 0
          else {
            val c2 = at(i + 2)
            if ("sSmMdD".indexOf(c2) >= 0 && at(i + 3) == ' ') 2
            else if (c2 == ' ') 1
            else 0
          }
        if (len > 0) { put(c); put(' '); putRange(i + 1, i + 1 + len); put(' '); i += 2 + len }
        else { put(c); i += 1 }
      }
      swap()
      // ([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) -> "$1 $2 "
      i = 0
      while (i < n) {
        val c = a(i)
        if (c != '\'' && c != ' ' && at(i + 4) == ' ' && isClitic(i + 1)) {
          put(c); put(' '); putRange(i + 1, i + 4); put(' '); i += 5
        } else { put(c); i += 1 }
      }
      swap()
    }

    private def isClitic(i: Int): Boolean = {
      val c0 = a(i); val c1 = a(i + 1); val c2 = a(i + 2)
      if (c0 == '\'')
        (c1 == 'l' && c2 == 'l') || (c1 == 'L' && c2 == 'L') || (c1 == 'r' && c2 == 'e') ||
          (c1 == 'R' && c2 == 'E') || (c1 == 'v' && c2 == 'e') || (c1 == 'V' && c2 == 'E')
      else (c0 == 'n' && c1 == '\'' && c2 == 't') || (c0 == 'N' && c1 == '\'' && c2 == 'T')
    }

    // ---- contractions ----

    /** True iff the text holds an apostrophe, or its `toLowerCase(ROOT)`
      * form holds a contraction word (U+0130 lower-cases to two chars,
      * so it never completes one).
      */
    private def contractionGate(): Boolean = {
      var i = 0
      while (i < n) {
        if (a(i) == '\'') return true
        i += 1
      }
      i = 0
      while (i < n) {
        val l = lowerRoot(a(i))
        if (l == 'c' || l == 'g' || l == 'l' || l == 'w') {
          var w = 0
          while (w < ContractionWords.length) {
            val word = ContractionWords(w)
            if (i + word.length <= n) {
              var j = 0
              while (j < word.length && lowerRoot(a(i + j)) == word.charAt(j)) j += 1
              if (j == word.length) return true
            }
            w += 1
          }
        }
        i += 1
      }
      false
    }

    /** `(?i)\b(w1)(w2)\b` -> `" $1 $2 "`; with `spaceAfter`, the closing
      * `\b` is `(?=\s)` instead.
      */
    private def splitWord(w1: String, w2: String, spaceAfter: Boolean = false): Unit = {
      val w = w1 + w2
      val l = w.length
      var i = 0
      while (i < n) {
        if (foldMatch(i, w) && boundary(i) &&
            (if (spaceAfter) i + l < n && isSpaceU(cpAt(i + l)) else boundary(i + l))) {
          put(' '); putRange(i, i + w1.length); put(' '); putRange(i + w1.length, i + l); put(' ')
          i += l
        } else { put(a(i)); i += 1 }
      }
      swap()
    }

    /** `(?i) ('t)(w)\b` -> `" $1 $2 "`. */
    private def splitTis(w: String): Unit = {
      val l = 3 + w.length
      var i = 0
      while (i < n) {
        if (a(i) == ' ' && foldMatch(i + 1, "'t" + w) && boundary(i + l)) {
          put(' '); putRange(i + 1, i + 3); put(' '); putRange(i + 3, i + l); put(' ')
          i += l
        } else { put(a(i)); i += 1 }
      }
      swap()
    }

    private def contractions(): Unit = {
      splitWord("can", "not")
      splitWord("d", "'ye")
      splitWord("gim", "me")
      splitWord("gon", "na")
      splitWord("got", "ta")
      splitWord("lem", "me")
      splitWord("mor", "'n")
      splitWord("wan", "na", spaceAfter = true)
      splitTis("is")
      splitTis("was")
    }

    /** Runs the rules, then hands each whitespace-separated token to `f`. */
    def foreachToken(f: TokenSink): Unit = {
      val fl = flags()
      if ((fl & Quote) != 0) startingQuotes()
      if ((fl & Dot) != 0) finalPeriod("])}>\"'»”’ ", spaced = true)
      if ((fl & ColonComma) != 0) colonsCommas()
      if ((fl & DotDot) != 0) spaceRuns('.', 2) // \.{2,}
      if ((fl & Symbol) != 0) spaceAround(";@#$%&".indexOf(_) >= 0)
      if ((fl & Dot) != 0) finalPeriod("])}>\"'", spaced = false)
      if ((fl & QuestBang) != 0) spaceAround(c => c == '?' || c == '!')
      if ((fl & Apos) != 0) apostropheSpace()
      if ((fl & Star) != 0) spaceAround(_ == '*')
      if ((fl & Bracket) != 0) spaceAround(isBracket)
      if ((fl & Dash) != 0) spacePairs('-', '-')
      // the rules below see the text padded with one space on each side
      var padded = false
      def pad(): Unit = if (!padded) { put(' '); putRange(0, n); put(' '); swap(); padded = true }
      if ((fl & Quote) != 0) { pad(); endingQuotes() }
      if (contractionGate()) { pad(); contractions() }
      var i = 0
      while (i < n) {
        while (i < n && isAsciiSpace(a(i))) i += 1
        val s = i
        while (i < n && !isAsciiSpace(a(i))) i += 1
        if (i > s) f(a, s, i)
      }
    }
  }

  // ---- Sentence splitting (Punkt stand-in) ----------------------------

  /** Common abbreviations that must not end a sentence (biomedical text). */
  private val Abbrevs: Set[String] = Set(
    "e.g", "i.e", "i.v", "i.m", "p.o", "b.i.d", "t.i.d", "q.d", "vs",
    "dr", "mr", "mrs", "ms", "st", "no", "approx", "fig", "ref", "etc",
    "al", "inc", "ltd", "co", "spp", "resp"
  )

  /** Split on [.!?] followed by whitespace and an upper-case/digit/quote
    * start, unless the period terminates a known abbreviation or a single
    * capital initial. Biomedical sentence attrs are usually exactly one
    * sentence; this only matters when they aren't.
    */
  def splitSentences(text: String): Vector[String] = {
    val out = ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c == '.' || c == '!' || c == '?') {
        // lookahead: whitespace then sentence-start char
        var j = i + 1
        while (j < n && (text.charAt(j) == '"' || text.charAt(j) == '\'' || text.charAt(j) == ')' || text.charAt(j) == ']')) j += 1
        var k = j
        while (k < n && Character.isWhitespace(text.charAt(k))) k += 1
        val boundary =
          k > j && k < n && {
            val nc = text.charAt(k)
            Character.isUpperCase(nc) || Character.isDigit(nc) || nc == '"' || nc == '('
          } && {
            if (c != '.') true
            else {
              // word before the period
              var w = i - 1
              while (w >= 0 && !Character.isWhitespace(text.charAt(w))) w -= 1
              val word = text.substring(w + 1, i).toLowerCase(java.util.Locale.ROOT)
              val isAbbrev = Abbrevs.contains(word) ||
                (word.length == 1 && word.headOption.exists(_.isLetter)) ||
                word.exists(_ == '.') // internal periods: "i.v", "u.s"
              !isAbbrev
            }
          }
        if (boundary) {
          out += text.substring(start, j)
          start = k
          i = k
        } else i += 1
      } else i += 1
    }
    if (start < n) {
      val tail = text.substring(start)
      if (tail.exists(!Character.isWhitespace(_))) out += tail
    }
    if (out.isEmpty && text.nonEmpty) out += text
    out.toVector
  }

  // ---- Offset scan (ml/extract-features.py:30-38, quirks intact) ------

  /** Tokenize with char offsets, end inclusive: sentence split, Treebank
    * scan, then the reference's offset scan:
    * {{{
    * offset = 0
    * for t in word_tokenize(txt):
    *     offset = txt.find(t, offset)
    *     tks.append((t, offset, offset + len(t) - 1))
    *     offset += len(t)
    * }}}
    * `String.indexOf(tok, from)` matches Python `str.find(tok, from)` for
    * the non-negative cursors this loop produces (after a miss the cursor
    * is `-1 + len(tok) >= 0`).
    */
  def tokenize(txt: String): Vector[Tok] = {
    var offset = 0
    val out = Vector.newBuilder[Tok]
    val sink: TokenSink = (buf, from, until) => {
      val t = new String(buf, from, until - from)
      offset = txt.indexOf(t, offset)
      out += Tok(t, offset, offset + t.length - 1)
      offset += t.length
    }
    splitSentences(txt).foreach(s => new Scanner(s).foreachToken(sink))
    out.result()
  }
}
