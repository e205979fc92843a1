package graft.core

import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

/** The regex Treebank tokenizer that [[Tokenize]]'s scanner replaced,
  * kept verbatim as the differential oracle: TokenizeSpec and the
  * PropertySpec parity property compare the scanner's tokens and
  * offsets against this object on fixed and generated text. It applies
  * the published Treebank rules (Robert MacIntyre's PTB sed script) as
  * a chain of `replaceAll` passes, then the reference's offset scan.
  */
object TokenizeRegexOracle {

  // ---- Treebank rules -------------------------------------------------
  // Each rule is (pattern, replacement) applied with replaceAll in order.
  // `(?#X)` comment groups from the original are dropped (Java regex has
  // no inline comments); `\g<0>` becomes `$0`.

  private def P(p: String) = Pattern.compile(p)

  /** Unicode-aware compile for rules using \w or \b on letters: Python's
    * `re` (which NLTK uses) treats those as Unicode by default, while
    * Java defaults to ASCII — without this flag, accented words
    * (l'époque, Behçet) split differently than the reference.
    */
  private def PU(p: String) = Pattern.compile(p, Pattern.UNICODE_CHARACTER_CLASS)

  private val STARTING_QUOTES: Seq[(Pattern, String)] = Seq(
    P("([«“‘„]|[`]+)") -> " $1 ",
    P("^\"") -> "``",
    P("(``)") -> " $1 ",
    P("([ \\(\\[{<])(\"|'{2})") -> "$1 `` ",
    PU("(?i)(')(?!re|ve|ll|m|t|s|d|n)(\\w)\\b") -> "$1 $2"
  )

  /** (pattern, replacement, trigger chars): the rule is skipped when the
    * text contains none of the trigger chars — every pattern requires at
    * least one of them to match, so skipping is semantics-preserving.
    * Tokenization is ~50% of the scoring pass; these guards cut the
    * common case from 9 regex scans to 1-3.
    */
  private val PUNCTUATION: Seq[(Pattern, String, String)] = Seq(
    (P("([^\\.])(\\.)([\\]\\)}>\"'»”’ ]*)\\s*$"), "$1 $2 $3 ", "."),
    (P("([:,])([^\\d])"), " $1 $2", ":,"),
    (P("([:,])$"), " $1 ", ":,"),
    (P("\\.{2,}"), " $0 ", "."),
    (P("[;@#$%&]"), " $0 ", ";@#$%&"),
    (P("([^\\.])(\\.)([\\]\\)}>\"']*)\\s*$"), "$1 $2$3 ", "."),
    (P("[?!]"), " $0 ", "?!"),
    (P("([^'])' "), "$1 ' ", "'"),
    (P("[*]"), " $0 ", "*")
  )

  private val PARENS_BRACKETS: (Pattern, String) =
    P("[\\]\\[\\(\\)\\{\\}<>]") -> " $0 "

  private val DOUBLE_DASHES: (Pattern, String) = P("--") -> " -- "

  private val ENDING_QUOTES: Seq[(Pattern, String)] = Seq(
    P("([»”’])") -> " $1 ",
    P("''") -> " '' ",
    P("\"") -> " '' ",
    P("([^' ])('[sS]|'[mM]|'[dD]|') ") -> "$1 $2 ",
    P("([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) ") -> "$1 $2 "
  )

  private val CONTRACTIONS2: Seq[Pattern] = Seq(
    PU("(?i)\\b(can)(not)\\b"),
    PU("(?i)\\b(d)('ye)\\b"),
    PU("(?i)\\b(gim)(me)\\b"),
    PU("(?i)\\b(gon)(na)\\b"),
    PU("(?i)\\b(got)(ta)\\b"),
    PU("(?i)\\b(lem)(me)\\b"),
    PU("(?i)\\b(mor)('n)\\b"),
    PU("(?i)\\b(wan)(na)(?=\\s)")
  )

  private val CONTRACTIONS3: Seq[Pattern] = Seq(
    PU("(?i) ('t)(is)\\b"),
    PU("(?i) ('t)(was)\\b")
  )

  private def applyAll(text0: String, rules: Seq[(Pattern, String)]): String = {
    var text = text0
    rules.foreach { case (p, r) => text = p.matcher(text).replaceAll(r) }
    text
  }

  /** True iff `s` contains any char of `chars` (allocation-free guard —
    * lets the hot path skip whole regex groups whose trigger characters
    * are absent; semantics identical because every skipped pattern
    * requires at least one of those chars to match).
    */
  private def containsAny(s: String, chars: String): Boolean = {
    var i = 0
    val n = s.length
    while (i < n) {
      if (chars.indexOf(s.charAt(i)) >= 0) return true
      i += 1
    }
    false
  }

  // lowercase-only: the trigger scan lowercases the text first, so
  // ALL-CAPS/mixed-case contraction words still enter the rule group
  // (the CONTRACTIONS2 patterns are (?i)); apostrophe forms ('tis,
  // d'ye, mor'n, n't...) are covered by the separate '\'' check
  private val WordContractionTriggers =
    Seq("cannot", "gimme", "gonna", "gotta", "lemme", "wanna")

  /** Treebank tokenization of a single (already-split) sentence. */
  def treebankWords(sent: String): Vector[String] = {
    val hasQuote = containsAny(sent, "«“‘„`\"'»”’")
    var text = if (hasQuote) applyAll(sent, STARTING_QUOTES) else sent
    PUNCTUATION.foreach { case (p, r, trigger) =>
      if (containsAny(text, trigger)) text = p.matcher(text).replaceAll(r)
    }
    if (containsAny(text, "[](){}<>"))
      text = PARENS_BRACKETS._1.matcher(text).replaceAll(PARENS_BRACKETS._2)
    if (text.contains("--"))
      text = DOUBLE_DASHES._1.matcher(text).replaceAll(DOUBLE_DASHES._2)
    text = " " + text + " "
    if (hasQuote) {
      text = applyAll(text, ENDING_QUOTES)
    }
    if (text.indexOf('\'') >= 0 || {
          val lower = text.toLowerCase(java.util.Locale.ROOT)
          WordContractionTriggers.exists(lower.contains)
        }) {
      CONTRACTIONS2.foreach(p => text = p.matcher(text).replaceAll(" $1 $2 "))
      CONTRACTIONS3.foreach(p => text = p.matcher(text).replaceAll(" $1 $2 "))
    }
    // precompiled: String.split("\\s+") would recompile the regex per call
    Whitespace.split(text).iterator.filter(_.nonEmpty).toVector
  }

  private val Whitespace = Pattern.compile("\\s+")

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

  /** `nltk.word_tokenize` equivalent: sentence-split, then Treebank. */
  def wordTokenize(text: String): Vector[String] =
    splitSentences(text).flatMap(treebankWords)

  // ---- Offset scan (ml/extract-features.py:30-38, quirks intact) ------

  /** Tokenize with char offsets, end inclusive. Mirrors:
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
    val out = ArrayBuffer.empty[Tok]
    wordTokenize(txt).foreach { t =>
      offset = txt.indexOf(t, offset)
      out += Tok(t, offset, offset + t.length - 1)
      offset += t.length
    }
    out.toVector
  }
}
