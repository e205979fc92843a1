package graft.core

import org.scalatest.funsuite.AnyFunSuite

class TokenizeSpec extends AnyFunSuite {

  private def forms(txt: String): Vector[String] =
    Tokenize.tokenize(txt).map(_.form)

  test("plain words with final period") {
    assert(forms("Warfarin interacts with aspirin.") ==
      Vector("Warfarin", "interacts", "with", "aspirin", "."))
  }

  test("offsets are inclusive and correct for plain text") {
    val t = Tokenize.tokenize("Warfarin interacts with aspirin.")
    assert(t(0) == Tok("Warfarin", 0, 7))
    assert(t(3) == Tok("aspirin", 24, 30))
    assert(t(4) == Tok(".", 31, 31))
  }

  test("comma and semicolon split") {
    assert(forms("probenecid, sulfinpyrazone; and phenylbutazone.") ==
      Vector("probenecid", ",", "sulfinpyrazone", ";", "and", "phenylbutazone", "."))
  }

  test("colon before non-digit splits, stays attached in ratios") {
    assert(forms("Uricosuric Agents: Aspirin") ==
      Vector("Uricosuric", "Agents", ":", "Aspirin"))
    assert(forms("a 1:2 ratio") == Vector("a", "1:2", "ratio"))
  }

  test("contractions split like the Treebank tokenizer") {
    assert(forms("don't stop") == Vector("do", "n't", "stop"))
    assert(forms("it's fine") == Vector("it", "'s", "fine"))
    assert(forms("cannot") == Vector("can", "not"))
    // the (?i) rules apply regardless of case — the trigger fast-path
    // must not skip ALL-CAPS words (parity fix, round 2)
    assert(forms("You CANNOT stop") == Vector("You", "CAN", "NOT", "stop"))
    assert(forms("GONNA try") == Vector("GON", "NA", "try"))
    // NLTK's rule is (mor)('n), not (more)('n)
    assert(forms("mor'n enough") == Vector("mor", "'n", "enough"))
  }

  test("parentheses and brackets are separate tokens") {
    assert(forms("aspirin (500 mg) daily") ==
      Vector("aspirin", "(", "500", "mg", ")", "daily"))
  }

  test("double quotes rewritten to ``/'' with find=-1 offsets (W3 quirk)") {
    val txt = "The \"loading dose\" of warfarin"
    val t = Tokenize.tokenize(txt)
    assert(t.map(_.form) ==
      Vector("The", "``", "loading", "dose", "''", "of", "warfarin"))
    // `` not found in original: start=-1, end=len-2=0; cursor moved to 1
    assert(t(1) == Tok("``", -1, 0))
    assert(t(4) == Tok("''", -1, 0))
    // tokens after a miss recover once the surface matches again
    assert(t(6).form == "warfarin")
    assert(t(6).start == txt.indexOf("warfarin"))
  }

  test("mid-text period followed by capital splits sentences (final-period rule applies per sentence)") {
    assert(forms("Dose was reduced. Bleeding stopped.") ==
      Vector("Dose", "was", "reduced", ".", "Bleeding", "stopped", "."))
  }

  test("abbreviations do not split sentences") {
    assert(forms("given i.v. daily") == Vector("given", "i.v.", "daily"))
    // e.g. stays one token (no sentence break, no final-period rule)
    assert(forms("drugs, e.g. aspirin, help") ==
      Vector("drugs", ",", "e.g.", "aspirin", ",", "help"))
  }

  test("percent, slash-free dose strings") {
    assert(forms("a 5% solution & more") == Vector("a", "5", "%", "solution", "&", "more"))
  }

  test("empty text yields no tokens") {
    assert(Tokenize.tokenize("").isEmpty)
  }

  test("hyphenated words stay whole") {
    assert(forms("beta-adrenergic blockers") == Vector("beta-adrenergic", "blockers"))
  }

  test("question/exclamation split") {
    assert(forms("Does it interact? Yes!") == Vector("Does", "it", "interact", "?", "Yes", "!"))
  }

  test("a non-BMP character counts two UTF-16 units in the offsets") {
    // U+1D49C is one code point but two Java chars: tokens after it sit
    // one unit further right than Python's code-point offsets would
    val t = Tokenize.tokenize("\uD835\uDC9C inhibits warfarin.")
    assert(t == Vector(Tok("\uD835\uDC9C", 0, 1), Tok("inhibits", 3, 10),
      Tok("warfarin", 12, 19), Tok(".", 20, 20)))
    assert(TokenizeRegexOracle.tokenize("\uD835\uDC9C inhibits warfarin.") == t)
  }

  test("scanner equals the regex oracle on quotes, contractions and trailing punctuation") {
    val cases = Seq(
      "The \"loading dose\" of warfarin", "\"Quoted\" start", "``Already'' quoted", "«guillemets» and „low“",
      "it's, e.g., fine.", "Don't: CANNOT; 'tis D'ye WANNA go?!", "a -- b --- c", "end...", "x.)\" ",
      "Müller's 'x' 'a'", "(a) [b] {c} <d>", "*bold* @home #tag $5 50% A&B", "tab\tsep.\t",
      "line\u2028end.", "gımme ſome 'tiſ", "''start", " ''inner'' ", "don't ", "can't.'", "")
    cases.foreach { txt =>
      assert(Tokenize.tokenize(txt) == TokenizeRegexOracle.tokenize(txt), s"on [$txt]")
      assert(Tokenize.treebankWords(txt) == TokenizeRegexOracle.treebankWords(txt), s"words on [$txt]")
    }
  }
}
