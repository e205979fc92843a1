package graft

import graft.core.{GoldSpan, Tok, TaggedTok, Tokenize}
import graft.ner.{Decode, Features}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY §5 test plan): randomized invariants over the
  * pure per-sentence stages.
  *
  * - decode ∘ tag round-trip: for token-aligned, non-adjacent spans the
  *   tag → decode chain recovers exactly the gold spans (non-adjacent
  *   because the reference's decoder drops an open entity when a B
  *   follows immediately — the B-after-B quirk, tested separately in
  *   DecodeSpec);
  * - tokenizer offsets: on quote-free text, token spans are in-order,
  *   non-overlapping, and each token's form equals the substring at its
  *   offsets whenever the tokenizer did not rewrite the form;
  * - decode totality: any tag sequence decodes without throwing, and
  *   every emitted mention's type comes from some tag in the input.
  */
class PropertySpec extends AnyFunSuite {

  /** Run a Prop with a fixed seed (deterministic CI) and 300 cases. */
  private def check(prop: Prop, cases: Int = 300): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(cases)
        .withInitialSeed(Seed(42L)),
      prop)
    assert(res.passed, res.status.toString)
  }

  private val word: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  private val etypes = Seq("drug", "group", "brand", "drug_n")

  /** Sentence of 1..20 words, single-space separated. */
  private val sentenceGen: Gen[List[String]] = Gen.choose(1, 20).flatMap(Gen.listOfN(_, word))

  private def toksOf(words: List[String]): Vector[Tok] = {
    var off = 0
    words.map { w =>
      val t = Tok(w, off, off + w.length - 1)
      off += w.length + 1
      t
    }.toVector
  }

  test("property: decode ∘ tag recovers token-aligned, non-adjacent gold spans exactly") {
    val gen = for {
      words <- sentenceGen
      n = words.length
      // pick span starts/lengths greedily with at least one O token gap
      picks <- Gen.listOfN(n, Gen.choose(0, 9)) // decision stream
      types <- Gen.listOfN(n, Gen.oneOf(etypes))
    } yield (words, picks, types)

    check(Prop.forAll(gen) { case (words, picks, types) =>
      val toks = toksOf(words)
      val n = toks.length
      // deterministic span construction from the decision stream:
      // at index i (if free), picks(i) < 4 opens a span of picks(i)+1
      // tokens (clamped), then one token must stay O (gap)
      val spans = Vector.newBuilder[GoldSpan]
      var i = 0
      var id = 0
      while (i < n) {
        if (picks(i) < 4) {
          val len = math.min(picks(i) + 1, n - i)
          val s = toks(i)
          val e = toks(i + len - 1)
          spans += GoldSpan(s"e$id", s.start, e.end, types(i),
            words.slice(i, i + len).mkString(" "), s"${s.start}-${e.end}")
          id += 1
          i += len + 1 // gap token stays O
        } else i += 1
      }
      val gold = spans.result()
      val tagged = toks.map(t => TaggedTok(t.form, t.start, t.end, Features.getTag(t, gold)))
      val decoded = Decode.decode("s1", tagged)
      assert(decoded.map(m => (m.start, m.end, m.etype)) ==
        gold.map(g => (g.start, g.end, g.etype)),
        s"gold=$gold tagged=${tagged.map(_.tag)} decoded=$decoded")
      // and the reconstructed text is the space-joined token forms
      assert(decoded.map(_.text) == gold.map(_.text))
      true
    })
  }

  test("property: tokenizer offsets are ordered, non-overlapping, substring-faithful on safe text") {
    val safeWord: Gen[String] = Gen.choose(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        8 -> Gen.alphaChar,
        1 -> Gen.numChar,
        1 -> Gen.oneOf('-', '.', ','))).map(_.mkString))
    val textGen = Gen.choose(1, 15).flatMap(Gen.listOfN(_, safeWord)).map(_.mkString(" "))
    check(Prop.forAll(textGen) { txt =>
      val toks = Tokenize.tokenize(txt)
      // in-order and non-overlapping for non-rewritten tokens
      val located = toks.filter(t => t.start >= 0)
      located.sliding(2).foreach {
        case Vector(a, b) => assert(b.start > a.end, s"overlap: $a $b in '$txt'")
        case _ =>
      }
      located.foreach { t =>
        if (t.start + t.form.length <= txt.length &&
          txt.substring(t.start, t.start + t.form.length) == t.form) {
          assert(t.end == t.start + t.form.length - 1, s"end mismatch for $t")
        }
      }
      // every alphanumeric char of the input is covered by some token
      val covered = located.flatMap(t => t.start to t.end).toSet
      txt.zipWithIndex.foreach { case (c, i) =>
        if (c.isLetterOrDigit) assert(covered.contains(i), s"char $i '$c' uncovered in '$txt'")
      }
      true
    })
  }

  test("property: the Treebank scanner equals the regex oracle on DocGen and adversarial text") {
    import graft.core.{ParseDoc, TokenizeRegexOracle}
    import graft.fixtures.DocGen
    val docGenText: Gen[String] = Gen.choose(0L, 100000L).map { i =>
      ParseDoc("r", DocGen.docXml(42L, i)).map(_.text).mkString(" ")
    }
    val pieces = Seq(
      "«", "»", "“", "”", "‘", "’", "„", "`", "``", "'", "''", "\"", "--", "---", "...", "..", ".",
      "(", ")", "[", "]", "{", "}", "<", ">", ";", "@", "#", "$", "%", "&", "*", "?", "!", ":", ",",
      "can't", "CAN'T", "Can't", "cannot", "CANNOT", "CanNot", "'tis", "'TIS", "'Twas", "d'ye", "D'YE",
      "wanna", "WANNA", "Wanna", "gimme", "GONNA", "gotta", "Lemme", "mor'n", "don't", "WON'T", "it's",
      "I'M", "we'll", "THEY'RE", "you've", "he'd", "'s", "n't",
      "café", "naïve", "Behçet", "l'époque", "Ångström", "Müller's", "𝒜", "😀",
      // case-folding and line-terminator edge cases of the regex semantics
      "gımme", "'tiſ", "İ", "\r\n", "\u2028", "\u0085", "\u00a0",
      "warfarin", "Aspirin", "e.g.", "i.v.", "1", "10", "1,000", "1:2", "5%", "a", "X")
    val sep = Gen.frequency(6 -> Gen.const(" "), 2 -> Gen.const(""), 1 -> Gen.oneOf("  ", "\t", "\n"))
    val adversarial: Gen[String] = Gen.choose(1, 14).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.oneOf(pieces), sep)).map(_.map { case (p, s) => p + s }.mkString))
    check(Prop.forAll(Gen.frequency(1 -> docGenText, 3 -> adversarial)) { txt =>
      val got = Tokenize.tokenize(txt)
      val want = TokenizeRegexOracle.tokenize(txt)
      assert(got == want, s"scanner != oracle on [$txt]")
      true
    }, cases = 2500)
  }

  test("property: decode never throws and only emits types present in the tags") {
    val tagGen = Gen.oneOf(
      Gen.const("O"),
      Gen.oneOf(etypes).map("B-" + _),
      Gen.oneOf(etypes).map("I-" + _))
    val gen = for {
      words <- sentenceGen
      tags <- Gen.listOfN(words.length, tagGen)
    } yield (words, tags)
    check(Prop.forAll(gen) { case (words, tags) =>
      val toks = toksOf(words)
      val tagged = toks.zip(tags).map { case (t, y) => TaggedTok(t.form, t.start, t.end, y) }
      val ms = Decode.decode("s1", tagged)
      val tagTypes = tags.collect { case t if t != "O" => t.drop(2) }.toSet
      ms.foreach { m =>
        assert(tagTypes.contains(m.etype))
        assert(m.start >= 0 && m.end >= m.start)
      }
      true
    })
  }

  test("property: perceptron weight rows are zero-sum, fit deterministic, decide total") {
    import graft.ddi.{Perceptron, Relations}
    // every update adds +c to the true class and -c to the predicted one
    // in the SAME feature row, and the lazy-average accumulator mirrors
    // it — so each (raw and averaged) weight row must sum to 0
    val feat: Gen[String] = Gen.oneOf("a", "b", "c", "d", "e").map("f=" + _)
    val exGen: Gen[IndexedSeq[(Seq[String], String)]] = for {
      n <- Gen.choose(0, 30)
      xs <- Gen.listOfN(n, for {
        k <- Gen.choose(1, 4)
        fs <- Gen.listOfN(k, feat)
        y <- Gen.oneOf("none", "effect", "advise", "int")
      } yield (fs: Seq[String], y))
    } yield xs.toIndexedSeq
    check(Prop.forAll(exGen) { xs =>
      val p1 = Perceptron.fit(xs, epochs = 3)
      val p2 = Perceptron.fit(xs, epochs = 3)
      val zeroSum = p1.weights.values.forall(w =>
        math.abs(w.sum) <= 1e-9 * (1.0 + w.map(math.abs).sum))
      val deterministic = p1.classes.sameElements(p2.classes) &&
        p1.weights.keySet == p2.weights.keySet &&
        p1.weights.forall { case (f, w) => w.sameElements(p2.weights(f)) }
      val d = Relations.decide(p1, xs.headOption.map(_._1).getOrElse(Seq("f=unseen")))
      val total = d == "none" || p1.classes.contains(d)
      zeroSum && deterministic && total
    })
  }

  test("property: pairFeatures is total, deterministic, and lowercases lexical features") {
    import graft.ddi.Relations
    val mixedWord: Gen[String] =
      Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
    val gen = for {
      n <- Gen.choose(2, 12)
      words <- Gen.listOfN(n, mixedWord)
      i <- Gen.choose(0, n - 2)
      j <- Gen.choose(i + 1, n - 1)
      t1 <- Gen.oneOf(etypes)
      t2 <- Gen.oneOf(etypes)
    } yield (words, i, j, t1, t2)
    check(Prop.forAll(gen) { case (words, i, j, t1, t2) =>
      val text = words.mkString(" ")
      def span(k: Int, t: String, id: String): GoldSpan = {
        val start = words.take(k).map(_.length + 1).sum
        val end = start + words(k).length - 1
        GoldSpan(id, start, end, t, words(k), s"$start-$end")
      }
      val (e1, e2) = (span(i, t1, "e0"), span(j, t2, "e1"))
      val toks = Tokenize.tokenize(text)
      val lexPrefix = Seq("mid=", "bef=", "aft=", "mbi=")
      val f1 = Relations.pairFeatures(toks, e1, e2, Seq(e1, e2))
      val lexical = f1.filter(x => lexPrefix.exists(x.startsWith))
      // sensitivity: the lc argument is genuinely what lexical features
      // read from — raw (un-lowered) forms must change them whenever a
      // window word carries case (catches a future refactor that
      // silently stops honoring the hoisted array)
      val fRaw = Relations.pairFeatures(toks, toks.map(_.form), e1, e2, Seq(e1, e2))
      val rawLex = fRaw.filter(x => lexPrefix.exists(x.startsWith))
      val caseSensitive =
        rawLex.forall(x => x == x.toLowerCase(java.util.Locale.ROOT)) || fRaw != f1
      caseSensitive &&
        f1.count(_.startsWith("ndist=")) == 1 &&
        f1.count(_.startsWith("e1t=")) == 1 &&
        f1.count(_.startsWith("e2t=")) == 1 &&
        lexical.forall(x => x == x.toLowerCase(java.util.Locale.ROOT))
    })
  }

  test("property: CRF Viterbi equals exhaustive argmax on small chains") {
    import graft.ner.Crf
    // random tiny training sets -> random fitted weights; then Viterbi
    // must equal brute-force enumeration of ALL label paths scored with
    // the same state+transition weights (ties: enumeration order mirrors
    // Viterbi's lower-index-wins)
    val feat: Gen[String] = Gen.oneOf("a", "b", "c", "d").map("f=" + _)
    val tokGen: Gen[(Seq[String], String)] = for {
      nf <- Gen.choose(1, 2)
      fs <- Gen.listOfN(nf, feat)
      y <- Gen.oneOf("O", "B-drug", "I-drug")
    } yield (fs.distinct: Seq[String], y)
    val gen = for {
      trainLen <- Gen.choose(2, 12)
      train <- Gen.listOfN(trainLen, tokGen)
      testLen <- Gen.choose(1, 4)
      test <- Gen.listOfN(testLen, Gen.choose(1, 2).flatMap(Gen.listOfN(_, feat)))
    } yield (train, test.map(_.distinct: Seq[String]))

    check(Prop.forAll(gen) { case (train, test) =>
      val params = Crf.fitTokenStream(train, epochs = 3, chunk = 5)
      val n = params.labels.length
      def score(path: List[Int]): Double =
        path.zipWithIndex.map { case (l, i) =>
          val st = test(i).map(f => params.state.get(f).map(_(l)).getOrElse(0.0)).sum
          val tr = if (i > 0) params.trans(path(i - 1))(l) else 0.0
          st + tr
        }.sum
      val paths = List.fill(test.length)(0 until n).foldRight(List(List.empty[Int])) {
        (ls, acc) => ls.toList.flatMap(l => acc.map(l :: _))
      }
      // optimality, tie-agnostic: the Viterbi path's score (re-computed
      // with the same enumeration arithmetic) must equal the best over
      // ALL paths — ties between distinct optimal paths are legitimate
      // (e.g. features unseen in training score 0 for every label)
      val bestScore = paths.map(score).max
      val labIdx = params.labels.zipWithIndex.toMap
      val vPath = Crf.viterbi(params, test.toIndexedSeq).map(labIdx).toList
      math.abs(score(vPath) - bestScore) <= 1e-9
    })
  }
}
