package graft.ner

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form Multinomial NB vs hand-computed values (sklearn
  * MultinomialNB(alpha=1) + one-hot DictVectorizer semantics,
  * ml/src/models/multinomial_nb.py:34-42).
  */
class MnbSpec extends AnyFunSuite {

  private lazy val params: MnbParams = {
    val spark = TestSpark.spark
    import spark.implicits._
    val examples = Seq(
      (Seq("x=1", "y=1"), "B"),
      (Seq("x=1"), "O"),
      (Seq("y=2"), "O")
    )
    Train.fitMnbRaw(spark, spark.createDataset(examples))
  }

  test("classes sorted ascending (np.unique order)") {
    assert(params.classes.toSeq == Seq("B", "O"))
  }

  test("log priors from class counts") {
    assert(math.abs(params.logPrior(0) - math.log(1.0 / 3)) < 1e-12)
    assert(math.abs(params.logPrior(1) - math.log(2.0 / 3)) < 1e-12)
  }

  test("laplace-smoothed feature log likelihoods") {
    // vocab = {x=1, y=1, y=2}, totals: B=2, O=2
    val lpX = params.featLogProb("x=1")
    assert(math.abs(lpX(0) - math.log(2.0 / 5)) < 1e-12) // (1+1)/(2+3)
    assert(math.abs(lpX(1) - math.log(2.0 / 5)) < 1e-12)
    val lpY1 = params.featLogProb("y=1")
    assert(math.abs(lpY1(0) - math.log(2.0 / 5)) < 1e-12)
    assert(math.abs(lpY1(1) - math.log(1.0 / 5)) < 1e-12) // unseen in O
  }

  test("predict: evidence beats prior") {
    assert(params.predict(Seq(("x", "1"), ("y", "1"))) == "B")
  }

  test("predict: prior wins without discriminative evidence") {
    assert(params.predict(Seq(("x", "1"))) == "O")
  }

  test("predict: out-of-vocab features are dropped (DictVectorizer.transform)") {
    assert(params.predict(Seq(("z", "9"))) == "O") // priors only
  }

  test("predict: empty features falls back to prior argmax") {
    assert(params.predict(Nil) == "O")
  }

  test("minFreq prunes rare features from the vocabulary") {
    val spark = TestSpark.spark
    import spark.implicits._
    val examples = Seq(
      (Seq("a=1", "a=1", "rare=1"), "B"),
      (Seq("a=1"), "O")
    )
    val p = Train.fitMnbRaw(spark, spark.createDataset(examples), minFreq = 2L)
    assert(p.featLogProb.contains("a=1"))
    assert(!p.featLogProb.contains("rare=1"))
  }

  test("reject class absent: raw argmax, never the duplicate-collapsing dict path") {
    val spark = TestSpark.spark
    import spark.implicits._
    // No 'none' class in training (degenerate DDI corpus). Duplicate
    // raw features ("f=x" twice, like repeated mid= tokens) must count
    // twice: raw scores pick A, while the dict view (collapses dups)
    // would pick B — the exact divergence the rejIdx<0 branch had.
    val examples = Seq(
      (Seq("f=x", "f=x"), "A"),
      (Seq("f=x"), "B"),
      (Seq("g=y"), "B")
    )
    val p = Train.fitMnbRaw(spark, spark.createDataset(examples))
    assert(p.classes.toSeq == Seq("A", "B"))
    val feats = Seq("f=x", "f=x")
    // sanity: the two representations really disagree here
    val raw = p.scoresRaw(feats)
    assert(raw(0) > raw(1), "raw (duplicate-counting) scores must favor A")
    assert(p.predict(Features.toDict(feats)) == "B", "dict view favors B")
    assert(p.predictWithMarginRaw(feats, "none", 0.0) == "A")
    assert(p.predictWithMarginRaw(feats, "none", 100.0) == "A",
      "margin is meaningless without the reject class present")
  }

  test("raw-feature hot path equals the dict path on real W1 features") {
    val spark = TestSpark.spark
    import spark.implicits._
    // fit on actual W1 window features so the vocabulary has the real
    // key shapes (form=, suf3=, BoS/EoS expansions)
    val sents = Seq(
      "Warfarin interacts with aspirin .",
      "Take aspirin with caution .",
      "Beta-blockers reduce effects .")
    val rows = sents.zipWithIndex.flatMap { case (txt, si) =>
      val toks = graft.core.Tokenize.tokenize(txt)
      val fs = Features.extractFeatures(toks)
      toks.indices.map(i => (Features.toDict(fs(i)).map { case (k, v) => k + "=" + v },
        if (i % 3 == 0) "B-drug" else "O"))
    }
    val p = Train.fitMnbRaw(spark, spark.createDataset(rows))
    sents.foreach { txt =>
      val toks = graft.core.Tokenize.tokenize(txt + " plus unseen junk")
      Features.extractFeatures(toks).foreach { f =>
        assert(p.scoresRaw(f).toSeq == p.scores(Features.toDict(f)).toSeq,
          s"scoresRaw != scores for $f")
        for (m <- Seq(0.0, 2.0, 4.0))
          assert(p.predictWithMarginRaw(f, "O", m) ==
            p.predictWithMargin(Features.toDict(f), "O", m))
      }
    }
  }

  test("interned scores and tags equal the string-key path bit for bit (eval split + OOV forms)") {
    import graft.fixtures.DocGen
    import graft.pipeline.Pipeline
    val spark = TestSpark.spark
    val train = Pipeline.parse(spark, DocGen.corpus(spark, 150, seed = 3L))
    val (gaz, gazN) = Train.buildGazetteer(spark, train)
    val p = Train.fitMnb(spark, Pipeline.featureRows(spark, train))
    val eval = Pipeline.parse(spark, DocGen.corpus(spark, 120, seed = 4L)).collect().map(_.text)
    val oov = "Zyxorin qqq BoS EoS ÉTAT x=y form=a 𝒜 WARFARIN Warfarin"
    val texts = eval ++ eval.take(20).map(_ + " " + oov) :+ oov
    val mnb = new MnbScorer(p)
    val gs = new GazetteerScorer(gaz, gazN)
    def bits(s: Array[Double]) = s.toSeq.map(java.lang.Double.doubleToRawLongBits)
    var positions = 0
    texts.foreach { txt =>
      val toks = graft.core.Tokenize.tokenize(txt)
      val feats = Features.extractFeatures(toks)
      val ids = p.tokenIds(toks)
      toks.indices.foreach { k =>
        val want = bits(StringKeyOracle.scoresRaw(p, feats(k)))
        assert(bits(p.scoreToken(ids, k)) == want, s"token $k of [$txt]")
        assert(bits(p.scoresRaw(feats(k))) == want)
        val dict = Features.toDict(feats(k))
        assert(bits(p.scores(dict)) == bits(StringKeyOracle.scores(p, dict)))
        positions += 1
      }
      assert(mnb.tagSentence(toks) == StringKeyOracle.mnbTags(p, toks), s"mnb tags of [$txt]")
      assert(gs.tagSentence(toks) == StringKeyOracle.gazTags(gaz, gazN, toks), s"gazetteer tags of [$txt]")
      for (m <- Seq(0.0, -2.0, HybridScorer.DefaultMargin, Double.PositiveInfinity))
        assert(new HybridScorer(gs, mnb, m).tagSentence(toks) ==
          StringKeyOracle.hybridTags(gaz, gazN, p, m, toks), s"hybrid tags (margin $m) of [$txt]")
    }
    assert(positions > 2000, s"only $positions token positions checked")
  }
}
