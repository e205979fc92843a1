package graft.ddi

import graft.ner.MnbParams
import org.scalatest.funsuite.AnyFunSuite

class PerceptronSpec extends AnyFunSuite {

  private val ex = IndexedSeq[(Seq[String], String)](
    (Seq("mid=increases", "mid=effect", "e1t=drug"), "effect"),
    (Seq("mid=should", "mid=avoided", "e1t=drug"), "advise"),
    (Seq("mid=and", "e1t=drug"), "none"),
    (Seq("mid=or", "e2t=drug"), "none"),
    (Seq("mid=metabolism", "mid=reduced"), "mechanism")
  )

  test("fit separates a linearly separable toy set; classes sorted ascending") {
    val p = Perceptron.fit(ex, epochs = 10)
    assert(p.classes.toSeq == Seq("advise", "effect", "mechanism", "none"))
    ex.foreach { case (fs, lab) =>
      val s = p.scoresRaw(fs)
      assert(p.classes(s.indexOf(s.max)) == lab, s"misclassified $fs")
    }
  }

  test("fit is deterministic: identical runs give identical weights") {
    val a = Perceptron.fit(ex, epochs = 7)
    val b = Perceptron.fit(ex, epochs = 7)
    assert(a.classes.sameElements(b.classes))
    assert(a.weights.keySet == b.weights.keySet)
    a.weights.foreach { case (f, w) => assert(w.sameElements(b.weights(f))) }
  }

  test("positiveCost scales updates only when the true label is not the reject class") {
    // one positive + one none example, both always predicted wrong in
    // epoch 1 (zero init ties break to class index 0 = 'eff')
    val tiny = IndexedSeq[(Seq[String], String)](
      (Seq("f=x"), "none"),
      (Seq("f=y"), "eff")
    )
    val p1 = Perceptron.fit(tiny, epochs = 1, positiveCost = 3.0)
    // 'none' example: first prediction is 'eff' (index 0) -> cost 1 update
    // 'eff' example at t=2: w(f=y)=0 -> predicts 'eff' (index 0) == label, no update
    val wx = p1.weights("f=x")
    val ci = p1.classes.zipWithIndex.toMap
    assert(math.abs(math.abs(wx(ci("none"))) - math.abs(wx(ci("eff")))) < 1e-12,
      "symmetric +/-c update")
    assert(math.abs(wx(ci("none"))) > 0)
  }

  test("classCost: empty map is the identity; a class multiplier biases its boundary") {
    // back-compat: classCost = empty must reproduce the default fit bit-for-bit
    val base = Perceptron.fit(ex, epochs = 10)
    val same = Perceptron.fit(ex, epochs = 10, classCost = Map.empty)
    assert(base.classes.sameElements(same.classes))
    assert(base.weights.keySet == same.weights.keySet &&
      base.weights.forall { case (f, w) => w.sameElements(same.weights(f)) })
    // an ambiguous feature shared by a majority and a minority class:
    // raising the minority's update cost must widen its score advantage
    val amb = IndexedSeq[(Seq[String], String)](
      (Seq("x=1"), "none"), (Seq("x=1"), "none"), (Seq("x=1"), "none"),
      (Seq("x=1", "y=1"), "int"))
    def gap(cost: Double): Double = {
      val p = Perceptron.fit(amb, epochs = 5, classCost = Map("int" -> cost))
      val s = p.scoresRaw(Seq("x=1", "y=1"))
      s(p.classes.indexOf("int")) - s(p.classes.indexOf("none"))
    }
    assert(gap(6.0) > gap(1.0), "higher int cost must widen the int-vs-none gap")
  }

  test("init warm-start: unseen features keep their init weight; trained ones move") {
    val base = Perceptron.fit(ex, epochs = 10)
    // a feature the warm-start data never mentions must ride through
    // untouched (the IPM contract: partitions that don't see a feature
    // leave the mixed weight alone)
    val ghost = "mid=ghostcue"
    val seeded = base.copy(weights =
      base.weights + (ghost -> Array.fill(base.classes.length)(0.5)))
    val warm = Perceptron.fit(ex.take(2), epochs = 1, init = Some(seeded))
    assert(warm.weights(ghost).toSeq == Seq.fill(base.classes.length)(0.5))
    // and init classes union with data classes (sorted)
    assert(warm.classes.toSeq == base.classes.toSeq)
  }

  test("averaging: single-model average is the identity; empty set averages empty") {
    val p = Perceptron.fit(ex, epochs = 5)
    val avg = Perceptron.average(Seq(p))
    assert(avg.classes.sameElements(p.classes))
    p.weights.foreach { case (f, w) =>
      assert(avg.weights(f).zip(w).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    }
    assert(Perceptron.average(Nil).classes.isEmpty)
  }

  test("averaging unions class sets and scales by model count") {
    val pa = Perceptron.fit(IndexedSeq((Seq("f=a"), "x"), (Seq("f=b"), "none")), epochs = 2)
    val pb = Perceptron.fit(IndexedSeq((Seq("f=c"), "y"), (Seq("f=b"), "none")), epochs = 2)
    val avg = Perceptron.average(Seq(pa, pb))
    assert(avg.classes.toSeq == Seq("none", "x", "y"))
    // f=a appears only in model a: averaged weight = w_a / 2
    val ci = avg.classes.zipWithIndex.toMap
    val xa = pa.weights("f=a")(pa.classes.indexOf("x"))
    assert(math.abs(avg.weights("f=a")(ci("x")) - xa / 2) < 1e-12)
  }

  test("decide: samedrug hard rule wins over any score; empty model yields none") {
    val p = Perceptron.fit(ex, epochs = 10)
    assert(Relations.decide(p, Seq("mid=increases", "mid=effect", "samedrug=1")) == "none")
    assert(Relations.decide(Perceptron.fit(IndexedSeq.empty), Seq("mid=x")) == "none")
  }

  test("decide: per-class margins gate the argmax against none") {
    // model where 'effect' beats 'none' by a known gap
    val p = Perceptron.PerceptronParams(
      Array("effect", "none"),
      Map("f=cue" -> Array(2.0, 0.0)))
    assert(Relations.decide(p, Seq("f=cue"), Map("effect" -> 1.0)) == "effect")
    assert(Relations.decide(p, Seq("f=cue"), Map("effect" -> 3.0)) == "none")
    // negative margin admits a class that scores BELOW none
    val q = Perceptron.PerceptronParams(
      Array("int", "none"),
      Map("f=w" -> Array(-1.0, 0.0)))
    assert(Relations.decide(q, Seq("f=w"), Map("int" -> -2.0)) == "int")
    assert(Relations.decide(q, Seq("f=w"), Map("int" -> 0.0)) == "none")
  }

  test("fitDistributed: partition-local fits average into a working model") {
    import graft.core.{GoldSpan, GoldPairRef, ParsedSentence}
    val spark = graft.TestSpark.spark
    import spark.implicits._
    def sent(i: Int, ddi: Boolean): ParsedSentence = {
      val text =
        if (ddi) "Warfarin increases the effect of aspirin ."
        else "Warfarin and aspirin were studied ."
      ParsedSentence("r", s"d$i", s"d$i.s0", text,
        Seq(
          GoldSpan(s"d$i.s0.e0", 0, 7, "drug", "Warfarin", "0-7"),
          GoldSpan(s"d$i.s0.e1", text.indexOf("aspirin"),
            text.indexOf("aspirin") + 6, "drug", "aspirin", "x")),
        Seq(GoldPairRef(s"d$i.s0.p0", s"d$i.s0.e0", s"d$i.s0.e1", ddi,
          if (ddi) Some("effect") else None)))
    }
    val sents = spark.createDataset((0 until 40).map(i => sent(i, i % 2 == 0)))
    val p = Relations.fitDistributed(spark, sents, parts = 4)
    assert(p.classes.toSeq == Seq("effect", "none"))
    // the averaged model still separates the two templates
    val posF = Relations.pairFeatures(
      graft.core.Tokenize.tokenize(sent(0, true).text),
      sent(0, true).entities(0), sent(0, true).entities(1), sent(0, true).entities)
    val negF = Relations.pairFeatures(
      graft.core.Tokenize.tokenize(sent(1, false).text),
      sent(1, false).entities(0), sent(1, false).entities(1), sent(1, false).entities)
    assert(Relations.decide(p, posF, Map("effect" -> 0.0)) == "effect")
    assert(Relations.decide(p, negF, Map("effect" -> 0.0)) == "none")
  }

  test("decide accepts the MNB through the same RawScorer seam") {
    val mnb = MnbParams(
      Array("effect", "none"),
      Array(math.log(0.5), math.log(0.5)),
      Map("f=cue" -> Array(math.log(0.9), math.log(0.1))),
      Array(math.log(0.05), math.log(0.05)))
    assert(Relations.decide(mnb, Seq("f=cue"), Map("effect" -> 0.0)) == "effect")
  }

  test("one-pass pair features and interned decide equal the string-key path (eval split)") {
    import graft.core.Tokenize
    import graft.fixtures.DocGen
    import graft.pipeline.Pipeline
    val spark = graft.TestSpark.spark
    val p = Relations.fit(spark, Pipeline.parse(spark, DocGen.corpus(spark, 150, seed = 5L)))
    val eval = Pipeline.parse(spark, DocGen.corpus(spark, 200, seed = 6L)).collect()
    val margins = Seq(Relations.DefaultMargins, Map("effect" -> 1.0), Map.empty[String, Double])
    var pairs = 0
    eval.foreach { s =>
      val toks = Tokenize.tokenize(s.text)
      val lc = Relations.lowerForms(toks)
      val byId = s.entities.map(e => e.entityId -> e).toMap
      for (pr <- s.pairs; e1 <- byId.get(pr.e1); e2 <- byId.get(pr.e2)) {
        val feats = Relations.pairFeatures(toks, lc, e1, e2, s.entities)
        assert(feats == StringKeyDdi.pairFeatures(toks, lc, e1, e2, s.entities), s"features of ${pr.pairId}")
        // the raw-forms argument (no precomputed cue bits) takes the same path
        assert(Relations.pairFeatures(toks, toks.map(_.form), e1, e2, s.entities) ==
          StringKeyDdi.pairFeatures(toks, toks.map(_.form), e1, e2, s.entities))
        val withOov = feats ++ Seq("mid=zyxorin", "mbi=qq_rr")
        for (f <- Seq(feats, withOov)) {
          assert(p.scoresRaw(f).toSeq.map(java.lang.Double.doubleToRawLongBits) ==
            StringKeyDdi.scoresRaw(p, f).toSeq.map(java.lang.Double.doubleToRawLongBits))
          margins.foreach(m => assert(Relations.decide(p, f, m) == StringKeyDdi.decide(p, f, m)))
        }
        pairs += 1
      }
    }
    assert(pairs > 200, s"only $pairs pairs checked")
  }
}
