package graft.ddi

import graft.core.{GoldSpan, Tok}
import graft.ner.RawScorer

/** The DDI scorer the interned tables and the one-pass windows
  * replaced, kept as the differential oracle of PerceptronSpec: three
  * index filters per pair, per-pair cue scans, and weight probes into
  * the string-keyed map.
  */
object StringKeyDdi {

  private def distBucket(n: Int): String =
    if (n == 0) "0" else if (n <= 3) "1-3" else if (n <= 7) "4-7" else "8+"

  private val NegCues = Set("not", "no", "neither", "nor", "without", "lack", "absence")
  private val AdviseCues = Set(
    "should", "must", "recommended", "recommend", "avoid", "avoided",
    "avoiding", "caution", "cautiously", "advisable", "advised",
    "careful", "carefully", "contraindicated", "consider", "considered",
    "monitor", "monitored", "monitoring", "closely", "exercised")
  private val EffectCues = Set(
    "effect", "effects", "increase", "increased", "increases", "decrease",
    "decreased", "decreases", "enhance", "enhanced", "enhances", "reduce",
    "reduced", "reduces", "potentiate", "potentiated", "potentiates",
    "potentiating", "antagonize", "antagonized", "antagonizes", "inhibit",
    "inhibited", "inhibits", "response", "action", "actions", "toxicity",
    "prolong", "prolonged", "prolongs", "diminish", "diminished",
    "attenuate", "attenuated", "block", "blocks", "blocked", "additive",
    "antagonism", "potentiation")
  private val MechCues = Set(
    "metabolism", "metabolized", "clearance", "absorption",
    "concentration", "concentrations", "plasma", "level", "levels",
    "bioavailability", "excretion", "half-life", "auc", "serum",
    "induce", "induced", "inducer", "induces", "induction", "inhibitor",
    "inhibitors", "inhibition", "enzyme", "enzymes", "elimination",
    "exposure", "absorbed", "excreted")
  private val IntCues = Set(
    "interact", "interacts", "interaction", "interactions", "interfere",
    "interferes", "interference")
  private val CueClasses =
    Seq(("A", AdviseCues), ("E", EffectCues), ("M", MechCues), ("I", IntCues))
  private val CoordForms = Set("and", "or", ",", ";", "/", "(", ")")

  def pairFeatures(
      toks: IndexedSeq[Tok],
      lc: IndexedSeq[String],
      e1: GoldSpan,
      e2: GoldSpan,
      otherEnts: Seq[GoldSpan]
  ): Seq[String] = {
    val (lo, hi) = if (e1.start <= e2.start) (e1, e2) else (e2, e1)
    val midIdx = toks.indices.filter(i => toks(i).start > lo.end && toks(i).end < hi.start)
    val befIdx = toks.indices.filter(i => toks(i).end < lo.start).takeRight(3)
    val aftIdx = toks.indices.filter(i => toks(i).start > hi.end).take(3)
    val b = Vector.newBuilder[String]
    val midl = midIdx.map(lc)
    midl.foreach(w => b += ("mid=" + w))
    var bi = 0
    while (bi < midl.length - 1) {
      b += ("mbi=" + midl(bi) + "_" + midl(bi + 1)); bi += 1
    }
    befIdx.foreach(i => b += ("bef=" + lc(i)))
    aftIdx.foreach(i => b += ("aft=" + lc(i)))
    b += ("ndist=" + distBucket(midIdx.length))
    b += ("e1t=" + lo.etype)
    b += ("e2t=" + hi.etype)
    if (midl.exists(NegCues)) b += "neg=1"
    val nBetween = otherEnts.count(o =>
      o.entityId != lo.entityId && o.entityId != hi.entityId &&
        o.start > lo.end && o.end < hi.start)
    b += ("nents=" + distBucket(nBetween))
    if (e1.start > e2.start) b += "inv=1"
    val wl = (befIdx ++ aftIdx).map(lc)
    val d = distBucket(midIdx.length)
    CueClasses.foreach { case (name, cs) =>
      if (midl.exists(cs)) { b += s"m_cue$name=1"; b += s"m_cue${name}_d=$d" }
      if (wl.exists(cs)) b += s"w_cue$name=1"
      if (lc.exists(cs)) b += s"s_cue$name=1"
    }
    if (lo.text.toLowerCase(java.util.Locale.ROOT) ==
        hi.text.toLowerCase(java.util.Locale.ROOT)) b += "samedrug=1"
    if (midIdx.nonEmpty && midIdx.forall(i =>
        CoordForms.contains(lc(i)) ||
          otherEnts.exists(o => toks(i).start >= o.start && toks(i).end <= o.end)))
      b += "coord=1"
    b.result()
  }

  def scoresRaw(p: Perceptron.PerceptronParams, feats: Seq[String]): Array[Double] = {
    val s = new Array[Double](p.classes.length)
    feats.foreach(f => p.weights.get(f).foreach { w =>
      var i = 0
      while (i < s.length) { s(i) += w(i); i += 1 }
    })
    s
  }

  def decide(
      classes: Array[String],
      scores: Seq[String] => Array[Double],
      feats: Seq[String],
      margins: Map[String, Double]
  ): String = {
    if (feats.contains("samedrug=1")) return "none"
    if (classes.isEmpty) return "none"
    val s = scores(feats)
    val rejIdx = classes.indexOf("none")
    var best = -1
    var i = 0
    while (i < s.length) {
      if (i != rejIdx && (best < 0 || s(i) > s(best))) best = i
      i += 1
    }
    if (rejIdx < 0) return classes(best)
    if (best >= 0 && s(best) - s(rejIdx) > margins.getOrElse(classes(best), Relations.DefaultMargin))
      classes(best)
    else "none"
  }

  def decide(p: RawScorer with Product, feats: Seq[String], margins: Map[String, Double]): String =
    p match {
      case pp: Perceptron.PerceptronParams => decide(pp.classes, scoresRaw(pp, _), feats, margins)
      case other                           => decide(other.classes, other.scoresRaw, feats, margins)
    }
}
