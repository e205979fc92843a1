package graft.ner

import graft.core.Tok

/** The string-keyed tagger that the interned tables replaced, kept as
  * the differential oracle of MnbSpec: MNB scores probe `featLogProb`
  * with one `k=v` string per feature, the gazetteer builds its n-gram
  * surfaces as strings, and the hybrid merge compares tag strings.
  */
object StringKeyOracle {

  private def add(p: MnbParams, s: Array[Double], key: String): Unit =
    p.featLogProb.get(key).foreach { lp =>
      var i = 0
      while (i < s.length) { s(i) += lp(i); i += 1 }
    }

  def scoresRaw(p: MnbParams, feats: Seq[String]): Array[Double] = {
    val s = p.logPrior.clone()
    feats.foreach {
      case "BoS" => add(p, s, "formPrev=BoS"); add(p, s, "suf3Prev=BoS")
      case "EoS" => add(p, s, "formNext=EoS"); add(p, s, "suf3Next=EoS")
      case f     => add(p, s, f)
    }
    s
  }

  def scores(p: MnbParams, dict: Seq[(String, String)]): Array[Double] = {
    val s = p.logPrior.clone()
    dict.foreach { case (k, v) => add(p, s, k + "=" + v) }
    s
  }

  def mnbTags(p: MnbParams, toks: IndexedSeq[Tok]): IndexedSeq[String] =
    Features.extractFeatures(toks).map { f =>
      if (p.classes.isEmpty) "O"
      else {
        val s = scores(p, Features.toDict(f))
        p.classes(s.indices.foldLeft(0)((b, i) => if (s(i) > s(b)) i else b))
      }
    }

  def predictWithMarginRaw(p: MnbParams, feats: Seq[String], reject: String, margin: Double): String = {
    if (p.classes.isEmpty) return reject
    val s = scoresRaw(p, feats)
    val rejIdx = p.classes.indexOf(reject)
    var best = -1
    var i = 0
    while (i < s.length) {
      if (i != rejIdx && (best < 0 || s(i) > s(best))) best = i
      i += 1
    }
    if (rejIdx < 0) return p.classes(best)
    if (best >= 0 && s(best) - s(rejIdx) > margin) p.classes(best) else reject
  }

  def gazTags(gaz: Map[String, String], maxN: Int, toks: IndexedSeq[Tok]): IndexedSeq[String] = {
    val firstWords = gaz.keySet.map(k => if (k.indexOf(' ') < 0) k else k.substring(0, k.indexOf(' ')))
    val n = toks.length
    val tags = Array.fill(n)("O")
    val lc = toks.map(_.form.toLowerCase(java.util.Locale.ROOT))
    var i = 0
    while (i < n) {
      var matched = 0
      var mtype = ""
      if (firstWords.contains(lc(i))) {
        var len = math.min(maxN, n - i)
        while (len >= 1 && matched == 0) {
          gaz.get(lc.slice(i, i + len).mkString(" ")) match {
            case Some(t) => matched = len; mtype = t
            case None    => len -= 1
          }
        }
      }
      if (matched > 0) {
        tags(i) = "B-" + mtype
        (1 until matched).foreach(j => tags(i + j) = "I-" + mtype)
        i += matched
      } else i += 1
    }
    tags.toIndexedSeq
  }

  def hybridTags(
      gaz: Map[String, String],
      maxN: Int,
      p: MnbParams,
      margin: Double,
      toks: IndexedSeq[Tok]
  ): IndexedSeq[String] = {
    val g = gazTags(gaz, maxN, toks)
    if (margin.isPosInfinity) return g
    val feats = Features.extractFeatures(toks)
    val out = new Array[String](toks.length)
    toks.indices.foreach { i =>
      out(i) =
        if (g(i) != "O") g(i)
        else {
          val mi = predictWithMarginRaw(p, feats(i), "O", margin)
          if (mi.startsWith("B-")) mi
          else if (mi.startsWith("I-") && i > 0 &&
            (out(i - 1) == "B-" + mi.drop(2) || out(i - 1) == "I-" + mi.drop(2))) mi
          else "O"
        }
    }
    out.toIndexedSeq
  }
}
