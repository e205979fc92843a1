package graft.ner

import graft.core.{GoldSpan, TaggedTok, Tok}

/** BIO tagging (J1) + window features (W1), per-sentence pure functions.
  *
  * Both run inside `mapPartitions` on nested per-sentence arrays — tokens
  * and spans are sentence-local, so a relational range join would only
  * add a shuffle (SURVEY §2.3 J1).
  */
object Features {

  /** Reference `get_tag` (ml/extract-features.py:41-56), exact semantics:
    *   - spans scanned in XML document order, FIRST match wins;
    *   - `B-type` iff `tok.start == span.start && tok.end <= span.end`;
    *   - `I-type` iff `tok.start >= span.start && tok.end <= span.end`
    *     (a token starting mid-span is I- even with no preceding B-);
    *   - a token that starts at span.start but overhangs span.end gets O.
    */
  def getTag(tok: Tok, spans: Seq[GoldSpan]): String = {
    val it = spans.iterator
    while (it.hasNext) {
      val s = it.next()
      if (tok.start == s.start && tok.end <= s.end) return "B-" + s.etype
      else if (tok.start >= s.start && tok.end <= s.end) return "I-" + s.etype
    }
    "O"
  }

  /** Reference `extract_features` (ml/extract-features.py:59-95):
    * `form=`, `suf3=` (last 3 chars, whole word if shorter — NO
    * lowercasing in the ml stack), `formPrev=`/`suf3Prev=` or `BoS`,
    * `formNext=`/`suf3Next=` or `EoS`. Feature order preserved.
    */
  def extractFeatures(tokens: IndexedSeq[Tok]): IndexedSeq[Vector[String]] = {
    val n = tokens.length
    (0 until n).map { k =>
      val w = tokens(k).form
      val b = Vector.newBuilder[String]
      b += ("form=" + w)
      b += ("suf3=" + suf3(w))
      if (k > 0) {
        val p = tokens(k - 1).form
        b += ("formPrev=" + p)
        b += ("suf3Prev=" + suf3(p))
      } else b += "BoS"
      if (k < n - 1) {
        val nx = tokens(k + 1).form
        b += ("formNext=" + nx)
        b += ("suf3Next=" + suf3(nx))
      } else b += "EoS"
      b.result()
    }
  }

  /** Python `word[-3:]`: the last 3 chars, or the whole word if len<=3. */
  def suf3(w: String): String =
    if (w.length <= 3) w else w.substring(w.length - 3)

  /** Tag a full tokenized sentence (convenience). */
  def tagSentence(tokens: Seq[Tok], spans: Seq[GoldSpan]): Vector[TaggedTok] =
    tokens.iterator
      .map(t => TaggedTok(t.form, t.start, t.end, getTag(t, spans)))
      .toVector

  /** Optionally append a gazetteer-membership feature per token
    * (`gaz=B-drug` / `gaz=I-drug` / `gaz=O` from the longest-match BIO
    * tagging) to the W1 parity features — the standard NER gazetteer
    * feature, used by the CRF's gaz-feature arm. The W1 set itself is
    * NEVER extended (D4 TSV parity, IoSpec).
    */
  def withGaz(
      feats: IndexedSeq[Vector[String]],
      toks: IndexedSeq[Tok],
      gaz: Option[GazetteerScorer]
  ): IndexedSeq[Vector[String]] = gaz match {
    case None => feats
    case Some(g) =>
      val tags = g.tagSentence(toks)
      feats.indices.map(i => feats(i) :+ ("gaz=" + tags(i)))
  }

  /** The MNB feature-dict view (ml/src/models/multinomial_nb.py:61-73):
    * `key=value` features keep the LAST value per key (dict overwrite);
    * `BoS` expands to formPrev=BoS + suf3Prev=BoS, `EoS` likewise.
    * Returned in INSERTION order (= extractFeatures' emission order) —
    * deterministic, but NOT sorted by key.
    */
  def toDict(features: Seq[String]): Vector[(String, String)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    features.foreach { f =>
      val i = f.indexOf('=')
      if (i >= 0) m(f.substring(0, i)) = f.substring(i + 1)
      else if (f == "BoS") { m("formPrev") = "BoS"; m("suf3Prev") = "BoS" }
      else if (f == "EoS") { m("formNext") = "EoS"; m("suf3Next") = "EoS" }
    }
    m.toVector
  }
}
