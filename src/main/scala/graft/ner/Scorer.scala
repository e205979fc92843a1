package graft.ner

import graft.core.Tok

/** Pluggable token-tagging models — the Spark counterpart of the
  * reference's `ModelABC` registry (ml/src/models/__init__.py:6-70):
  * implementations are resolved by alias; each maps a tokenized sentence
  * to one BIO tag per token. All implementations are pure + Serializable
  * so they ride inside `mapPartitions` closures after a broadcast.
  */
trait MentionScorer extends Serializable {

  /** One BIO tag per token. Implementations that need the W1 feature
    * vectors compute them internally — the gazetteer path never
    * materializes feature strings (a large fraction of the pipeline's
    * allocation volume when computed eagerly for every sentence).
    */
  def tagSentence(toks: IndexedSeq[Tok]): IndexedSeq[String]
}

/** The `CustomModel` floor: predicts "O" for every token
  * (ml/src/models/custom.py:19) — P=R=F1=0 by construction.
  */
object AllOScorer extends MentionScorer {
  def tagSentence(toks: IndexedSeq[Tok]): IndexedSeq[String] =
    toks.map(_ => "O")
}

/** Common contract of the linear pair/token classifiers (MNB,
  * averaged perceptron): score a raw feature bag against a sorted
  * class array. Lets the DDI decision logic ([[graft.ddi.Relations]])
  * swap models without touching the pipeline.
  */
trait RawScorer extends Serializable {
  def classes: Array[String]
  def scoresRaw(feats: Seq[String]): Array[Double]

  @transient @volatile private var lastGate: RawScorer.Gate = null

  /** The index of `reject` in [[classes]] and each class's margin
    * (`margins`, else `default`), kept for the last arguments asked for:
    * a decision rule calls this once per candidate with the same map.
    */
  private[graft] def gate(reject: String, margins: Map[String, Double], default: Double): RawScorer.Gate = {
    val g = lastGate
    if (g != null && (g.marginMap eq margins) && g.rejectLabel == reject && g.default == default) g
    else {
      val fresh = new RawScorer.Gate(reject, margins, default, classes.indexOf(reject),
        classes.map(c => margins.getOrElse(c, default)))
      lastGate = fresh
      fresh
    }
  }
}

object RawScorer {
  private[graft] final class Gate(
      val rejectLabel: String,
      val marginMap: Map[String, Double],
      val default: Double,
      val reject: Int,
      val margins: Array[Double]
  ) extends Serializable
}

/** Multinomial Naive Bayes parameters in closed form (SURVEY A5).
  *
  * Matches sklearn's `DictVectorizer(one-hot) + MultinomialNB(alpha=1)`
  * pipeline (ml/src/models/multinomial_nb.py:34-42) semantics:
  *   - classes sorted ascending (np.unique);
  *   - prior_c = log(n_tokens_c / n_tokens) (fit_prior default);
  *   - logp(f,c) = log((count(f,c) + 1) / (total_c + |V|));
  *   - a feature absent from the training vocabulary is DROPPED at
  *     predict time (DictVectorizer.transform);
  *   - argmax takes the FIRST maximal class (np.argmax).
  *
  * @param classes     sorted class labels
  * @param logPrior    per-class log prior
  * @param featLogProb feature -> per-class log likelihood (dense array
  *                    aligned with `classes`)
  * @param defaultLog  per-class log((0+1)/(total_c+|V|)) for in-vocab
  *                    features with no (f,c) count
  */
final case class MnbParams(
    classes: Array[String],
    logPrior: Array[Double],
    featLogProb: Map[String, Array[Double]],
    defaultLog: Array[Double]
) extends RawScorer {

  /** The interned view, derived once per model instance (so broadcasts
    * and ModelStore files keep the string-keyed format).
    */
  @transient private lazy val table: MnbParams.Table = new MnbParams.Table(this)

  private def priorCopy(): Array[Double] = {
    val n = classes.length
    val s = new Array[Double](n)
    System.arraycopy(logPrior, 0, s, 0, n)
    s
  }

  def scores(dictFeats: Seq[(String, String)]): Array[Double] = {
    val t = table
    val s = priorCopy()
    // out-of-vocab keys are dropped, like DictVectorizer.transform
    dictFeats.foreach { case (k, v) => t.addRow(s, t.keys.get(k + "=" + v)) }
    s
  }

  /** Scores over the RAW W1 feature strings: the training vocabulary
    * keys are exactly the raw `k=v` strings, and extractFeatures never
    * emits two features with the same dict key, so only toDict's BoS/EoS
    * expansion is kept. Spec-gated equal to the dict path (MnbSpec).
    */
  def scoresRaw(feats: Seq[String]): Array[Double] = {
    val t = table
    val s = priorCopy()
    feats.foreach {
      case "BoS" => t.addRow(s, t.bosForm); t.addRow(s, t.bosSuf)
      case "EoS" => t.addRow(s, t.eosForm); t.addRow(s, t.eosSuf)
      case f     => t.addRow(s, t.keys.get(f))
    }
    s
  }

  /** Interned token ids of a sentence for [[scoreToken]]. */
  private[ner] def tokenIds(toks: IndexedSeq[Tok]): MnbParams.TokenIds = {
    val t = table
    val n = toks.length
    val forms = new Array[Int](n)
    val sufs = new Array[Int](n)
    var k = 0
    while (k < n) {
      val w = toks(k).form
      forms(k) = t.forms.get(w)
      sufs(k) = t.sufs.get(w, math.max(0, w.length - 3), w.length)
      k += 1
    }
    new MnbParams.TokenIds(forms, sufs)
  }

  /** `scoresRaw(Features.extractFeatures(toks)(k))` from interned ids:
    * one row per W1 feature, added in the same order, so bit-identical.
    */
  private[ner] def scoreToken(ids: MnbParams.TokenIds, k: Int): Array[Double] = {
    val t = table
    val s = priorCopy()
    val n = ids.forms.length
    t.addRow(s, MnbParams.row(t.formRow, ids.forms(k)))
    t.addRow(s, MnbParams.row(t.sufRow, ids.sufs(k)))
    if (k > 0) {
      t.addRow(s, MnbParams.row(t.formPrevRow, ids.forms(k - 1)))
      t.addRow(s, MnbParams.row(t.sufPrevRow, ids.sufs(k - 1)))
    } else { t.addRow(s, t.bosForm); t.addRow(s, t.bosSuf) }
    if (k < n - 1) {
      t.addRow(s, MnbParams.row(t.formNextRow, ids.forms(k + 1)))
      t.addRow(s, MnbParams.row(t.sufNextRow, ids.sufs(k + 1)))
    } else { t.addRow(s, t.eosForm); t.addRow(s, t.eosSuf) }
    s
  }

  /** Argmax over classes other than `rej` (an index, -1 = absent),
    * emitted only when its log-odds over `rej` exceed `margin`. Returns
    * the class index, or -1 for the reject label.
    */
  private[ner] def marginPick(s: Array[Double], rej: Int, margin: Double): Int = {
    if (classes.isEmpty) return -1
    var best = -1
    var i = 0
    while (i < s.length) {
      if (i != rej && (best < 0 || s(i) > s(best))) best = i
      i += 1
    }
    // reject class absent from training (degenerate corpus with no
    // 'none' examples): plain argmax over the SAME raw-string scores —
    // routing through the dict view would collapse duplicate keys
    // (mid=/bef=/aft= keep only the last token) and diverge from the
    // representation the model was trained on
    if (rej < 0) best
    else if (best >= 0 && s(best) - s(rej) > margin) best
    else -1
  }

  /** Index of the "O" class, or -1. */
  private[ner] def outsideIdx: Int = table.outside

  /** Raw-feature twin of [[predictWithMargin]] (same argmax + margin
    * logic over [[scoresRaw]]).
    */
  def predictWithMarginRaw(feats: Seq[String], reject: String, margin: Double): String = {
    val c = marginPick(scoresRaw(feats), classes.indexOf(reject), margin)
    if (c < 0) reject else classes(c)
  }

  def predict(dictFeats: Seq[(String, String)]): String = {
    // empty model (zero training examples): degrade to the all-O floor
    // like the other scorers instead of indexing into an empty array
    if (classes.isEmpty) return "O"
    classes(MnbParams.argmax(scores(dictFeats)))
  }

  /** Argmax over classes other than `reject`, emitted only when its
    * log-odds over `reject` exceed `margin`; otherwise `reject`. The
    * precision/recall knob for detect-then-classify tasks (DDI: reject =
    * "none").
    */
  def predictWithMargin(dictFeats: Seq[(String, String)], reject: String, margin: Double): String = {
    if (classes.isEmpty) return reject
    val rejIdx = classes.indexOf(reject)
    if (rejIdx < 0) return predict(dictFeats)
    val c = marginPick(scores(dictFeats), rejIdx, margin)
    if (c < 0) reject else classes(c)
  }
}

object MnbParams {

  /** A sentence's interned form and suffix ids (-1 = out of vocabulary). */
  final class TokenIds(val forms: Array[Int], val sufs: Array[Int])

  /** First maximal index (np.argmax). */
  private[ner] def argmax(s: Array[Double]): Int = {
    var best = 0
    var i = 1
    while (i < s.length) {
      if (s(i) > s(best)) best = i
      i += 1
    }
    best
  }

  private def row(rows: Array[Int], id: Int): Int = if (id < 0) -1 else rows(id)

  /** Dense-id view of [[MnbParams.featLogProb]]: every `k=v` key gets a
    * row of a flat weight array; the six W1 feature kinds are also
    * reachable from one form lookup (`form=`, `formPrev=`, `formNext=`)
    * and one suffix lookup (`suf3=`, `suf3Prev=`, `suf3Next=`).
    */
  private final class Table(p: MnbParams) {
    val keys = new StrIndex(p.featLogProb.keysIterator)
    private val nc = p.classes.length
    val weights: Array[Double] = {
      val w = new Array[Double](keys.size * nc)
      var r = 0
      while (r < keys.size) {
        System.arraycopy(p.featLogProb(keys.keys(r)), 0, w, r * nc, nc)
        r += 1
      }
      w
    }
    private def valueOf(key: String, kind: String): Option[String] =
      if (key.startsWith(kind) && key.length > kind.length && key.charAt(kind.length) == '=')
        Some(key.substring(kind.length + 1))
      else None
    private def kindRows(kinds: Seq[String]): (StrIndex, Seq[Array[Int]]) = {
      val ids = new StrIndex(keys.keys.iterator.flatMap(k => kinds.flatMap(valueOf(k, _))))
      val rows = kinds.map { kind =>
        val r = Array.fill(ids.size)(-1)
        ids.keys.indices.foreach(i => r(i) = keys.get(kind + "=" + ids.keys(i)))
        r
      }
      (ids, rows)
    }
    val (forms, Seq(formRow, formPrevRow, formNextRow)) = kindRows(Seq("form", "formPrev", "formNext"))
    val (sufs, Seq(sufRow, sufPrevRow, sufNextRow)) = kindRows(Seq("suf3", "suf3Prev", "suf3Next"))
    val bosForm: Int = keys.get("formPrev=BoS")
    val bosSuf: Int = keys.get("suf3Prev=BoS")
    val eosForm: Int = keys.get("formNext=EoS")
    val eosSuf: Int = keys.get("suf3Next=EoS")
    val outside: Int = p.classes.indexOf("O")

    def addRow(s: Array[Double], r: Int): Unit =
      if (r >= 0) {
        val o = r * nc
        var i = 0
        while (i < nc) { s(i) += weights(o + i); i += 1 }
      }
  }
}

/** Token tagger backed by broadcast MNB parameters. */
final class MnbScorer(private[graft] val params: MnbParams) extends MentionScorer {
  def tagSentence(toks: IndexedSeq[Tok]): IndexedSeq[String] =
    if (params.classes.isEmpty) toks.map(_ => "O")
    else {
      val ids = params.tokenIds(toks)
      toks.indices.map(k => params.classes(MnbParams.argmax(params.scoreToken(ids, k))))
    }

  /** Margin-gated tag index at position `k` (-1 = "O"): a non-O class is
    * kept only when its log-odds over "O" exceed `margin` (precision gate
    * for the hybrid merge).
    */
  private[ner] def pickAtMargin(ids: MnbParams.TokenIds, k: Int, margin: Double): Int =
    params.marginPick(params.scoreToken(ids, k), params.outsideIdx, margin)

  private[ner] def tokenIds(toks: IndexedSeq[Tok]): MnbParams.TokenIds = params.tokenIds(toks)

  private[ner] def classes: Array[String] = params.classes
}

/** Greedy longest-match gazetteer tagger (SURVEY J3).
  *
  * The gazetteer maps lower-cased multi-token surfaces (token forms
  * joined by single spaces) to an entity type. At each position the
  * longest matching n-gram wins; matched tokens get B-type / I-type...,
  * everything else O. `maxN` bounds the n-gram length (longest surface
  * in the gazetteer). Deterministic by construction.
  */
final class GazetteerScorer(
    private[graft] val gaz: Map[String, String],
    private[graft] val maxN: Int
) extends MentionScorer {

  /** The surfaces as a word trie: each lower-cased word is interned
    * once, so a token costs one lookup of its lower-cased form and a
    * match walks id edges instead of building n-gram strings.
    */
  @transient private lazy val trie: GazetteerScorer.Trie = new GazetteerScorer.Trie(gaz)

  /** Per token: -1 for O, else `2 * type + (1 if I- else 0)`, with
    * `type` indexing [[GazetteerScorer.Trie.types]].
    */
  private[ner] def matchIds(toks: IndexedSeq[Tok]): Array[Int] = {
    val t = trie
    val n = toks.length
    val ids = new Array[Int](n)
    var i = 0
    while (i < n) { ids(i) = t.words.get(toks(i).form.toLowerCase(java.util.Locale.ROOT)); i += 1 }
    val out = Array.fill(n)(-1)
    i = 0
    while (i < n) {
      var node = 0
      var matched = 0
      var mtype = -1
      var len = 1
      val maxLen = math.min(maxN, n - i)
      while (len <= maxLen && node >= 0) {
        node = if (ids(i + len - 1) < 0) -1 else t.child(node, ids(i + len - 1))
        if (node >= 0 && t.typeAt(node) >= 0) { matched = len; mtype = t.typeAt(node) }
        len += 1
      }
      if (matched > 0) {
        out(i) = 2 * mtype
        var j = 1
        while (j < matched) { out(i + j) = 2 * mtype + 1; j += 1 }
        i += matched
      } else i += 1
    }
    out
  }

  private[ner] def tagOf(id: Int): String = trie.tags(id)

  private[ner] def typeOf(id: Int): String = trie.types(id >> 1)

  def tagSentence(toks: IndexedSeq[Tok]): IndexedSeq[String] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      matchIds(toks).map(id => if (id < 0) "O" else tagOf(id)))
}

object GazetteerScorer {

  /** Node 0 is the root; `typeAt(node)` is the surface's type index when
    * a surface ends at that node, else -1.
    */
  private final class Trie(gaz: Map[String, String]) {
    val words = new StrIndex(gaz.keysIterator.flatMap(_.split(" ", -1)))
    val types: Array[String] = gaz.values.toArray.distinct.sorted
    /** `B-t`, `I-t` per type index `t`, at `2t` and `2t + 1`. */
    val tags: Array[String] = types.flatMap(t => Array("B-" + t, "I-" + t))
    private val edges = new LongIntMap
    private val terminal = scala.collection.mutable.ArrayBuffer(-1)
    gaz.foreach { case (surface, etype) =>
      var node = 0
      surface.split(" ", -1).foreach { w =>
        val key = (node.toLong << 32) | words.get(w)
        var next = edges.get(key)
        if (next < 0) {
          next = terminal.length
          terminal += -1
          edges.put(key, next)
        }
        node = next
      }
      terminal(node) = types.indexOf(etype)
    }
    private val typeAtNode: Array[Int] = terminal.toArray

    def child(node: Int, word: Int): Int = edges.get((node.toLong << 32) | word)
    def typeAt(node: Int): Int = typeAtNode(node)
  }
}

/** Gazetteer-first with a margin-gated MNB merge: gazetteer tags are
  * authoritative where they fire; elsewhere the learned model may open
  * a mention only when its log-odds over O clear `mnbMargin`
  * (`Double.PositiveInfinity` = gazetteer-only). An MNB `I-` is accepted
  * only when it continues a same-type span in the merged tagging, so the
  * merge cannot corrupt the B/I structure the decoder relies on. This is
  * the engine's headline deterministic scorer.
  */
final class HybridScorer(
    private[graft] val gaz: GazetteerScorer,
    private[graft] val mnb: MnbScorer,
    mnbMargin: Double = HybridScorer.DefaultMargin
) extends MentionScorer {

  /** Per MNB class: its span type when it is a `B-`/`I-` label, else null. */
  @transient private lazy val classType: Array[String] =
    mnb.classes.map(c => if (c.startsWith("B-") || c.startsWith("I-")) c.substring(2) else null)
  @transient private lazy val isB: Array[Boolean] = mnb.classes.map(_.startsWith("B-"))

  def tagSentence(toks: IndexedSeq[Tok]): IndexedSeq[String] = {
    if (mnbMargin.isPosInfinity) return gaz.tagSentence(toks)
    val g = gaz.matchIds(toks)
    // MNB is consulted ONLY where the gazetteer said O (its tags are
    // authoritative elsewhere), so gazetteer-claimed positions skip the
    // scoring entirely — all-O sentences still intern the sentence once
    // (window features are sentence-local)
    lazy val ids = mnb.tokenIds(toks)
    val out = new Array[String](toks.length)
    // the span type of out(i - 1) when it is a B-/I- tag, else null
    var prevType: String = null
    var i = 0
    while (i < toks.length) {
      if (g(i) >= 0) {
        out(i) = gaz.tagOf(g(i))
        prevType = gaz.typeOf(g(i))
      } else {
        val c = mnb.pickAtMargin(ids, i, mnbMargin)
        // an MNB I- is kept only when it continues a same-type span
        if (c >= 0 && classType(c) != null && (isB(c) || (i > 0 && classType(c) == prevType))) {
          out(i) = mnb.classes(c)
          prevType = classType(c)
        } else {
          out(i) = "O"
          prevType = null
        }
      }
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
}

object HybridScorer {
  /** Tuned on the reference devel split (DebugNerMargin); test-split
    * confirmed. See BASELINE.md.
    */
  val DefaultMargin: Double = 4.0
}

object MentionScorer {

  /** Alias registry, mirroring ModelABC auto-registration
    * (ml/src/models/__init__.py:18-39).
    */
  def resolve(
      name: String,
      gaz: => Map[String, String],
      gazMaxN: => Int,
      mnb: => MnbParams,
      crf: => Crf.CrfParams = null
  ): MentionScorer = name.toLowerCase(java.util.Locale.ROOT) match {
    case "custom" | "all_o"              => AllOScorer
    case "gazetteer" | "gaz"             => new GazetteerScorer(gaz, gazMaxN)
    case "mnb" | "multinomial_nb"        => new MnbScorer(mnb)
    case "crf" =>
      val p = crf
      require(p != null, "crf scorer requested but no CrfParams supplied")
      new CrfScorer(p)
    case "hybrid" | "gaz+mnb" | "default" =>
      new HybridScorer(new GazetteerScorer(gaz, gazMaxN), new MnbScorer(mnb))
    case other => throw new IllegalArgumentException(s"unknown scorer: $other")
  }
}
