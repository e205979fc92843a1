package graft.ddi

import graft.core.{GoldSpan, ParsedSentence, Relation, Tok}
import graft.ner.{MnbParams, StrIndex, Train}
import graft.core.Tokenize
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable.ArrayBuffer

/** DDI relation extraction over the 4 SemEval-2013 interaction classes
  * {mechanism, effect, advise, int} + implicit "none".
  *
  * The reference snapshot ships only the evaluator CONTRACT for this
  * stage (ml/evaluator.py:50-76: key = sid|e1|e2, class = pair type for
  * ddi="true" pairs); the classifier itself is ours. Design: the same
  * closed-form Multinomial NB used for NER (SURVEY A5), over deterministic
  * lexical features of the token window between/around the two entities —
  * fully reproducible, trained with one hash aggregation, broadcast for
  * scoring.
  *
  * Candidates are the sentence's `<pair>` elements (entity spans are
  * given input annotations in the DDI task; the evaluator keys on their
  * ids, so candidate generation from raw text could never match keys).
  */
object Relations {

  final case class PairExample(
      repo: String,
      sid: String,
      e1: String,
      e2: String,
      feats: Seq[String],
      label: String
  )

  private val NegCues = Set("not", "no", "neither", "nor", "without", "lack", "absence")

  // Trigger lexicons per DDI class — the standard dependency-free signal
  // of the published SemEval-2013 DDI systems (trigger-word lists in
  // FBK-irst / WBI / UTurku task papers), assembled from the task
  // definitions + TRAIN-split inspection; devel was used only for margin
  // tuning, test untouched (see DebugDdi).
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
  private val CueClasses = Array(AdviseCues, EffectCues, MechCues, IntCues)
  private val CoordForms = Set("and", "or", ",", ";", "/", "(", ")")

  // per-token cue bits: bit c = member of CueClasses(c)
  private final val NegBit = 1 << 4
  private final val CoordBit = 1 << 5
  /** Every cue word, negation cue and coordination form, interned: one
    * probe gives a token all its bits.
    */
  private val CueWords = new StrIndex(CueClasses.iterator.flatten ++ NegCues ++ CoordForms)
  private val CueWordBits: Array[Int] = CueWords.keys.map { w =>
    CueClasses.indices.foldLeft(0)((bits, c) => if (CueClasses(c).contains(w)) bits | 1 << c else bits) |
      (if (NegCues.contains(w)) NegBit else 0) | (if (CoordForms.contains(w)) CoordBit else 0)
  }
  private val CueNames = Array("A", "E", "M", "I")
  private val Buckets = Array("0", "1-3", "4-7", "8+")
  private def bucket(n: Int): Int = if (n == 0) 0 else if (n <= 3) 1 else if (n <= 7) 2 else 3
  private val MidCue = CueNames.map(c => s"m_cue$c=1")
  private val MidCueDist = CueNames.map(c => Buckets.map(d => s"m_cue${c}_d=$d"))
  private val WinCue = CueNames.map(c => s"w_cue$c=1")
  private val SentCue = CueNames.map(c => s"s_cue$c=1")
  private val NDist = Buckets.map("ndist=" + _)
  private val NEnts = Buckets.map("nents=" + _)

  /** A sentence's lower-cased token forms plus, computed once on first
    * use, each token's cue bits (trigger classes, negation, coordination)
    * and their union over the sentence — what [[pairFeatures]] would
    * otherwise recompute for each of the sentence's pairs.
    */
  final class LowerForms(forms: IndexedSeq[String]) extends IndexedSeq[String] {
    def apply(i: Int): String = forms(i)
    def length: Int = forms.length

    lazy val cueBits: Array[Int] = forms.iterator.map { w =>
      val id = CueWords.get(w)
      if (id < 0) 0 else CueWordBits(id)
    }.toArray

    lazy val sentenceBits: Int = cueBits.foldLeft(0)(_ | _)
  }

  /** Deterministic lexical features for one candidate pair, in a fixed
    * order. Tokens are the sentence's reference tokenization; e1/e2
    * located by first-span char offsets.
    */
  def pairFeatures(
      toks: IndexedSeq[Tok],
      e1: GoldSpan,
      e2: GoldSpan,
      otherEnts: Seq[GoldSpan] = Nil
  ): Seq[String] =
    pairFeatures(toks, lowerForms(toks), e1, e2, otherEnts)

  /** One lower-cased form per token — compute ONCE per sentence and
    * share across its candidate pairs (an enumeration sentence yields
    * O(entities²) pairs; re-lowercasing the whole sentence per pair was
    * measurable on the fused scoring hot path). The result also carries
    * the sentence's cue bits.
    */
  def lowerForms(toks: IndexedSeq[Tok]): LowerForms =
    new LowerForms(toks.map(_.form.toLowerCase(java.util.Locale.ROOT)))

  def pairFeatures(
      toks: IndexedSeq[Tok],
      lc: IndexedSeq[String],
      e1: GoldSpan,
      e2: GoldSpan,
      otherEnts: Seq[GoldSpan]
  ): Seq[String] = {
    val forms = lc match {
      case l: LowerForms => l
      case other         => new LowerForms(other)
    }
    val bits = forms.cueBits
    val (lo, hi) = if (e1.start <= e2.start) (e1, e2) else (e2, e1)
    // one pass for the three windows, each in token order: every token
    // strictly between the pair (mid), the last 3 ending before it (bef),
    // the first 3 starting after it (aft)
    val mid = new Array[Int](toks.length)
    var nMid = 0
    val bef = new Array[Int](3)
    var nBef = 0
    val aft = new Array[Int](3)
    var nAft = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.start > lo.end && t.end < hi.start) { mid(nMid) = i; nMid += 1 }
      if (t.end < lo.start) {
        if (nBef == 3) { bef(0) = bef(1); bef(1) = bef(2); bef(2) = i } else { bef(nBef) = i; nBef += 1 }
      }
      if (t.start > hi.end && nAft < 3) { aft(nAft) = i; nAft += 1 }
      i += 1
    }
    // Feature ablations (DebugDdi + the round-3 python twin, devel
    // typed F1, perceptron model): entity-surface lexemes, etype-pair,
    // cue x etype conjunctions, and 4-token outer windows all
    // net-negative; the winning set is full mid unigrams + bigrams,
    // 3-token outer windows, class trigger lexicons at mid/window/
    // sentence scope, same-surface + coordination-shape flags, and the
    // structural buckets below. (Under the earlier generative MNB the
    // optimum differed: bigrams overfit and mid needed a 12-token cap.)
    val b = Vector.newBuilder[String]
    var midBits = 0
    i = 0
    while (i < nMid) { b += ("mid=" + forms(mid(i))); midBits |= bits(mid(i)); i += 1 }
    // mid bigrams: usable under the discriminative perceptron (they
    // overfit the generative MNB — round-1 ablation); likewise the
    // uncapped mid unigrams (the perceptron down-weights noise the MNB
    // bag needed a 12-token cap to survive: devel 0.616 capped vs
    // 0.623 uncapped, 0.630 with bigrams)
    i = 0
    while (i < nMid - 1) { b += ("mbi=" + forms(mid(i)) + "_" + forms(mid(i + 1))); i += 1 }
    var winBits = 0
    i = 0
    while (i < nBef) { b += ("bef=" + forms(bef(i))); winBits |= bits(bef(i)); i += 1 }
    i = 0
    while (i < nAft) { b += ("aft=" + forms(aft(i))); winBits |= bits(aft(i)); i += 1 }
    val d = bucket(nMid)
    b += NDist(d)
    b += ("e1t=" + lo.etype)
    b += ("e2t=" + hi.etype)
    // negation between the entities flips/voids most interaction cues
    if ((midBits & NegBit) != 0) b += "neg=1"
    // other annotated entities strictly between the pair — enumeration
    // sentences ("A, B, C and D were given") produce many false pairs
    val nBetween = otherEnts.count(o =>
      o.entityId != lo.entityId && o.entityId != hi.entityId &&
        o.start > lo.end && o.end < hi.start)
    b += NEnts(bucket(nBetween))
    // pair order in text often encodes agent vs patient
    if (e1.start > e2.start) b += "inv=1"
    // class trigger cues at three scopes: between the pair (+ distance
    // conjunction), the 3-token outer windows, the whole sentence
    val sentBits = forms.sentenceBits
    var c = 0
    while (c < CueNames.length) {
      if ((midBits & (1 << c)) != 0) { b += MidCue(c); b += MidCueDist(c)(d) }
      if ((winBits & (1 << c)) != 0) b += WinCue(c)
      if ((sentBits & (1 << c)) != 0) b += SentCue(c)
      c += 1
    }
    // same surface on both sides: 1478 none vs 5 positive in train —
    // also enforced as a hard rule at predict time
    if (lo.text.toLowerCase(java.util.Locale.ROOT) ==
        hi.text.toLowerCase(java.util.Locale.ROOT)) b += "samedrug=1"
    // enumeration shape: every mid token is a conjunction/punct or part
    // of an annotated entity (6914 none vs 273 positive in train)
    if (nMid > 0 && (0 until nMid).forall { k =>
        val t = toks(mid(k))
        (bits(mid(k)) & CoordBit) != 0 ||
          otherEnts.exists(o => t.start >= o.start && t.end <= o.end)
      })
      b += "coord=1"
    b.result()
  }

  /** The labeled pair examples of one sentence (label = pair type, or
    * "none" for ddi="false"). `toks` is evaluated only when the sentence
    * has pairs.
    */
  private def sentenceExamples(
      s: ParsedSentence,
      toks: => IndexedSeq[Tok]
  ): Iterator[PairExample] =
    if (s.pairs.isEmpty) Iterator.empty
    else {
      val t = toks
      val lc = lowerForms(t) // once per sentence, shared by its pairs
      val byId = s.entities.map(e => e.entityId -> e).toMap
      s.pairs.iterator.flatMap { p =>
        for (e1 <- byId.get(p.e1); e2 <- byId.get(p.e2)) yield PairExample(
          s.repo,
          s.sid,
          p.e1,
          p.e2,
          pairFeatures(t, lc, e1, e2, s.entities),
          // typeless ddi="true" (0 in the reference corpus, legal in
          // the schema) trains toward "" — the SAME label goldDdi keys
          // such a pair with, so prediction and gold can actually meet
          p.dtype.getOrElse(if (p.ddi) "" else "none")
        )
      }
    }

  /** All labeled pair examples of a corpus. Tokenization happens here,
    * per sentence with pairs, inside the flatMap — shuffle-free.
    */
  def examples(
      spark: SparkSession,
      sents: Dataset[ParsedSentence]
  ): Dataset[PairExample] = {
    import spark.implicits._
    sents.flatMap(s => sentenceExamples(s, Tokenize.tokenize(s.text)))
  }

  /** A training corpus's pair examples in partition order — the input
    * of the driver-side perceptron [[fit]].
    */
  private[graft] final class PairStream extends Train.Partial[PairStream] {
    private val buf = ArrayBuffer.empty[PairExample]

    def add(s: ParsedSentence, toks: => IndexedSeq[Tok]): Unit = buf ++= sentenceExamples(s, toks)

    def merge(o: PairStream): PairStream = { buf ++= o.buf; this }

    def size: Int = buf.length

    /** Averaged perceptron over the examples sorted by (sid, e1, e2).
      * The sort is stable, so repeated keys keep partition order.
      */
    def fit: Perceptron.PerceptronParams =
      Perceptron.fit(buf.sortBy(e => (e.sid, e.e1, e.e2)).map(e => (e.feats, e.label)).toIndexedSeq)
  }

  /** Fit the DDI classifier: averaged perceptron over pair features
    * (round 3 — devel typed F1 0.604 vs the MNB arm's 0.537, BASELINE.md).
    * Examples are collected to the driver SORTED by (sid, e1, e2) —
    * the perceptron is order-dependent, so the stream order must be
    * independent of partitioning (same determinism discipline as the
    * CRF train stream, `ner/Train.fitCrf`). Model-bounded like the CRF
    * fit: the pair stream of a training corpus, not the scored data.
    *
    * Driver-memory bound: the collect ships every training pair WITH
    * its feature strings — fine for annotation-sized corpora (training
    * sets don't scale with the scored corpus), but a training stream
    * that outgrows driver heap should use [[fitDistributed]], which
    * fits partition-local models and averages (measured trade: about
    * −4.6 test F1 at 4 partitions, BASELINE.md).
    */
  def fit(spark: SparkSession, sents: Dataset[ParsedSentence]): Perceptron.PerceptronParams =
    Train.collectMerged(sents.rdd)(() => new PairStream)((p, s) => p.add(s, Tokenize.tokenize(s.text)))
      .fit

  /** The round-2 generative alternative, kept for ablation + the
    * shared-MNB-core (A5) story; [[fit]] replaced it as the default
    * after a measured devel comparison.
    */
  def fitMnb(spark: SparkSession, sents: Dataset[ParsedSentence], minFreq: Long = 1L): MnbParams = {
    import spark.implicits._
    Train.fitMnbRaw(spark, examples(spark, sents).map(e => (e.feats, e.label)), minFreq)
  }

  /** Unbounded-training-scale path: partition-local perceptron fits +
    * parameter averaging (the distributed-CRF strategy, McDonald et
    * al. 2010). Each partition sorts its local slice — deterministic
    * given a deterministic partitioner.
    *
    * `rounds > 1` = iterative parameter mixing (McDonald et al. 2010):
    * each round warm-starts every partition's perceptron from the
    * previous round's average and runs `epochs / rounds` local epochs,
    * so total update work matches the single-shot arm. `rounds = 1` is
    * the original one-shot average.
    */
  def fitDistributed(
      spark: SparkSession,
      sents: Dataset[ParsedSentence],
      parts: Int = 8,
      epochs: Int = 5,
      rounds: Int = 1
  ): Perceptron.PerceptronParams = {
    import spark.implicits._
    require(rounds >= 1 && epochs % rounds == 0,
      s"epochs ($epochs) must be a positive multiple of rounds ($rounds) " +
        "so total update work matches the single-shot arm exactly")
    val parted = examples(spark, sents)
      .map(e => (e.sid, e.e1, e.e2, e.feats, e.label))
      .repartition(parts, col("_1")) // _1 = sid after the tuple map
      .persist()
    try {
      val perRound = epochs / rounds
      var cur: Option[Perceptron.PerceptronParams] = None
      for (_ <- 0 until rounds) {
        val bc = spark.sparkContext.broadcast(cur)
        val locals = parted
          .mapPartitions { it =>
            val ex = it.toIndexedSeq.sortBy(x => (x._1, x._2, x._3))
              .map(x => (x._4: Seq[String], x._5))
            if (ex.isEmpty) Iterator.empty
            else Iterator(Perceptron.fit(ex, epochs = perRound, init = bc.value))
          }
          .collect()
        cur = Some(Perceptron.average(locals.toSeq))
        bc.destroy()
      }
      cur.getOrElse(Perceptron.fit(IndexedSeq.empty))
    } finally parted.unpersist()
  }

  /** Per-class decision margins (score gap over "none"), tuned by
    * coordinate ascent on the DEVEL split with a train-fit model (test
    * untouched) — see tools/DebugDdi. A class needs margin m to beat
    * "none"; negative lets a rare-but-strongly-cued class overrule the
    * imbalanced none default. Classes outside the map use
    * [[DefaultMargin]].
    */
  val DefaultMargins: Map[String, Double] = Map(
    "advise" -> 2.0, "effect" -> -2.0, "int" -> 0.0, "mechanism" -> -2.0)
  // int stays at plain argmax (0.0), NOT the ascent's -6.0: the devel
  // delta between them is 0.001 F1 (noise for a 96-instance class)
  // while -6 makes int emission near-unconditional whenever int is the
  // best positive class — measured brittle on coordination-only pairs
  // ("A and B were studied") outside the tuning corpus.

  /** Scalar fallback margin for classes absent from the tuned map. */
  val DefaultMargin: Double = 0.0

  /** The full DDI decision for one candidate pair — shared by
    * [[predict]] and the fused `Pipeline.score` path so the two can
    * never drift. Hard same-surface rule first (99.7% none in train;
    * as a mere feature a linear bag model dilutes it among dozens of
    * window terms), then argmax-with-per-class-margin over the raw
    * feature scores of any [[graft.ner.RawScorer]] (perceptron by
    * default; the MNB slots in unchanged for ablation).
    */
  def decide(
      params: graft.ner.RawScorer,
      feats: Seq[String],
      margins: Map[String, Double] = DefaultMargins
  ): String = {
    if (feats.contains("samedrug=1")) return "none"
    val cs = params.classes
    if (cs.isEmpty) return "none"
    val g = params.gate("none", margins, DefaultMargin)
    val s = params.scoresRaw(feats)
    var best = -1
    var i = 0
    while (i < s.length) {
      if (i != g.reject && (best < 0 || s(i) > s(best))) best = i
      i += 1
    }
    if (g.reject < 0) return cs(best)
    if (best >= 0 && s(best) - s(g.reject) > g.margins(best)) cs(best)
    else "none"
  }

  def predict(
      spark: SparkSession,
      sents: Dataset[ParsedSentence],
      params: Broadcast[_ <: graft.ner.RawScorer],
      margins: Map[String, Double] = DefaultMargins
  ): Dataset[Relation] = {
    import spark.implicits._
    examples(spark, sents)
      .map(e => Relation(e.sid, e.e1, e.e2, decide(params.value, e.feats, margins)))
      .filter(_.dtype != "none")
  }
}
