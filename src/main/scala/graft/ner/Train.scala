package graft.ner

import graft.core.{FeatureRow, GoldSpan, ParsedSentence, Tok}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.reflect.ClassTag

/** Model fitting (SURVEY A4/A5/J3).
  *
  * The gazetteer and the MNB are closed-form counts, so a fit is one
  * narrow Spark job: every partition folds its rows into plain-Scala
  * partial counts ([[Partial]]), one `collect` brings the partials back,
  * and the driver merges them in partition order and finishes the model.
  * `Pipeline.fit` runs the same counters for all of its models in one
  * such job. Determinism: everything that becomes an index or a
  * tie-break is sorted first — unlike the reference's Python-set
  * iteration order (nn/codemaps.py:36-60, SURVEY A4).
  *
  * Driver-memory bound: the collect ships one count table per partition,
  * so it is bounded by partitions × training vocabulary, not by corpus
  * size. Training sets too large for that (or for the DDI pair stream
  * `ddi.Relations.fit` collects) take [[fitCrfDistributed]] and
  * `Relations.fitDistributed`.
  */
object Train {

  /** Statistics of one training partition. `merge` folds a later
    * partition's statistics into this one, so order-carrying parts
    * (the DDI pair stream) stay in partition order.
    */
  private[graft] trait Partial[A <: Partial[A]] extends Serializable {
    def merge(o: A): A
  }

  /** One Spark job: each partition of `rdd` is folded into a fresh
    * partial by `add`, the partials are collected through the RDD (no
    * Dataset encoder, so no extra codegen) and merged in partition order.
    */
  private[graft] def collectMerged[T, A <: Partial[A]: ClassTag](rdd: RDD[T])(zero: () => A)(
      add: (A, T) => Unit): A =
    rdd
      .mapPartitions { it =>
        val a = zero()
        it.foreach(add(a, _))
        Iterator.single(a)
      }
      .collect()
      .reduceOption(_ merge _)
      .getOrElse(zero())

  /** MNB sufficient statistics: example count per class and
    * (feature, class) occurrence counts. Features count with
    * multiplicity (multinomial).
    */
  private[graft] final class MnbCounts extends Partial[MnbCounts] {
    private val classN = mutable.HashMap.empty[String, Long]
    private val featTag = mutable.HashMap.empty[(String, String), Long]

    def add(feats: Iterable[String], label: String): Unit = {
      classN(label) = classN.getOrElse(label, 0L) + 1L
      feats.foreach { f =>
        val k = (f, label)
        featTag(k) = featTag.getOrElse(k, 0L) + 1L
      }
    }

    /** One NER example per token: its dict features and gold tag. */
    def addTokens(toks: IndexedSeq[Tok], spans: Seq[GoldSpan]): Unit = {
      val feats = Features.extractFeatures(toks)
      var i = 0
      while (i < toks.length) {
        add(dictFeatures(feats(i)), Features.getTag(toks(i), spans))
        i += 1
      }
    }

    def merge(o: MnbCounts): MnbCounts = {
      o.classN.foreach { case (c, n) => classN(c) = classN.getOrElse(c, 0L) + n }
      o.featTag.foreach { case (k, n) => featTag(k) = featTag.getOrElse(k, 0L) + n }
      this
    }

    /** Examples counted (tokens, for an NER fit). */
    def examples: Long = classN.valuesIterator.sum

    /** Distinct features counted, before `minFreq` pruning. */
    def features: Int = featTag.keysIterator.map(_._1).toSet.size

    /** Laplace-smoothed MNB over the features seen at least `minFreq`
      * times. All counts are integers summed in doubles below 2^53, so
      * the result does not depend on merge order.
      */
    def params(minFreq: Long): MnbParams = {
      val classes = classN.keys.toArray.sorted
      val idx = classes.zipWithIndex.toMap
      val nTotal = classN.valuesIterator.sum.toDouble
      val logPrior = classes.map(c => math.log(classN(c) / nTotal))

      val featTotal = mutable.HashMap.empty[String, Long]
      featTag.foreach { case ((f, _), n) => featTotal(f) = featTotal.getOrElse(f, 0L) + n }
      def kept(f: String) = featTotal(f) >= minFreq

      // total feature-occurrence mass per class (sum over all features of
      // count(f,c)) — with one-hot dict features this is (#dict entries)
      // summed over tokens of class c
      val totalPerClass = new Array[Double](classes.length)
      featTag.foreach { case ((f, t), n) => if (kept(f)) totalPerClass(idx(t)) += n.toDouble }
      val vocabSize = featTotal.valuesIterator.count(_ >= minFreq).toDouble
      val defaultLog = totalPerClass.map(t => math.log(1.0 / (t + vocabSize)))

      val featLogProb = mutable.HashMap.empty[String, Array[Double]]
      featTag.foreach { case ((f, t), n) =>
        if (kept(f)) {
          val i = idx(t)
          featLogProb.getOrElseUpdate(f, defaultLog.clone())(i) =
            math.log((n + 1.0) / (totalPerClass(i) + vocabSize))
        }
      }
      MnbParams(classes, logPrior, featLogProb.toMap, defaultLog)
    }
  }

  /** (lower-cased surface, type) counts over gold entities: the
    * gazetteer's sufficient statistic.
    */
  private[graft] final class SurfaceCounts extends Partial[SurfaceCounts] {
    private val counts = mutable.HashMap.empty[(String, String), Long]

    def add(s: ParsedSentence): Unit = s.entities.foreach { e =>
      val k = (e.text.toLowerCase(java.util.Locale.ROOT), e.etype)
      counts(k) = counts.getOrElse(k, 0L) + 1L
    }

    def merge(o: SurfaceCounts): SurfaceCounts = {
      o.counts.foreach { case (k, n) => counts(k) = counts.getOrElse(k, 0L) + n }
      this
    }

    /** Surface -> majority type, ties broken by (count desc, type asc);
      * plus the longest surface in words.
      */
    def gazetteer: (Map[String, String], Int) = {
      val gaz = counts.toSeq
        .groupBy(_._1._1)
        .map { case (surface, variants) =>
          surface -> variants.minBy { case ((_, t), c) => (-c, t) }._1._2
        }
      val maxN =
        if (gaz.isEmpty) 1
        else gaz.keys.map(_.count(_ == ' ') + 1).max
      (gaz, maxN)
    }
  }

  /** The DictVectorizer view of one token's features — one-hot per dict
    * key, last value per key wins (ml/src/models/multinomial_nb.py:61-73).
    */
  private def dictFeatures(features: Seq[String]): Seq[String] =
    Features.toDict(features).map { case (k, v) => k + "=" + v }

  /** Fit MNB from (bag-of-features, label) examples. `minFreq` prunes
    * features seen fewer than that many times — the scale knob for
    * web-scale vocabularies (the reference's crfsuite config uses
    * feature.minfreq=1, i.e. keep all; default matches).
    */
  def fitMnbRaw(
      spark: SparkSession,
      examples: Dataset[(Seq[String], String)],
      minFreq: Long = 1L
  ): MnbParams =
    collectMerged(examples.rdd)(() => new MnbCounts)((c, e) => c.add(e._1, e._2)).params(minFreq)

  /** NER token-tagging fit: each token's dict features, then the shared
    * MNB core.
    */
  def fitMnb(
      spark: SparkSession,
      rows: Dataset[FeatureRow],
      minFreq: Long = 1L
  ): MnbParams =
    collectMerged(rows.rdd)(() => new MnbCounts)((c, r) => c.add(dictFeatures(r.features), r.tag))
      .params(minFreq)

  /** Derive the gazetteer from training gold entities (SURVEY J3):
    * lower-cased surface -> majority type; ties broken by (count desc,
    * type asc) so the result is deterministic. Surfaces are the gold
    * `text` attributes re-joined through the tokenizer's forms would be
    * ideal, but the raw lowercased text matches how mentions are decoded
    * (space-joined forms) for all single-space surfaces; multi-space /
    * rewritten surfaces simply never fire.
    */
  def buildGazetteer(
      spark: SparkSession,
      sents: Dataset[ParsedSentence]
  ): (Map[String, String], Int) =
    collectMerged(sents.rdd)(() => new SurfaceCounts)(_ add _).gazetteer

  /** Per-sentence ordered token streams: (sid, [(features, tag)...] in
    * TOKEN order). Ordering must happen at sentence granularity — sids
    * are unique, while no FeatureRow-level sort key is total (quote
    * tokens all carry start = -1 after the W3 offset quirk, so a
    * (sid, start) sort both scrambles their relative order run-to-run
    * and hoists them out of sentence position).
    */
  private def sentStreams(
      spark: SparkSession,
      sents: Dataset[ParsedSentence],
      gazFeat: Option[GazetteerScorer] = None
  ): Dataset[(String, Seq[(Seq[String], String)])] = {
    import spark.implicits._
    sents.map { s =>
      val toks = graft.core.Tokenize.tokenize(s.text)
      val feats = Features.withGaz(Features.extractFeatures(toks), toks, gazFeat)
      (s.sid, toks.indices.map(i =>
        (feats(i): Seq[String], Features.getTag(toks(i), s.entities))): Seq[(Seq[String], String)])
    }
  }

  /** CRF fit (reference A6): collect the training token stream in
    * deterministic sentence order (unique sids; tokens stay in sentence
    * position) — bounded by the TRAINING corpus, never the scoring
    * corpus — and run the driver-side l2sgd fit with the reference's
    * 100-token pseudo-sequence chunking (CRF.py:28-29).
    */
  def fitCrf(
      spark: SparkSession,
      sents: Dataset[ParsedSentence],
      c2: Double = 0.1,
      epochs: Int = 30,
      gazFeat: Option[GazetteerScorer] = None
  ): Crf.CrfParams = {
    val stream = sentStreams(spark, sents, gazFeat)
      .collect()
      .sortBy(_._1)
      .flatMap(_._2)
      .toSeq
    Crf.fitTokenStream(stream, c2, epochs)
  }

  /** Distributed CRF fit for training corpora too large to collect:
    * partition-local l2sgd (each range partition fits on its own
    * document-contiguous chunk, sorted (sid, start) — pseudo-sequences
    * never span executors) followed by parameter averaging on the
    * driver. The averaged model trades a little accuracy for unbounded
    * training-set scale; measured on the reference corpus in BASELINE.md.
    * Determinism caveat: range-partition boundaries come from sampling
    * seeded by RDD id, so the result is reproducible for a fixed program
    * (same session, same job order) but NOT across different call
    * orderings — the driver-side fitCrf is the fully-deterministic path.
    *
    * `rounds > 1` = iterative parameter mixing (McDonald et al. 2010,
    * the full recipe, not just one-shot averaging): each round warm-
    * starts every partition's l2sgd from the previous round's averaged
    * weights and runs `epochs / rounds` local epochs, so total epoch
    * work matches the single-shot arm at any `rounds`. One broadcast +
    * one tiny collect per round; the partitioned token stream is
    * computed once and persisted across rounds. `rounds = 1` is the
    * original one-shot average.
    */
  def fitCrfDistributed(
      spark: SparkSession,
      sents: Dataset[ParsedSentence],
      c2: Double = 0.1,
      epochs: Int = 30,
      parts: Int = 8,
      rounds: Int = 1
  ): Crf.CrfParams = {
    require(rounds >= 1 && epochs % rounds == 0,
      s"epochs ($epochs) must be a positive multiple of rounds ($rounds) " +
        "so total epoch work matches the single-shot arm exactly")
    implicit val enc: org.apache.spark.sql.Encoder[Crf.CrfParams] =
      org.apache.spark.sql.Encoders.kryo[Crf.CrfParams]
    val streams = sentStreams(spark, sents)
      .repartitionByRange(parts, col("_1"))
      .sortWithinPartitions(col("_1"))
      .persist()
    try {
      val perRound = epochs / rounds
      var cur: Option[Crf.CrfParams] = None
      for (_ <- 0 until rounds) {
        val bc = spark.sparkContext.broadcast(cur)
        val locals = streams
          .mapPartitions { it =>
            val stream = it.flatMap(_._2).toVector
            if (stream.isEmpty) Iterator.empty
            else Iterator.single(Crf.fitTokenStream(stream, c2, perRound, init = bc.value))
          }
          .collect()
        cur = Some(Crf.average(scala.collection.immutable.ArraySeq.unsafeWrapArray(locals)))
        bc.destroy()
      }
      cur.getOrElse(Crf.fit(IndexedSeq.empty))
    } finally streams.unpersist()
  }
}
