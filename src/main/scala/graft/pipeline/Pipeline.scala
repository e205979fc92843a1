package graft.pipeline

import graft.core._
import graft.ddi.Relations
import graft.evaluate.Evaluator
import graft.kg.Canonicalize
import graft.ner._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end KG-construction pipeline (SURVEY §3 E1 recast).
  *
  * The reference runs extract → train → predict → evaluate as separate
  * OS processes glued by text files; here the whole NER path is ONE
  * narrow Spark pipeline — scan → parse → tokenize → tag → featurize →
  * score → decode never shuffles (documents are independent), so it
  * scales linearly with executors. Model fitting is one narrow job over
  * the training set plus a driver-side finish; shuffles exist only where
  * semantics demand them: canonicalization (CC) of large surface sets and
  * the evaluation joins; the commit writes in the scoring tasks.
  */
object Pipeline {

  /** Attach the per-row content sha256 invariant (BASELINE.json),
    * computed at ingest. [[scoreDocs]] re-checks it on every row it scores,
    * batch and stream; [[checkSha]] counts the rows that break it.
    */
  def withSha(docs: DataFrame): DataFrame =
    docs.withColumn("content_sha", sha2(col("content"), 256))

  /** The sha invariant of one row, shared by [[checkSha]] and [[scoreDocs]].
    * Null-safe: a row whose content or content_sha alone is null breaks
    * it; both null does not.
    */
  private val shaIntact: Column = sha2(col("content"), 256) <=> col("content_sha")

  /** Verify the sha invariant on a materialized docs table; returns the
    * number of violating rows (0 = intact). One Spark job: the violating
    * rows are counted on the planned RDD (`Dataset.count` plans an
    * aggregate whose shuffle-map stage AQE runs as a job of its own), and
    * the scan reads only the two columns.
    */
  def checkSha(docs: DataFrame): Long =
    docs.filter(!shaIntact).select(lit(1)).queryExecution.toRdd.count()

  /** Parse the docs table into sentences: [[parseCounted]] with the
    * malformed-doc counter dropped.
    */
  def parse(spark: SparkSession, docs: DataFrame): Dataset[ParsedSentence] =
    parseCounted(spark, docs)._1

  /** Parse the docs table into sentences, counting corrupt rows. Narrow:
    * mapPartitions over (repo, content); column pruning pushes the
    * 2-column projection into the parquet/Iceberg scan. Malformed XML
    * (null and empty content included) never fails the job; each bad
    * document increments the returned accumulator and contributes zero
    * sentences. The counter is the north rule's health metric for the
    * ingest stage — read it AFTER an action; like all Spark accumulators
    * it is at-least-once under task retries, which is the right semantic
    * for a health signal (never under-reports).
    */
  def parseCounted(
      spark: SparkSession,
      docs: DataFrame
  ): (Dataset[ParsedSentence], org.apache.spark.util.LongAccumulator) = {
    import spark.implicits._
    val bad = spark.sparkContext.longAccumulator("malformed_docs")
    val ds = docs
      .select(col("repo"), col("content"))
      .as[(String, String)]
      .mapPartitions(_.flatMap { case (repo, content) =>
        XmlParse.parseDocEither(repo, content) match {
          case Right(sents) => sents
          case Left(_)      => bad.add(1L); Nil
        }
      })
    (ds, bad)
  }

  /** Reference-format feature rows (D4) — the `extract-features.py`
    * stage output, kept nested per sentence.
    */
  def featureRows(spark: SparkSession, sents: Dataset[ParsedSentence]): Dataset[FeatureRow] = {
    import spark.implicits._
    featureRowsIndexed(spark, sents).map(_._2)
  }

  /** [[featureRows]] plus the token's sentence position. `(sid, idx)` is
    * the only TOTAL emission-order key: the W3 quote quirk gives every
    * rewritten quote token `start = -1` (core/Tokenize), so a
    * `(sid, start)` sort both scrambles those tokens' relative order and
    * hoists them out of sentence position — the same pitfall
    * `ner/Train.sentStreams` documents. Dump-replay oracles that
    * reconstruct the prev/next neighbor chain must order by this index.
    */
  def featureRowsIndexed(
      spark: SparkSession,
      sents: Dataset[ParsedSentence]
  ): Dataset[(Int, FeatureRow)] = {
    import spark.implicits._
    sents.flatMap { s =>
      val toks = Tokenize.tokenize(s.text)
      val feats = Features.extractFeatures(toks)
      toks.indices.map { i =>
        val t = toks(i)
        (i, FeatureRow(s.sid, t.form, t.start, t.end, Features.getTag(t, s.entities), feats(i)))
      }
    }
  }

  /** The NER half of the pass for one sentence: tokenize, tag, BIO
    * decode. The only tokenize→tag→decode loop; returns the tokens too,
    * so [[score]]'s DDI half reuses them.
    */
  private def tagAndDecode(
      scorer: MentionScorer,
      s: ParsedSentence
  ): (Vector[Tok], Vector[Mention]) = {
    val toks = Tokenize.tokenize(s.text)
    val tags = scorer.tagSentence(toks)
    val tagged =
      toks.indices.map(i => TaggedTok(toks(i).form, toks(i).start, toks(i).end, tags(i)))
    (toks, Decode.decode(s.sid, tagged))
  }

  /** Mentions only: the NER half of [[score]] with a broadcast scorer
    * and no DDI/canon models. One narrow mapPartitions, zero shuffle.
    */
  def mentions(
      spark: SparkSession,
      sents: Dataset[ParsedSentence],
      scorer: Broadcast[MentionScorer]
  ): Dataset[Mention] = {
    import spark.implicits._
    sents.mapPartitions { it =>
      val sc = scorer.value
      it.flatMap(s => tagAndDecode(sc, s)._2)
    }
  }

  // ---- evaluation (E3 contract) --------------------------------------

  /** Gold NER instances: einfo = sid|charOffset|text (RAW charOffset
    * attr, semicolons included — ml/evaluator.py:40), etype = type.
    */
  def goldNer(spark: SparkSession, sents: Dataset[ParsedSentence]): Dataset[(String, String)] = {
    import spark.implicits._
    sents.flatMap(s => s.entities.map(e => (s"${s.sid}|${e.rawOffset}|${e.text}", e.etype)))
  }

  /** Predicted NER instances from mentions: einfo = sid|start-end|text. */
  def predNer(spark: SparkSession, ms: Dataset[Mention]): Dataset[(String, String)] = {
    import spark.implicits._
    ms.map(m => (s"${m.sid}|${m.start}-${m.end}|${m.text}", m.etype))
  }

  /** Gold DDI instances: einfo = sid|e1|e2 for ddi="true" pairs. */
  def goldDdi(spark: SparkSession, sents: Dataset[ParsedSentence]): Dataset[(String, String)] = {
    import spark.implicits._
    sents.flatMap(s =>
      s.pairs.filter(_.ddi).map(p => (s"${s.sid}|${p.e1}|${p.e2}", p.dtype.getOrElse("")))
    )
  }

  def predDdi(spark: SparkSession, rels: Dataset[Relation]): Dataset[(String, String)] = {
    import spark.implicits._
    rels.map(r => (s"${r.sid}|${r.e1}|${r.e2}", r.dtype))
  }

  def evaluateNER(
      spark: SparkSession,
      sents: Dataset[ParsedSentence],
      ms: Dataset[Mention]
  ): Seq[EvalRow] =
    Evaluator.evalRows(spark, goldNer(spark, sents), predNer(spark, ms))

  def evaluateDDI(
      spark: SparkSession,
      sents: Dataset[ParsedSentence],
      rels: Dataset[Relation]
  ): Seq[EvalRow] =
    Evaluator.evalRows(spark, goldDdi(spark, sents), predDdi(spark, rels))

  // ---- fit / score split ----------------------------------------------

  /** Everything the scoring pass needs, fitted once and broadcast once.
    * At 100 TB the models are fit on a bounded training corpus and the
    * scoring pass is the recurring cost — so fit and score are separate
    * API stages (Bench times only score).
    */
  final case class Models(
      scorer: MentionScorer,
      ddi: graft.ner.RawScorer, // averaged perceptron (MNB slots in for ablation)
      canon: Map[String, String]
  ) extends Serializable

  /** One training partition's statistics for every model [[fit]]
    * builds; each sentence is tokenized once.
    */
  private final class FitPartial extends Train.Partial[FitPartial] {
    val surfaces = new Train.SurfaceCounts
    val mnb = new Train.MnbCounts
    val pairs = new Relations.PairStream
    val texts = scala.collection.mutable.HashSet.empty[String]
    var sentences = 0L

    def add(s: ParsedSentence): Unit = {
      sentences += 1
      surfaces.add(s)
      s.entities.foreach(texts += _.text)
      val toks = Tokenize.tokenize(s.text)
      mnb.addTokens(toks, s.entities)
      pairs.add(s, toks)
    }

    def merge(o: FitPartial): FitPartial = {
      surfaces.merge(o.surfaces)
      mnb.merge(o.mnb)
      pairs.merge(o.pairs)
      texts ++= o.texts
      sentences += o.sentences
      this
    }
  }

  /** Fit gazetteer + NER MNB + DDI perceptron + the canonical alias map (from
    * the training surface vocabulary; unseen surfaces fall back to
    * lower-case identity at score time). One narrow Spark job: each
    * partition counts (surface, type) pairs, MNB (feature, tag) and
    * class counts, the DDI pair examples and the distinct entity
    * surfaces; the driver merges the partials and finishes each model
    * with the code its own fit uses (`Train.buildGazetteer`,
    * `Train.fitMnb`, `Relations.fit`, `Canonicalize.canonicalMapLocal`).
    * The `crf` scorer's fit stays its own job. Driver memory: see
    * [[graft.ner.Train]].
    */
  def fit(
      spark: SparkSession,
      train: Dataset[ParsedSentence],
      scorerName: String = "hybrid",
      mnbMinFreq: Long = 1L
  ): Models = {
    val t0 = System.nanoTime()
    val all = Train.collectMerged(train.rdd)(() => new FitPartial)(_ add _)
    val t1 = System.nanoTime()
    val (gaz, gazN) = all.surfaces.gazetteer
    lazy val nerParams = all.mnb.params(mnbMinFreq)
    lazy val crfParams = Train.fitCrf(spark, train)
    val scorer = MentionScorer.resolve(scorerName, gaz, gazN, nerParams, crfParams)
    val ddiParams = all.pairs.fit
    val canon = Canonicalize.canonicalMapLocal(all.texts)
    val t2 = System.nanoTime()
    org.slf4j.LoggerFactory.getLogger("graft.pipeline.Pipeline").info(
      f"fit $scorerName: ${(t2 - t0) / 1e9}%.3f s (pass ${(t1 - t0) / 1e9}%.3f s, " +
        f"finish ${(t2 - t1) / 1e9}%.3f s); ${all.sentences} sentences, " +
        s"${all.mnb.examples} tokens, ${all.pairs.size} pairs; gazetteer ${gaz.size} entries, " +
        s"mnb vocabulary ${all.mnb.features}, ddi features ${ddiParams.weights.size}, " +
        s"canon ${canon.size} entries")
    Models(scorer, ddiParams, canon)
  }

  /** Per-sentence result of the fused scoring pass. Relations are NOT
    * stored separately — a Triple carries (sid, e1, e2, pred), so the
    * relation view is a projection (one less nested array through the
    * encoder on every row).
    */
  final case class SentenceResult(
      repo: String,
      docId: String,
      sid: String,
      mentions: Seq[Mention],
      triples: Seq[Triple]
  ) {
    def relations: Seq[Relation] = triples.map(t => Relation(t.sid, t.e1, t.e2, t.interactionPred))
  }

  /** The fused scoring pass: ONE narrow mapPartitions computes tokens,
    * features, tags, decoded mentions, DDI relations, and canonicalized
    * triples per sentence — tokenization happens once, entity-id
    * resolution is sentence-local (no join), canonicalization is a
    * broadcast map lookup. Zero shuffle end to end.
    */
  def score(
      spark: SparkSession,
      sents: Dataset[ParsedSentence],
      models: org.apache.spark.broadcast.Broadcast[Models]
  ): Dataset[SentenceResult] = {
    import spark.implicits._
    sents.mapPartitions { it =>
      val m = models.value
      it.map { s =>
        val (toks, ms) = tagAndDecode(m.scorer, s)

        // a sentence without candidate pairs (most of them) needs
        // neither the entity map nor the lower-cased forms
        val trips = if (s.pairs.isEmpty) Seq.empty[Triple] else {
          val byId = s.entities.iterator.map(e => e.entityId -> e).toMap
          lazy val lcForms = Relations.lowerForms(toks) // shared by the sentence's pairs
          val rels = s.pairs.flatMap { p =>
            for {
              e1 <- byId.get(p.e1)
              e2 <- byId.get(p.e2)
              feats = Relations.pairFeatures(toks, lcForms, e1, e2, s.entities)
              dtype = Relations.decide(m.ddi, feats)
              if dtype != "none"
            } yield Relation(s.sid, p.e1, p.e2, dtype)
          }
          def canonOf(t: String): String = {
            val lc = t.toLowerCase(java.util.Locale.ROOT).trim
            m.canon.getOrElse(lc, lc)
          }
          rels.map { r =>
            Triple(
              canonOf(byId(r.e1).text),
              r.dtype,
              canonOf(byId(r.e2).text),
              s.sid, r.e1, r.e2, s.repo
            )
          }
        }
        SentenceResult(s.repo, s.docId, s.sid, ms, trips)
      }
    }
  }

  /** The paper's pass over a docs table `(repo, path, content,
    * content_sha)`, batch or one stream micro-batch: one narrow pass
    * checks each row's sha invariant, parses and scores it. Its triples
    * go to [[graft.io.Resume.writeResumable]], the pass's only commit.
    *
    * A row that breaks the invariant fails the pass (and so its commit,
    * as a null repo does) with an `IllegalStateException` naming its
    * `repo` and `path`; [[checkSha]] stays the counter. Malformed XML is
    * skipped, as in [[parse]]. A duplicated doc row is scored twice: its
    * triples are committed twice and counted twice in its manifest `rows`
    * (`distinct_subj` is unchanged).
    *
    * On a streaming `docs`, it also installs
    * [[graft.io.LocalCheckpointFileManager]] as the session's checkpoint
    * manager unless one is set.
    */
  def scoreDocs(
      spark: SparkSession,
      docs: DataFrame,
      models: Broadcast[Models]
  ): Dataset[SentenceResult] = {
    import spark.implicits._
    if (docs.isStreaming) graft.io.LocalCheckpointFileManager.install(spark)
    val sents = docs
      .select(col("repo"), col("path"), col("content"), shaIntact)
      .as[(String, String, String, Boolean)]
      .mapPartitions(_.flatMap { case (repo, path, content, intact) =>
        if (!intact) throw new IllegalStateException(s"content_sha mismatch: repo $repo, path $path")
        XmlParse.parseDocEither(repo, content).getOrElse(Nil)
      })
    score(spark, sents, models)
  }
}
