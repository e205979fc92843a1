package graft.core

/* Core data model for the KG-construction pipeline (SURVEY.md §1).
  *
  * One case class per relation the reference pipeline passes between
  * stages (reference: /root/reference, snapshot 2025-05-23):
  *   - D1 docs table       — the Iceberg/parquet source (input_hint shape)
  *   - D2 Sentence         — ml/extract-features.py:108-110
  *   - D3 Token            — ml/extract-features.py:14 (form,start,end)
  *   - D4 FeatureRow       — ml/src/feature_space.py:8-15 (TSV schema)
  *   - D5 Mention          — ml/src/predictions.py:22,26 (sid|s-e|text|type)
  *   - D6 EntitySpan       — ml/extract-features.py:15 (char offsets, incl.)
  *   - D7 GoldPair         — ml/evaluator.py:64-74 (sid|e1|e2 key)
  *   - EvalRow             — ml/evaluator.py:105-127 counters
  *   - Triple              — north-star output (subj, pred, obj)
  */

/** Input row: one XML document per row (BASELINE.json input_hint). */
final case class DocRow(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String
)

/** Gold entity annotation carried through parsing.
  *
  * `start`/`end` are the FIRST span of the charOffset attr (discontinuous
  * offsets "a-b;c-d" are truncated to "a-b" — ml/extract-features.py:113-115),
  * while `rawOffset` keeps the verbatim attribute because the evaluator keys
  * on it untruncated (ml/evaluator.py:40). `end` is inclusive.
  */
final case class GoldSpan(
    entityId: String,
    start: Int,
    end: Int,
    etype: String,
    text: String,
    rawOffset: String
)

/** Gold `<pair>` element (ml/evaluator.py:64-74). `dtype` is present only
  * when `ddi == true` (the attribute is absent otherwise).
  */
final case class GoldPairRef(
    pairId: String,
    e1: String,
    e2: String,
    ddi: Boolean,
    dtype: Option[String]
)

/** One `<sentence>` element with its annotations, still nested (kept local
  * to a partition so tokenize→tag→featurize→decode runs shuffle-free).
  */
final case class ParsedSentence(
    repo: String,
    docId: String,
    sid: String,
    text: String,
    entities: Seq[GoldSpan],
    pairs: Seq[GoldPairRef]
)

/** D3 token: char offsets into the sentence text, end inclusive. `start`
  * may be -1 when the tokenizer rewrote the surface form (quote quirk,
  * ml/extract-features.py:30-38 / SURVEY W3).
  */
final case class Tok(form: String, start: Int, end: Int)

/** Token + BIO tag (B-type / I-type / O) — ml/extract-features.py:41-56. */
final case class TaggedTok(form: String, start: Int, end: Int, tag: String)

/** D4 feature row: first 5 positional columns + ragged feature tail
  * (ml/src/feature_space.py:70: 0=sid 1=form 2=start 3=end 4=tag 5..=feats).
  */
final case class FeatureRow(
    sid: String,
    form: String,
    start: Int,
    end: Int,
    tag: String,
    features: Seq[String]
)

/** A whole sentence's feature rows, nested (scoring is per-sentence). */
final case class SentenceFeatures(
    repo: String,
    docId: String,
    sid: String,
    rows: Seq[FeatureRow]
)

/** D5 NER output: one detected entity mention.
  * Serialized line format: sid|start-end|text|type (ml/src/predictions.py:22).
  * `text` is token forms joined by single spaces (may differ from the
  * original substring — parity quirk, see ner/Decode).
  */
final case class Mention(
    sid: String,
    start: Int,
    end: Int,
    text: String,
    etype: String
)

/** A predicted DDI relation: evaluator key sid|e1|e2, class = dtype. */
final case class Relation(
    sid: String,
    e1: String,
    e2: String,
    dtype: String
)

/** North-star KG output triple (+ evaluator-parity key columns). */
final case class Triple(
    drugSubj: String,
    interactionPred: String,
    drugObj: String,
    sid: String,
    e1: String,
    e2: String,
    repo: String
)

/** One row of the evaluator statistics (ml/evaluator.py:105-127). */
final case class EvalRow(
    kind: String,
    tp: Long,
    fp: Long,
    fn: Long,
    npred: Long,
    nexp: Long,
    p: Double,
    r: Double,
    f1: Double
)
