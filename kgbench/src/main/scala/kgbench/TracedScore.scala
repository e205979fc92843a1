package kgbench

import graft.core._
import graft.ddi.Relations
import graft.ner.Decode
import graft.pipeline.Pipeline.{Models, SentenceResult}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One partition's layer self-times (ns), counts and output digests. */
final case class PartStats(
    startNs: Long,
    endNs: Long,
    docs: Long,
    malformed: Long,
    sentences: Long,
    tokens: Long,
    mentions: Long,
    pairs: Long,
    relations: Long,
    triples: Long,
    parseNs: Long,
    tokenizeNs: Long,
    tagNs: Long,
    decodeNs: Long,
    classifyNs: Long,
    canonNs: Long,
    digestNs: Long,
    mentionDigest: Long,
    tripleDigest: Long
) {
  def layerNs: Long = parseNs + tokenizeNs + tagNs + decodeNs + classifyNs + canonNs + digestNs
  def +(o: PartStats): PartStats = PartStats(
    math.min(startNs, o.startNs), math.max(endNs, o.endNs), docs + o.docs, malformed + o.malformed,
    sentences + o.sentences, tokens + o.tokens, mentions + o.mentions, pairs + o.pairs,
    relations + o.relations, triples + o.triples, parseNs + o.parseNs, tokenizeNs + o.tokenizeNs,
    tagNs + o.tagNs, decodeNs + o.decodeNs, classifyNs + o.classifyNs, canonNs + o.canonNs,
    digestNs + o.digestNs, mentionDigest + o.mentionDigest, tripleDigest + o.tripleDigest)
}

/** A scored sentence, or a partition's closing stats row. */
final case class TracedRow(res: Option[SentenceResult], stats: Option[PartStats])

/** The traced scoring pass: the layer calls of `Pipeline.score`, in its
  * order, each timed with `nanoTime` inside one mapPartitions. Results
  * are encoded like the untraced pass's rows, and the stats come back
  * as one row per partition, not as accumulators.
  */
object TracedScore {

  private final class Acc {
    var docs, malformed, sentences, tokens, mentions, pairs, relations, triples = 0L
    var parseNs, tokenizeNs, tagNs, decodeNs, classifyNs, canonNs, digestNs = 0L
    var mentionDigest, tripleDigest = 0L
  }

  private def scoreSentence(s: ParsedSentence, m: Models, a: Acc): SentenceResult = {
    val t0 = System.nanoTime()
    val toks = Tokenize.tokenize(s.text)
    val t1 = System.nanoTime()
    val tags = m.scorer.tagSentence(toks)
    val t2 = System.nanoTime()
    val tagged = toks.indices.map(i => TaggedTok(toks(i).form, toks(i).start, toks(i).end, tags(i)))
    val ms = Decode.decode(s.sid, tagged)
    val t3 = System.nanoTime()
    val byId = s.entities.iterator.map(e => e.entityId -> e).toMap
    lazy val lcForms = Relations.lowerForms(toks)
    var pairs = 0L
    val rels = s.pairs.flatMap { p =>
      for {
        e1 <- byId.get(p.e1)
        e2 <- byId.get(p.e2)
        _ = pairs += 1
        feats = Relations.pairFeatures(toks, lcForms, e1, e2, s.entities)
        dtype = Relations.decide(m.ddi, feats)
        if dtype != "none"
      } yield Relation(s.sid, p.e1, p.e2, dtype)
    }
    val t4 = System.nanoTime()
    def canonOf(t: String): String = {
      val lc = t.toLowerCase(java.util.Locale.ROOT).trim
      m.canon.getOrElse(lc, lc)
    }
    val trips = rels.map { r =>
      Triple(canonOf(byId(r.e1).text), r.dtype, canonOf(byId(r.e2).text), s.sid, r.e1, r.e2, s.repo)
    }
    val t5 = System.nanoTime()
    ms.foreach(x => a.mentionDigest += Digest.mention(x))
    trips.foreach(x => a.tripleDigest += Digest.triple(x))
    val t6 = System.nanoTime()
    a.sentences += 1; a.tokens += toks.length; a.mentions += ms.length
    a.pairs += pairs; a.relations += rels.length; a.triples += trips.length
    a.tokenizeNs += t1 - t0; a.tagNs += t2 - t1; a.decodeNs += t3 - t2
    a.classifyNs += t4 - t3; a.canonNs += t5 - t4; a.digestNs += t6 - t5
    SentenceResult(s.repo, s.docId, s.sid, ms, trips)
  }

  /** Runs the traced pass over `docs` and returns the per-partition stats. */
  def run(spark: SparkSession, docs: DataFrame, models: Broadcast[Models]): Seq[PartStats] = {
    import spark.implicits._
    val traced = docs.select(col("repo"), col("content")).as[(String, String)].mapPartitions { it =>
      val m = models.value
      val a = new Acc
      val start = System.nanoTime()
      val rows = it.flatMap { case (repo, content) =>
        a.docs += 1
        val t0 = System.nanoTime()
        val parsed = XmlParse.parseDocEither(repo, content)
        a.parseNs += System.nanoTime() - t0
        parsed match {
          case Left(_)      => a.malformed += 1; Iterator.empty
          case Right(sents) => sents.iterator.map(s => TracedRow(Some(scoreSentence(s, m, a)), None))
        }
      }
      // map is lazy: the stats row is built after the last sentence
      rows ++ Iterator.single(()).map { _ =>
        TracedRow(None, Some(PartStats(start, System.nanoTime(), a.docs, a.malformed, a.sentences,
          a.tokens, a.mentions, a.pairs, a.relations, a.triples, a.parseNs, a.tokenizeNs, a.tagNs,
          a.decodeNs, a.classifyNs, a.canonNs, a.digestNs, a.mentionDigest, a.tripleDigest)))
      }
    }
    // consume the encoded rows as a noop sink would, keeping the stats rows
    val statsOrdinal = 1
    traced.queryExecution.toRdd.mapPartitions { it =>
      it.filter(!_.isNullAt(statsOrdinal)).map { r =>
        val s = r.getStruct(statsOrdinal, 19)
        PartStats(s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3), s.getLong(4), s.getLong(5),
          s.getLong(6), s.getLong(7), s.getLong(8), s.getLong(9), s.getLong(10), s.getLong(11),
          s.getLong(12), s.getLong(13), s.getLong(14), s.getLong(15), s.getLong(16), s.getLong(17),
          s.getLong(18))
      }
    }.collect().toSeq
  }
}
