package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming operators.
  *
  * The reference is batch-only (SURVEY §2.7), but a production ingest of
  * a 10^12-file corpus arrives as a stream; these are the streaming
  * twins of the batch operators: the KG pass (`scoreStream`), windowed
  * counts, sessions, enrichment, and exact, near-dup, ANN, incremental,
  * paragraph and span dedup, decontamination, the filter policy and the
  * token-budget mix.
  *
  * Every operator runs on any streaming source (`readStream`); specs
  * drive them with MemoryStream or a parquet file source. Given a stream,
  * each operator installs [[graft.io.LocalCheckpointFileManager]] on its
  * session unless a checkpoint manager is set: local checkpoint files are
  * written over `java.nio`, with no `.crc` siblings and no forked `chmod`.
  *
  * The stateful dedup operators share their state rules, each written
  * once: the embedding rings of `annDedupStream` and `ivfDedupStream`
  * admit through `admit` (folded per key by `ringDedup`), IVF cells come
  * from `nearestCell` for live and history rows alike, and the digest
  * stores of `incrementalDedupStream`, `paragraphDedupStream` and
  * `dupSpansStream` keep one boolean per key through `admitOnce`.
  */
object StreamOps {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  /** `in`, with the checkpoint manager installed on its session if it streams. */
  private def managed[T](in: Dataset[T]): Dataset[T] = {
    if (in.isStreaming) graft.io.LocalCheckpointFileManager.install(in.sparkSession)
    in
  }
  final case class SessionOut(user_id: Long, n_events: Long, start: Timestamp, end: Timestamp)
  final case class SessionState(n: Long, start: Long, last: Long)

  /** Tumbling event-time window counts with a watermark. */
  def windowedCounts(events: DataFrame, windowSec: Int = 600, lateSec: Int = 300): DataFrame =
    managed(events)
      .withWatermark("ts", s"$lateSec seconds")
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(
        col("window.start").as("w_start"),
        col("event_type"),
        col("n"),
        col("total_value")
      )

  /** Streaming KG construction: [[graft.pipeline.Pipeline.scoreDocs]]
    * over a streaming docs source, sha check included (stateless per row,
    * so append mode with no watermark). Kept only because `kgbench/`
    * compiles against it.
    */
  def scoreStream(
      spark: SparkSession,
      docs: DataFrame,
      models: org.apache.spark.broadcast.Broadcast[graft.pipeline.Pipeline.Models]
  ): Dataset[graft.pipeline.Pipeline.SentenceResult] =
    graft.pipeline.Pipeline.scoreDocs(spark, docs, models)

  /** Streaming dedup with bounded state: drop events whose `event_id`
    * was already seen WITHIN THE WATERMARK DELAY (`lateSec`). A duplicate
    * id arriving more than `lateSec` later in event time is re-emitted —
    * that is the deliberate tradeoff for bounded state: exact forever-
    * dedup would need a state entry per distinct id ever seen (plain
    * `dropDuplicates("event_id")` does exactly that and never evicts, a
    * guaranteed OOM on a long-running ingest). Downstream exact dedup, if
    * required, is the batch `Dedup.exact` pass over the sink table.
    */
  def dedupStream(events: DataFrame, lateSec: Int = 600): DataFrame =
    managed(events)
      .withWatermark("ts", s"$lateSec seconds")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming near-duplicate suppression on document content: the
    * row-local simhash (TextOps.simhashExpr — no shuffle, no aggregation
    * state, so it composes with any streaming sink) keyed into a
    * watermark-bounded dedup. Fingerprint-identical documents arriving
    * within the delay are dropped; hamming>0 near-dups pass — this is
    * the cheap in-flight guard, the full near-dup sweep stays the batch
    * pass (Dedup.simhashNearDup / nearDupClusters) over the sink table.
    * Input needs `text` and an event-time `ts` column.
    */
  def nearDupStream(docs: DataFrame, lateSec: Int = 600, bits: Int = 60): DataFrame =
    managed(docs)
      .withColumn("simhash", graft.ops.TextOps.simhashExpr(col("text"), bits))
      .withWatermark("ts", s"$lateSec seconds")
      .dropDuplicatesWithinWatermark("simhash")

  /** Stream-batch enrichment: left-join the stream against a small
    * static dimension with an explicit broadcast. Stateless (unlike a
    * stream-stream join) and shuffle-free on the stream side — each
    * micro-batch maps through the broadcast hash table, so the operator
    * scales with the stream, not the dimension's key cardinality in
    * state. The batch-side frame is re-read per micro-batch only if its
    * source changes; a broadcast pins one snapshot per batch.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    managed(stream).join(broadcast(dim), Seq(key), "left")

  final case class EmbRow(vec_id: Long, embedding: Seq[Float])
  final case class BucketRing(vecs: Seq[Seq[Float]])

  /** Streaming embedding near-dup suppression — the streaming twin of
    * the ANN dedup path (Similarity.lshBuckets + cosine threshold):
    * each incoming vector is hyperplane-bucketed (stateless projection,
    * same buckets as the batch op) and compared against the vectors
    * already ADMITTED in its bucket; a cosine >= `threshold` match
    * suppresses it, otherwise it is emitted and admitted.
    *
    * State posture (the 100 TB question): state is bounded WITHOUT a
    * watermark — at most 2^nPlanes buckets, each holding the last
    * `maxPerBucket` admitted vectors (FIFO ring): <= 2^nPlanes ×
    * maxPerBucket vectors total, independent of stream length. The
    * trade, stated plainly: a duplicate of a vector evicted from the
    * ring (> maxPerBucket admissions ago in that bucket) is re-admitted
    * — standard bounded-cache dedup semantics, exact within the
    * retention window. Recall is ANN recall: a near-dup landing in a
    * different bucket is not compared (use the batch pass over the sink
    * table for the exact sweep, as with nearDupStream).
    *
    * Within a micro-batch, rows are processed in vec_id order, so the
    * admitted set is deterministic for a given batch decomposition.
    */
  def annDedupStream(
      spark: SparkSession,
      emb: Dataset[EmbRow],
      threshold: Double = 0.95,
      nPlanes: Int = 8,
      maxPerBucket: Int = 64
  ): Dataset[EmbRow] = {
    import spark.implicits._
    val keyed = graft.ops.Similarity.lshBuckets(managed(emb).toDF(), nPlanes)
      .as[(Long, Seq[Float], Long)]
      .groupByKey(_._3)
    ringDedup(keyed, threshold, maxPerBucket, None)
  }

  /** Plain-Scala cosine for the streaming dedup rings (state-side code
    * runs outside Catalyst; zero-norm → 0.0, i.e. never a dup match).
    */
  private def cosF(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** The ring admission rule: `rows` go in `vec_id` order; a row whose
    * cosine to some ring vector is >= `threshold` is suppressed, any
    * other is emitted and appended, keeping the last `max` vectors.
    * Returns the new ring and the emitted rows.
    */
  private def admit(
      ring: Seq[Seq[Float]],
      rows: Iterator[(Long, Seq[Float])],
      threshold: Double,
      max: Int): (Seq[Seq[Float]], Seq[EmbRow]) = {
    var r = ring
    val out = Seq.newBuilder[EmbRow]
    rows.toSeq.sortBy(_._1).foreach { case (id, vec) =>
      if (!r.exists(v => cosF(v, vec) >= threshold)) {
        out += EmbRow(id, vec)
        r = (r :+ vec).takeRight(max)
      }
    }
    (r, out.result())
  }

  /** One ring of admitted vectors per key, each micro-batch's rows of a
    * key folded through `admit`; `init` preloads rings.
    */
  private def ringDedup[K](
      keyed: KeyValueGroupedDataset[K, (Long, Seq[Float], K)],
      threshold: Double,
      max: Int,
      init: Option[KeyValueGroupedDataset[K, BucketRing]]): Dataset[EmbRow] = {
    implicit val ringEnc: Encoder[BucketRing] = Encoders.product[BucketRing]
    implicit val rowEnc: Encoder[EmbRow] = Encoders.product[EmbRow]
    foldState(keyed, init) { (_, it, state) =>
      val (ring, out) = admit(
        state.getOption.fold(Seq.empty[Seq[Float]])(_.vecs), it.map(t => (t._1, t._2)), threshold, max)
      state.update(BucketRing(ring))
      out.iterator
    }
  }

  /** The IVF cell of `vec`: centroids are scanned in id order and a cell
    * is kept only on a strict `>`, so the highest cosine wins and a tie
    * goes to the LOWEST cell id. `cents` is sorted by id.
    */
  private def nearestCell(cents: Array[(Int, Seq[Float])], vec: Seq[Float]): Int = {
    var bestCell = cents(0)._1
    var bestCos = Double.NegativeInfinity
    cents.foreach { case (cid, cvec) =>
      val s = cosF(cvec, vec)
      if (s > bestCos) { bestCos = s; bestCell = cid }
    }
    bestCell
  }

  /** An append-mode, no-timeout `flatMapGroupsWithState` over `keyed`,
    * with its state preloaded from `init` when one is given.
    */
  private def foldState[K, V, S: Encoder, U: Encoder](
      keyed: KeyValueGroupedDataset[K, V],
      init: Option[KeyValueGroupedDataset[K, S]])(
      fn: (K, Iterator[V], GroupState[S]) => Iterator[U]): Dataset[U] =
    init match {
      case Some(i) => keyed.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout, i)(fn)
      case None => keyed.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
    }

  /** The admit-once rule of the digest stores: one boolean of state per
    * key, preloaded from `store` when one is given. `emit` gets the
    * key's rows of the micro-batch and whether the key was known at
    * batch start; from then on the key is known.
    */
  private def admitOnce[K: Encoder, V, U: Encoder](
      keyed: KeyValueGroupedDataset[K, V],
      store: Option[Dataset[K]])(
      emit: (K, Iterator[V], Boolean) => Iterator[U]): Dataset[U] = {
    implicit val flag: Encoder[Boolean] = Encoders.scalaBoolean
    foldState(keyed, store.map(_.groupByKey(identity).mapValues(_ => true))) { (key, it, state) =>
      val known = state.exists
      val out = emit(key, it, known)
      if (!known) state.update(true)
      out
    }
  }

  /** IVF twin of [[annDedupStream]] — streaming near-dup suppression
    * for CLUSTERED embedding streams. The LSH twin keys its state on
    * hyperplane sign buckets, which DEGENERATE on tightly clustered
    * data (the round-6 batch finding, `Similarity.bucketedTopK`
    * scaladoc): bucket ≈ cluster, so one ring absorbs the whole
    * cluster, saturates at `maxPerBucket`, and every arriving member
    * linear-scans a full ring while suppression quality collapses to
    * the ring's retention horizon. IVF cells are seeded by SAMPLED
    * corpus points — `centroids` is a static index snapshot built
    * OFFLINE with [[graft.ops.Similarity.ivfCentroids]] on a corpus
    * sample (the standard train-then-serve ANN split) — so a tight
    * cluster is subdivided across ~nCells/nClusters cells and
    * per-event work stays ring-bounded and cluster-independent.
    *
    * Assignment is single-cell (the streaming analogue of nProbe = 1):
    * exactly one state row per cell, ≤ nCells × maxPerCell vectors of
    * state total, no watermark needed — the same bounded-state contract
    * as the LSH twin. Trades, stated plainly: a near-dup pair
    * straddling a cell boundary is not compared (the batch pass over
    * the sink table is the exact sweep), and a duplicate of a vector
    * evicted from its ring is re-admitted. Tie-break mirrors the batch
    * `nearestCells` exactly: highest cosine, then LOWEST cell id
    * (centroids are scanned in id order with a strict `>`).
    */
  def ivfDedupStream(
      spark: SparkSession,
      emb: Dataset[EmbRow],
      centroids: Seq[(Int, Seq[Float])],
      threshold: Double = 0.95,
      maxPerCell: Int = 64,
      historyVecs: Option[DataFrame] = None
  ): Dataset[EmbRow] = {
    import spark.implicits._
    require(centroids.nonEmpty, "ivfDedupStream needs a non-empty centroid snapshot")
    val cents = centroids.sortBy(_._1).toArray
    val keyed = managed(emb)
      .map(r => (r.vec_id, r.embedding, nearestCell(cents, r.embedding)))
      .groupByKey(_._3)
    // streaming q47: rings preloaded from the ingested corpus, so deltas
    // are suppressed against HISTORY too. History rows take their cell
    // from `nearestCell` and each cell's ring replays `admit` over them in
    // vec_id order (a raw takeRight of the history would keep near-dups
    // the live stream skips): the live rows' own rules, so preloaded and
    // organically grown rings are indistinguishable by construction
    // (spec-gated). A cell's history is materialized to sort it: bounded
    // by per-cell history, as the live fold is by its micro-batch.
    val init = historyVecs.map(
      _.select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
        .as[(Long, Seq[Float])]
        .map { case (id, vec) => (nearestCell(cents, vec), id, vec) }
        .groupByKey(_._1)
        .mapGroups { (cell, it) =>
          cell -> BucketRing(admit(Nil, it.map(t => (t._2, t._3)), threshold, maxPerCell)._1)
        }
        .groupByKey(_._1)
        .mapValues(_._2))
    ringDedup(keyed, threshold, maxPerCell, init)
  }

  final case class IncrDedupOut(doc_id: Long, dup_key: String, reason: String)

  /** Streaming twin of [[graft.ops.Dedup.incrementalDedup]] — CONTINUOUS
    * ingest against the corpus fingerprint store, with the store living
    * IN the streaming state store: `historyDigests` (the batch digest
    * table, [[graft.ops.Dedup.digests]]) is preloaded via
    * `flatMapGroupsWithState`'s `initialState`, so the checkpointed
    * state IS the fingerprint store — one boolean per distinct digest
    * (16-byte md5 key), exactly the table the batch op joins against,
    * now fault-tolerant and exactly-once via the checkpoint like every
    * other stateful op here.
    *
    * Reason vocabulary matches the batch op: a digest present at
    * micro-batch start (preloaded history OR admitted in an earlier
    * batch — by then its survivor IS ingested corpus) reads
    * `exact_dup_history`; within a micro-batch the min-doc_id row of a
    * new digest is `kept` and the rest `exact_dup_delta` — one
    * micro-batch over a delta equals the batch op row-for-row.
    *
    * Scale posture: per-event work is O(1) (one state lookup keyed by
    * digest — Spark shuffles arrivals to their key's state partition);
    * state grows with DISTINCT corpus digests, the same 16-bytes/doc
    * budget the batch fingerprint store already pays, and never with
    * duplicate mass. No watermark: corpus membership does not expire.
    */
  def incrementalDedupStream(
      spark: SparkSession,
      docs: DataFrame,
      historyDigests: DataFrame): Dataset[IncrDedupOut] = {
    import spark.implicits._
    val keyed = managed(docs)
      .select(
        col("doc_id").cast("long"),
        md5(to_binary(col("text"), lit("utf-8"))).as("dup_key"))
      .as[(Long, String)]
      .groupByKey(_._2)
    admitOnce(keyed, Some(historyDigests.select(col("dup_key")).as[String])) { (key, it, known) =>
      it.toSeq.sortBy(_._1).zipWithIndex.map { case ((id, _), i) =>
        IncrDedupOut(
          id, key,
          if (known) "exact_dup_history"
          else if (i == 0) "kept"
          else "exact_dup_delta")
      }.iterator
    }
  }

  final case class ParaDedupOut(doc_id: Long, para_idx: Int, dup_key: String, kept: Int)

  /** Streaming twin of [[graft.ops.Dedup.paragraphDedup]] — continuous
    * paragraph-granularity boilerplate suppression: arriving documents
    * explode into paragraphs (stateless `posexplode`), and each
    * paragraph digest is admitted AT MOST ONCE across the stream's
    * lifetime — one boolean of state per distinct paragraph, preloaded
    * from a stored digest table via `initialState` exactly like
    * [[incrementalDedupStream]] (the checkpointed state store IS the
    * paragraph-digest store). Output is per (doc, para_idx) kept flags
    * in append mode; document REASSEMBLY is deliberately left to the
    * consumer (a `foreachBatch` groupBy(doc_id) — a second stateful
    * shuffle inside one append-mode query is not a streaming shape,
    * and the batch op's reassembly tail is reusable there verbatim).
    *
    * Contract: one micro-batch over fresh state == the batch op's
    * kept/removed decisions per (doc_id, para_idx) (spec-gated —
    * within a batch the survivor is the minimum (doc_id, para_idx),
    * the batch keeper rule); across batches, earlier-batch admission
    * wins, the arrival-order analogue of global-first-occurrence.
    *
    * Scale posture: per-paragraph work is one state lookup keyed by
    * digest; state grows with DISTINCT paragraphs (16-byte keys),
    * never with duplicate mass. No watermark: boilerplate membership
    * does not expire.
    */
  def paragraphDedupStream(
      spark: SparkSession,
      docs: DataFrame,
      sep: String = "\n\n",
      initialDigests: Option[DataFrame] = None): Dataset[ParaDedupOut] = {
    import spark.implicits._
    val paras = managed(docs)
      .select(
        col("doc_id").cast("long"),
        posexplode(split(col("text"), java.util.regex.Pattern.quote(sep), -1))
          .as(Seq("para_idx", "para")))
      .select(
        col("doc_id"), col("para_idx"),
        md5(to_binary(col("para"), lit("utf-8"))).as("dup_key"))
      .as[(Long, Int, String)]
      .groupByKey(_._3)
    admitOnce(paras, initialDigests.map(_.select(col("dup_key")).as[String])) { (key, it, known) =>
      it.toSeq.sortBy(t => (t._1, t._2)).zipWithIndex.map { case ((id, idx, _), i) =>
        ParaDedupOut(id, idx, key, if (!known && i == 0) 1 else 0)
      }.iterator
    }
  }

  final case class DupSpanOut(doc_id: Long, strt: Int, dup: Int)

  /** Streaming twin of [[graft.ops.Dedup.incrementalDupSpans]] —
    * continuous exact-substring duplicate flagging: arriving documents
    * explode into their k-token windows (stateless — the same
    * digest-before-shuffle front as the batch family via
    * `Dedup.windowOcc`), and each window digest is admitted AT MOST
    * ONCE across the stream's lifetime — one boolean of state per
    * distinct window, preloaded from a stored
    * [[graft.ops.Dedup.windowDigests]] table via `initialState` (the
    * checkpointed state store IS the window-digest store). Output is
    * per (doc_id, strt) dup flags in append mode; span MERGING and the
    * per-doc signal aggregation are deliberately left to the consumer
    * (a `foreachBatch` groupBy(doc_id) — a second stateful shuffle in
    * one append-mode query is not a streaming shape, and the batch
    * op's row-local merge fold is reusable there verbatim).
    *
    * Contract: one micro-batch over a preloaded store == the batch
    * incremental op's per-window flag decisions (spec-gated — within a
    * batch the keeper is the minimum (doc_id, strt), the batch
    * election; a digest known to the store flags every occurrence);
    * across batches, earlier-batch admission wins — the arrival-order
    * analogue of global-first-occurrence.
    *
    * Scale posture: per-window work is one state lookup keyed by the
    * 16-byte digest; state grows with DISTINCT windows, never with
    * duplicate mass. No watermark: substring membership does not
    * expire.
    */
  def dupSpansStream(
      spark: SparkSession,
      docs: DataFrame,
      k: Int = 50,
      initialDigests: Option[DataFrame] = None): Dataset[DupSpanOut] = {
    import spark.implicits._
    require(k >= 2, s"window width must be >= 2 tokens, got $k")
    val occ = graft.ops.Dedup.windowOcc(managed(docs).select(col("doc_id").cast("long"), col("text")), k)
      .as[(Long, Int, Array[Byte])]
      .groupByKey(_._3)
    val store = initialDigests.map { store =>
      // same loud store-format check as the batch flaggedWindows: a
      // pre-round-8 hex-string store would silently preload state
      // keys that never match the binary stream digests
      require(store.schema("h").dataType == org.apache.spark.sql.types.BinaryType,
        s"initialDigests.h must be BINARY (raw md5 bytes, the round-8 store " +
          s"format); got ${store.schema("h").dataType} — re-derive the store " +
          "with Dedup.windowDigests()")
      store.select(col("h")).as[Array[Byte]]
    }
    admitOnce(occ, store) { (_, it, known) =>
      it.toSeq.sortBy(t => (t._1, t._2)).zipWithIndex.map { case ((id, strt, _), i) =>
        DupSpanOut(id, strt, if (!known && i == 0) 0 else 1)
      }.iterator
    }
  }

  final case class DecontOut(doc_id: Long, n_hit_shingles: Long, contaminated: Int)

  /** Collect a benchmark corpus's distinct k-token shingles for
    * streaming decontamination. The collect is bounded BY CONTRACT:
    * the benchmark side is an eval set (MBs), the same smallness
    * assumption the batch op's `broadcast()` makes — never call this
    * on a training-scale corpus.
    */
  def benchmarkShingles(
      spark: SparkSession,
      benchmark: DataFrame,
      k: Int = 5
  ): org.apache.spark.broadcast.Broadcast[Set[String]] =
    spark.sparkContext.broadcast(
      graft.ops.Dedup.shingleRows(benchmark, k)
        .select("shingle").distinct()
        .collect().map(_.getString(0)).toSet)

  /** Streaming twin of [[graft.ops.TextOps.decontaminate]]: flag
    * documents sharing any k-gram with a benchmark corpus as they
    * arrive. Entirely STATELESS — the benchmark shingle set is a
    * broadcast snapshot and the check is row-local (each doc's
    * shingles are probed against the broadcast hash set inside the
    * map), so the operator needs no watermark, no state store, and no
    * shuffle: it composes with any sink in append mode and scales with
    * the stream alone. Output matches the batch op exactly
    * (n_hit_shingles = distinct contaminated shingles; spec-gated).
    */
  def decontaminateStream(
      spark: SparkSession,
      docs: DataFrame,
      benchShingles: org.apache.spark.broadcast.Broadcast[Set[String]],
      k: Int = 5
  ): Dataset[DecontOut] = {
    import spark.implicits._
    managed(docs).select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = text.split(" ", -1)
        var hits = Set.empty[String]
        if (toks.length >= k) {
          val bench = benchShingles.value
          toks.sliding(k).foreach { w =>
            val s = w.mkString(" ")
            if (bench.contains(s)) hits += s
          }
        }
        DecontOut(id, hits.size.toLong, if (hits.nonEmpty) 1 else 0)
      }
  }

  final case class PolicyOut(doc_id: Long, lang: String, n_tokens: Int, reason: String, keep: Int)

  /** Streaming twin of [[graft.ops.TextOps.filterPolicy]] — same rules,
    * same precedence, same integer-arithmetic repetition threshold, but
    * the contamination check is a row-local probe of the broadcast
    * benchmark shingle set (see [[benchmarkShingles]]) instead of the
    * batch join, so the whole policy is STATELESS: no watermark, no
    * state store, no shuffle; output equals the batch op exactly
    * (spec-gated).
    */
  def filterPolicyStream(
      spark: SparkSession,
      docs: DataFrame,
      benchShingles: org.apache.spark.broadcast.Broadcast[Set[String]],
      allowedLangs: Set[String] = Set("en", "de"),
      minTokens: Int = 20,
      maxTokens: Int = 90,
      repNum: Int = 1,
      repDen: Int = 12,
      k: Int = 5
  ): Dataset[PolicyOut] = {
    import spark.implicits._
    managed(docs).select(col("doc_id").cast("long"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, lang, text) =>
        val toks = text.split(" ", -1)
        val n = toks.length
        val mx =
          if (n < 2) 0L
          else {
            val counts = scala.collection.mutable.HashMap.empty[String, Long]
            toks.sliding(2).foreach { w =>
              val g = w.mkString(" "); counts.update(g, counts.getOrElse(g, 0L) + 1L)
            }
            counts.valuesIterator.max
          }
        lazy val contaminated = n >= k && {
          val bench = benchShingles.value
          toks.sliding(k).exists(w => bench.contains(w.mkString(" ")))
        }
        val reason =
          if (!allowedLangs.contains(lang)) "lang"
          else if (n < minTokens) "too_short"
          else if (n > maxTokens) "too_long"
          else if (mx * repDen > (n - 1).toLong * repNum) "repetitive"
          else if (contaminated) "contaminated"
          else "kept"
        PolicyOut(id, lang, n, reason, if (reason == "kept") 1 else 0)
      }
  }

  final case class MixOut(doc_id: Long, lang: String, n_tokens: Int, cum_tokens: Long)
  final case class MixState(cum: Long) // encoder-visible (codegen needs public access)

  /** Streaming twin of [[graft.ops.Sampling.tokenBudgetMix]]: admit
    * documents per language domain until that domain's token budget is
    * spent, then reject the rest of the stream. State is ONE running
    * counter per domain (a `Long` keyed by `lang` — bounded by the
    * domain count, never by corpus size), so the operator runs forever
    * on an unbounded ingest.
    *
    * Ordering contract: the batch op defines admission by a global
    * md5(doc_id) order; a stream cannot sort what has not arrived, so
    * admission here is micro-batch-arrival order with the SAME
    * md5(doc_id) tiebreak WITHIN each micro-batch (deterministic given
    * a deterministic batching; feed one batch and the output — cum
    * included — equals the batch op exactly, which is how the spec
    * gates it). `cum_tokens` counts every seen doc, admitted or not,
    * mirroring the batch window over the full domain.
    */
  def tokenBudgetMixStream(
      spark: SparkSession,
      docs: DataFrame,
      budgets: Map[String, Long],
      defaultBudget: Long
  ): Dataset[MixOut] = {
    import spark.implicits._
    managed(docs)
      .select(col("doc_id").cast("long"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (lang: String, it: Iterator[(Long, String, String)], state: GroupState[MixState]) => {
          val budget = budgets.getOrElse(lang, defaultBudget)
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val md = java.security.MessageDigest.getInstance("MD5") // digest() resets it
          val ordered = it.toArray.sortBy { case (id, _, _) =>
            (md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString, id)
          }
          val out = ordered.flatMap { case (id, _, text) =>
            val n = text.split(" ", -1).length
            val admitted = cum < budget
            cum += n
            if (admitted) Some(MixOut(id, lang, n, cum)) else None
          }
          state.update(MixState(cum))
          out.iterator
        })
  }

  /** Gap-based streaming sessionization with per-user state. A session
    * closes when no event arrives within `gapSec` of the last one
    * (event time, enforced via watermark + state timeout).
    */
  def sessionizeStream(
      spark: SparkSession,
      events: Dataset[Event],
      gapSec: Long = 1800L
  ): Dataset[SessionOut] = {
    import spark.implicits._
    managed(events)
      .withWatermark("ts", s"$gapSec seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.n, new Timestamp(s.start), new Timestamp(s.last)))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapSec * 1000 =>
                  // min/max (not overwrite): a late event from an earlier
                  // micro-batch may precede the stored bounds —
                  // flatMapGroupsWithState does NOT drop late rows, and
                  // rewinding `last` would set a timeout in the past
                  // (IllegalArgumentException) and mis-split sessions
                  cur = Some(s.copy(
                    n = s.n + 1,
                    start = math.min(s.start, t),
                    last = math.max(s.last, t)))
                case Some(s) =>
                  out += SessionOut(userId, s.n, new Timestamp(s.start), new Timestamp(s.last))
                  cur = Some(SessionState(1, t, t))
                case None =>
                  cur = Some(SessionState(1, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeouts must be strictly beyond the current watermark
              state.setTimeoutTimestamp(
                math.max(s.last + gapSec * 1000, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
        }
      )
  }
}
