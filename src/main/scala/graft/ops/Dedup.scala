package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, n-gram Jaccard,
  * embedding-cosine near-dup. (SimHash lives in TextOps.)
  *
  * Scale posture:
  *   - exact dedup is one hash-groupBy on a 128-bit digest — the digest
  *     (16 bytes) shuffles, never the document body;
  *   - MinHash+LSH bounds the near-dup search to same-(band, signature)
  *     buckets: candidates come from in-bucket pair combinations after
  *     ONE shuffle of the signature stream into buckets — O(Σ bucket²)
  *     pair work instead of O(n²), and half the shuffle volume of the
  *     equivalent bucket-keyed self-join (which ships each signature
  *     once per join side);
  *   - n-gram Jaccard is the expensive verifier, run only on LSH
  *     candidates (or an explicit bounded pair set);
  *   - embedding near-dup brute force is for verification; the scale
  *     path is Similarity.lshBuckets.
  */
object Dedup {

  /** Buckets larger than this fall back to star-shaped pair generation
    * (see [[lshCandidates]]). Default is far above any honest LSH/simhash
    * bucket (sf0.1 max observed: <100) but bounds the damage of a
    * pathological corpus — e.g. 10^7 byte-identical docs when exact
    * dedup wasn't run first — to O(bucket) instead of O(bucket²).
    */
  val DefaultMaxBucket = 4096

  /** Mega-bucket observations — one [[org.apache.spark.sql.Observation]]
    * per op call, attached to the bucket frame via `Dataset.observe`, so
    * the count is ACTION-SCOPED AND EXACT: observed metrics are
    * de-duplicated under task retries and speculative attempts, and the
    * handle captures the FIRST action on the returned frame only (a
    * second action cannot inflate it). The registry keeps the latest
    * handle per op name for [[megaBucketCount]], so two concurrent calls
    * of the same op share one count: the later call's.
    */
  private val megaObsRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Observation]()
  private val megaObsSeq = new java.util.concurrent.atomic.AtomicLong()
  private def megaObservation(op: String) = {
    val obs = org.apache.spark.sql.Observation(
      s"graft.dedup.megaBuckets.$op.${megaObsSeq.incrementAndGet()}")
    megaObsRegistry.put(op, obs)
    obs
  }
  private def megaMetric(sizeCol: Column, maxBucket: Int): Column =
    sum(when(sizeCol > maxBucket, 1L).otherwise(0L)).as("megaBuckets")

  /** Executor-side warning when the mega-bucket guard fires, so the
    * degradation is visible in task logs (not just the metric): states
    * the bucket size and that per-pair output is incomplete for the
    * bucket (see the guard notes in [[lshCandidates]]/
    * [[simhashNearDup]]). Rate-limited to the first [[WarnMegaLimit]]
    * per op per executor JVM — a pathological corpus fires the guard
    * once per mega bucket per band per task attempt, which would flood
    * executor logs; the EXACT count is always carried by the observe
    * metric, the log line is just the human breadcrumb.
    */
  private val WarnMegaLimit = 5L
  private val warnMegaCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private def warnMega(op: String, bucketSize: Int, maxBucket: Int): Unit = {
    val n = warnMegaCounts
      .computeIfAbsent(op, _ => new java.util.concurrent.atomic.AtomicLong())
      .incrementAndGet()
    val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup")
    if (n <= WarnMegaLimit)
      log.warn(
        s"mega-bucket guard fired (op=$op size=$bucketSize max=$maxBucket): " +
          "degrading to hub-star + hamming-0-collapse pairs; per-pair output " +
          "may be incomplete for this bucket")
    else if (n == WarnMegaLimit + 1)
      log.warn(
        s"mega-bucket guard fired again (op=$op): suppressing further warnings " +
          s"in this JVM; the exact bucket count is on the observe metric")
  }

  /** Mega-buckets hit by the first action on the frame returned by the
    * LAST [[lshCandidates]]/[[simhashNearDup]] call of `op`
    * ("lsh" | "simhash") in this JVM; a default-path
    * [[nearDupClusters]] call counts as "lsh" and acts inside the call
    * (its CC checkpoints the edges), so its count is ready on return.
    * Exact under stage retries / speculation / repeated actions
    * (observe-based, see
    * [[megaObsRegistry]]). Observed metrics arrive via an async
    * listener, so this waits up to 5 s for them after an action (the
    * budget covers a loaded host's listener-bus lag without stalling a
    * misuse-before-action caller forever); a 0
    * therefore means EITHER "first action completed, no degradation"
    * OR "no action has completed yet" (e.g. the frame was only
    * planned/explained) — call it only after acting on the returned
    * frame. Latest-call-wins per op name: concurrent calls of one op
    * read the later call's count.
    */
  def megaBucketCount(op: String): Long = megaBucketCountOption(op).getOrElse(0L)

  /** Like [[megaBucketCount]] but distinguishes "no degradation"
    * (`Some(0)`) from "metrics not available" (`None`): no
    * [[lshCandidates]]/[[simhashNearDup]] call of `op` has been made,
    * no action has completed on the returned frame (e.g. it was only
    * planned/explained), or the observed-metrics listener failed. The
    * up-to-5 s wait covers a loaded host's listener-bus lag between an
    * action finishing and its observed metrics arriving; a
    * misuse-before-action caller gets `None` after the wait instead of
    * a clean-looking 0.
    */
  def megaBucketCountOption(op: String): Option[Long] = {
    val obs = megaObsRegistry.get(op)
    if (obs == null) return None
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline) {
      obs.future.value match {
        case Some(scala.util.Success(row)) =>
          return Some(row.getAs[Any]("megaBuckets") match {
            case v: java.lang.Number => v.longValue
            case _                   => 0L
          })
        case Some(scala.util.Failure(_)) => return None
        case None                        => Thread.sleep(20)
      }
    }
    None
  }

  /** Exact duplicate groups: digest → group size + representative
    * (min doc_id). `keep_id` is the survivor a dedup pass would keep.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("dup_key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))

  /** Digest projection of a corpus — the fingerprint-store schema the
    * incremental flow joins against. In production this is a STORED
    * table maintained at ingest (md5 is 16 bytes/doc — ~1.6 TB of
    * fingerprints for 10^11 docs, bucketed by `dup_key` so the
    * delta-vs-history join is co-located); the history's TEXT is never
    * read again.
    */
  def digests(docs: DataFrame): DataFrame =
    docs
      .select(md5(to_binary(col("text"), lit("utf-8"))).as("dup_key"))
      .distinct()

  /** Incremental (delta-vs-history) exact dedup — the shape a
    * production ingest actually runs: today's crawl increment is
    * deduplicated against the already-ingested corpus via its digest
    * store ([[digests]]), not by re-deduplicating the union. Reasons,
    * first-match precedence:
    *   - `exact_dup_history`: the digest is already ingested;
    *   - `exact_dup_delta`: a lower-doc_id row in THIS delta has the
    *     same digest (within-batch survivor = min doc_id, matching
    *     [[exact]]'s keep rule);
    *   - `kept`.
    *
    * Scale posture: one groupBy bounded by DELTA size + one equi-join
    * against the fingerprint store keyed on digest. The history
    * contributes only 16-byte keys; its text is never read, never
    * shuffled — re-running [[exact]] over history ∪ delta would
    * re-shuffle the full corpus for every increment.
    */
  def incrementalDedup(delta: DataFrame, historyDigests: DataFrame): DataFrame = {
    val keyed = delta.select(
      col("doc_id"),
      md5(to_binary(col("text"), lit("utf-8"))).as("dup_key"))
    val firstInDelta = keyed.groupBy(col("dup_key")).agg(min(col("doc_id")).as("first_id"))
    keyed
      .join(firstInDelta, Seq("dup_key"))
      .join(
        historyDigests.select(col("dup_key")).distinct().withColumn("in_hist", lit(1)),
        Seq("dup_key"), "left")
      .select(
        col("doc_id"),
        col("dup_key"),
        when(col("in_hist") === 1, "exact_dup_history")
          .when(col("doc_id") > col("first_id"), "exact_dup_delta")
          .otherwise("kept")
          .as("reason"))
  }

  /** Incremental NEAR-dup flags against a history band store: a delta
    * document is flagged when ≥ `minBands` of its MinHash band
    * signatures already appear in the history's distinct (band, sig)
    * set (`historyBands` — in production a stored table maintained at
    * ingest, like [[digests]]; build it as
    * `minhashSignatures(history).select("band","sig").distinct()`).
    *
    * Same join shape as the exact flow: the delta's signatures (8 rows
    * per doc) equi-join the band store on (band, sig); history text is
    * never read. A (band, sig) match is the LSH band-collision event,
    * so `minBands` here means exactly what it does in
    * [[nearDupClustersCollapsed]]. Documents with fewer tokens than the
    * shingle width have no signature and are absent from the output
    * (they cannot be shingle-near-dups by definition).
    */
  def incrementalNearDup(
      delta: DataFrame, historyBands: DataFrame, minBands: Int = 2): DataFrame =
    minhashSignatures(delta)
      .join(
        historyBands.select(col("band"), col("sig")).distinct().withColumn("hit", lit(1)),
        Seq("band", "sig"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_shared_bands"))
      .select(
        col("doc_id"), col("n_shared_bands"),
        when(col("n_shared_bands") >= minBands, 1).otherwise(0).as("near_dup"))

  /** (doc_id, position) packed into one long for keeper-election mins:
    * min(struct(...)) silently degrades to SortAggregate (struct is not
    * a mutable-buffer type; PlanSpec locks the hash form), while a long
    * min stays in a HashAggregate buffer with map-side combine, and the
    * packing preserves lexicographic (doc_id, pos) order. Capacity is
    * guarded LOUDLY (assert_true), not silently wrapped: doc_id < 2^43
    * (8.8e12 — an order above the 10^12-row design point) and pos <
    * 2^20 (1M positions per doc).
    */
  private def packedPos(docId: Column, pos: Column, op: String): Column =
    // widen BEFORE shifting: shiftleft preserves its input type, so an
    // IntegerType doc_id column would wrap at 32 bits for ids >= 2^11
    // while the (long-widened) guard below still passed — a silently
    // wrong keeper election instead of the loud failure this guard is
    // for
    shiftleft(docId.cast("long"), 20) + pos +
      coalesce(
        assert_true(
          docId >= 0 && docId < (1L << 43) && pos < (1 << 20),
          lit(s"$op keeper key overflow: doc_id/position out of packed range"))
          .cast("long"),
        lit(0L))

  /** Paragraph-granularity dedup (the RefinedWeb/Dolma "repeated
    * boilerplate" scrub): documents are split on `sep`, every paragraph
    * is deduplicated ACROSS the whole corpus (survivor = the globally
    * first occurrence, i.e. minimum (doc_id, para_idx)), and each
    * document is reassembled from its surviving paragraphs in original
    * order. Unlike the doc-level ops above this removes a navigation
    * bar / license header / cookie banner repeated across thousands of
    * otherwise-distinct pages — the dedup granularity document-level
    * digests cannot see. Intra-document repeats collapse too (same
    * rule: only the first occurrence survives).
    *
    * Output: one row per input doc —
    * (doc_id, n_paras, n_kept, text_dedup); a doc whose every paragraph
    * appeared earlier comes back with n_kept = 0 and empty text (the
    * caller's filter policy decides whether to drop it).
    *
    * Scale posture: paragraphs are keyed by md5 digest, so the
    * keeper-election aggregate shuffles (digest, doc_id, para_idx)
    * triples — bounded by paragraph COUNT, with map-side min-combine
    * collapsing each partition's repeats to one row per digest — and
    * the survivor join is an equi-join on the digest (broadcastable
    * only at toy scale, shuffle-hash at corpus scale, never all-pairs).
    * Paragraph TEXT is shuffled exactly twice: once into the digest
    * join, once regrouping survivors by doc for reassembly — the same
    * bound as rewriting the corpus, which any paragraph-rewriting op
    * pays by definition.
    */
  def paragraphDedup(docs: DataFrame, sep: String = "\n\n"): DataFrame = {
    def packed(docId: Column, paraIdx: Column): Column =
      packedPos(docId, paraIdx, "paragraphDedup")
    val paras = docs.select(
      col("doc_id"),
      posexplode(split(col("text"), java.util.regex.Pattern.quote(sep), -1))
        .as(Seq("para_idx", "para")))
      .withColumn("dup_key", md5(to_binary(col("para"), lit("utf-8"))))
    val keepers = paras
      .groupBy(col("dup_key"))
      .agg(min(packed(col("doc_id"), col("para_idx"))).as("keep"))
    paras
      .join(keepers, Seq("dup_key"))
      .withColumn(
        "kept",
        (packed(col("doc_id"), col("para_idx")) === col("keep")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(col("kept")).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept") === 1, struct(col("para_idx"), col("para"))))),
            x => x.getField("para")),
          sep).as("text_dedup"))
  }

  /** Distinct paragraph digests of a corpus — the stored table
    * [[graft.streaming.StreamOps.paragraphDedupStream]] preloads as its
    * initial state (the paragraph-granularity twin of [[digests]]):
    * 16 bytes per DISTINCT paragraph, maintained at ingest, so a
    * continuous crawl suppresses known boilerplate without re-reading
    * history text.
    */
  def paragraphDigests(docs: DataFrame, sep: String = "\n\n"): DataFrame =
    docs
      .select(explode(split(col("text"), java.util.regex.Pattern.quote(sep), -1)).as("para"))
      .select(md5(to_binary(col("para"), lit("utf-8"))).as("dup_key"))
      .distinct()

  /** Exact-substring duplication signals (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * RefinedWeb/C4 exact-substring stage): every k-token window of
    * every document is hashed, the GLOBAL first occurrence of each
    * window value is the keeper (same (doc_id, position) rule as
    * [[paragraphDedup]], so removal keeps exactly one copy
    * corpus-wide), and every later occurrence is a removable
    * duplicate. Flagged windows are merged into maximal token spans
    * per document ROW-LOCALLY, giving the actionable output: how many
    * tokens of each doc are verbatim repeats of text that appears
    * earlier in the corpus.
    *
    * Output per doc: (doc_id, n_tokens, n_dup_windows,
    * dup_tokens = merged flagged-span token mass, dup_frac). Docs
    * shorter than k have no window and read 0/0/0.0 — they cannot
    * contain a duplicated k-token substring by definition.
    *
    * Difference from [[graft.ops.TextOps.boilerplateShingles]]: that op
    * scores DISTINCT shingle document-frequency (a quality signal);
    * this one flags every duplicate OCCURRENCE with positions and
    * keeps one canonical copy (a removal plan).
    *
    * Scale posture: the window explode is n_tokens rows per doc — the
    * same volume class every shingle op here already pays, built in a
    * typed mapPartitions (the HOF form was measured 15× slower, see
    * [[windowOcc]]) — and the keeper election is ONE row_number window
    * over hash-partitioned digests (measured 2× the min-aggregate +
    * join-back form, which shuffles occ twice — see
    * [[flaggedWindows]]). Window text is hashed to the raw md5 digest
    * before the shuffle, so 16-byte keys travel, never k-token
    * strings; span merging never shuffles (one sorted fold inside the
    * doc's aggregation row).
    */
  def duplicatedWindowSpans(docs: DataFrame, k: Int = 50): DataFrame = {
    require(k >= 2, s"window width must be >= 2 tokens, got $k")
    windowSpanSignals(docs, flaggedWindows(docs, k), k)
  }

  /** One (doc_id, strt, h) row per k-token window of `text`, `h` the
    * RAW 16-byte md5 digest of the window's token string — the shared
    * front of the exact-substring family ([[duplicatedWindowSpans]],
    * [[removeDuplicatedWindows]], [[incrementalDupSpans]]). The digest
    * is computed BEFORE any shuffle so 16-byte keys travel, never
    * k-token strings. (Round 8: `h` had been the 32-char HEX encoding —
    * pure key-width overhead for a value that never leaves the ops:
    * every election/join/distinct downstream only needs digest
    * EQUALITY, and the binary form halves the shuffled/stored key —
    * guide §2.3 "narrower types". At the 10^12-window design point the
    * stored [[windowDigests]] projection halves outright.)
    */
  private[graft] def windowOcc(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // typed mapPartitions, not a transform/slice HOF expression: the
    // same lesson as [[shingleRows]] (higher-order functions are
    // CodegenFallback and slice allocates per element — the HOF form
    // measured 23.5 s for this explode at sf1 vs ~2 s typed, and the
    // join evaluates occ TWICE). MessageDigest is initialized once per
    // partition; the digest bytes equal Spark's md5()/DuckDB's md5()
    // digest of the UTF-8 window string (those emit the hex encoding
    // of exactly these bytes).
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) =>
          val toks = text.split(" ", -1)
          if (toks.length < k) Iterator.empty
          else (0 to toks.length - k).iterator.map { s =>
            val sb = new java.lang.StringBuilder
            var i = s
            while (i < s + k) {
              if (i > s) sb.append(' ')
              sb.append(toks(i))
              i += 1
            }
            md.reset()
            (id, s,
              md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          }
        }
      }
      .toDF("doc_id", "strt", "h")
  }

  /** Every window occurrence with its duplicate flag: the GLOBAL first
    * (doc_id, strt) occurrence of each window value is the keeper —
    * `row_number` over (h | doc_id, strt) = 1, the exact formulation
    * the DuckDB oracles replay — and every later occurrence reads
    * `dup` = 1. The window form was MEASURED against the packed-long
    * min-aggregate + join-back election (DebugDupRemoval, sf1 2.2M
    * windows): 5.2 s vs 10.1 s — the aggregate form shuffles occ
    * twice (keeper build + probe side) where one hash-partition-by-h
    * sort does it in a single pass, and no packed key means no
    * overflow guard at all. With `historyWindows` set, a digest
    * present in the stored history table flags EVERY occurrence
    * regardless of the election (history always keeps) — the one
    * place the incremental and batch flag rules differ, shared here
    * so the election logic has exactly one copy; the history join is
    * keyed on h, the partitioning the window exchange already
    * established.
    */
  private def flaggedWindows(
      docs: DataFrame,
      k: Int,
      historyWindows: Option[DataFrame] = None): DataFrame = {
    val occ = windowOcc(docs, k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"), col("strt"))
    val elected = occ.withColumn("rn", row_number().over(w))
    val flagged = historyWindows match {
      case Some(hw) =>
        // fail LOUD on a pre-round-8 hex-string store: Spark would
        // implicitly cast the string to its UTF-8 bytes, which never
        // equal raw digests — every historical duplicate would silently
        // read as new. Re-derive the store with windowDigests().
        require(hw.schema("h").dataType == org.apache.spark.sql.types.BinaryType,
          s"historyWindows.h must be BINARY (raw md5 bytes, the round-8 store " +
            s"format); got ${hw.schema("h").dataType} — re-derive the store with " +
            "windowDigests()")
        elected
          .join(hw.select(col("h")).distinct().withColumn("in_hist", lit(1)), Seq("h"), "left")
          .withColumn("dup", (col("in_hist").isNotNull || col("rn") > 1).cast("long"))
      case None =>
        elected.withColumn("dup", (col("rn") > 1).cast("long"))
    }
    flagged.select(col("doc_id"), col("strt"), col("dup"))
  }

  /** Per-doc merged-span signals over `flagged` (doc_id, strt, dup)
    * rows — the shared tail of the exact-substring family. `docs` is
    * the base the left join restores zero rows from (docs shorter than
    * k emit no window).
    */
  private def windowSpanSignals(docs: DataFrame, flagged: DataFrame, k: Int): DataFrame = {
    val toks = split(col("text"), " ", -1)
    // merged-interval mass of the flagged [strt, strt+k) windows, one
    // row-local fold over the sorted starts (starts ascending ⇒ a
    // window's end can never precede the running end by more than k,
    // so contrib = (s+k) - max(s, prevEnd) and prevEnd advances to s+k)
    val starts = sort_array(collect_list(when(col("dup") === 1, col("strt"))))
    val dupTokens = aggregate(
      starts,
      struct(lit(-1L).as("prevEnd"), lit(0L).as("mass")),
      (acc, s) => struct(
        (s + k).cast("long").as("prevEnd"),
        (acc.getField("mass") + (s + k) - greatest(s.cast("long"), acc.getField("prevEnd")))
          .as("mass")),
      acc => acc.getField("mass"))
    val perDoc = flagged
      .groupBy(col("doc_id"))
      .agg(
        sum(col("dup")).as("n_dup_windows"),
        dupTokens.as("dup_tokens"))
    // docs shorter than k emit no window rows — restore them with zeros
    docs
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(
          coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"),
          4).as("dup_frac"))
  }

  /** APPLY the [[duplicatedWindowSpans]] removal plan (the second half
    * of the Lee-et-al exact-substring stage): rebuild each document's
    * text from the tokens OUTSIDE the merged flagged spans, so exactly
    * one copy of every duplicated k-token substring survives
    * corpus-wide (at its global first (doc_id, position) occurrence)
    * and every later verbatim repeat is cut out.
    *
    * Output per doc: (doc_id, text = scrubbed token string, n_tokens =
    * original count, n_removed = tokens cut). `n_removed` equals
    * [[duplicatedWindowSpans]]'s `dup_tokens` by construction (both are
    * the merged-interval mass of the flagged windows — spec-asserted).
    * A verbatim duplicate document scrubs to the empty string; docs
    * shorter than k pass through unchanged.
    *
    * Honest caveat (as in Lee et al.): cutting a span ADJOINS the
    * tokens on either side of it, so the scrubbed text can contain
    * k-token windows that did not exist before and may themselves be
    * duplicates — one pass guarantees every PRE-EXISTING duplicated
    * window loses all but its keeper copy, not that the output is
    * fixpoint-dup-free. Production builds that need the fixpoint
    * iterate the op (each pass is this same bounded plan).
    *
    * Scale posture: identical to the signals op up to the final stage —
    * the only addition is one (doc_id → sorted flagged starts) aggregate
    * (rows bounded by DUPLICATED window count, usually a small fraction
    * of corpus windows) joined back onto the docs scan, and a row-local
    * LINEAR sweep over the doc's own sorted removal starts. Text is
    * reassembled by the same split-on-space / single-space-join inverse
    * pair, so a doc with no flagged window round-trips byte-identically.
    */
  def removeDuplicatedWindows(docs: DataFrame, k: Int = 50): DataFrame = {
    require(k >= 2, s"window width must be >= 2 tokens, got $k")
    val removal = flaggedWindows(docs, k)
      .filter(col("dup") === 1)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("strt"))).as("starts"))
    val spark = docs.sparkSession
    import spark.implicits._
    // row-local LINEAR sweep (typed map, like shingleRows): starts are
    // ascending, so one pointer over them and a running covered-end
    // rebuild the text in O(n_tokens + n_flagged). The earlier
    // exists()-HOF per token was O(n_tokens x n_flagged) — quadratic
    // exactly on this op's target case, a long mostly-duplicated doc.
    docs
      .join(removal, Seq("doc_id"), "left")
      .select(
        col("doc_id").cast("long"), col("text"),
        coalesce(col("starts"), typedLit(Array.empty[Int])).as("starts"))
      .as[(Long, String, Seq[Int])]
      .map { case (id, text, starts) =>
        val toks = text.split(" ", -1)
        val kept = new StringBuilder
        var si = 0; var covEnd = -1L; var removed = 0L; var first = true
        var i = 0
        while (i < toks.length) {
          while (si < starts.length && starts(si) <= i) {
            val e = starts(si).toLong + k
            if (e > covEnd) covEnd = e
            si += 1
          }
          if (i < covEnd) removed += 1
          else {
            if (!first) kept.append(' ')
            kept.append(toks(i))
            first = false
          }
          i += 1
        }
        (id, kept.toString, toks.length.toLong, removed)
      }
      .toDF("doc_id", "text", "n_tokens", "n_removed")
  }

  /** The stored projection for [[incrementalDupSpans]]: the distinct
    * k-token window digests of an already-ingested corpus (the
    * exact-substring twin of [[digests]] / [[paragraphDigests]]) —
    * 16 raw md5 bytes per DISTINCT window (binary since round 8; was
    * 32 hex chars), maintained at ingest so history text is never
    * re-read.
    */
  def windowDigests(docs: DataFrame, k: Int = 50): DataFrame =
    windowOcc(docs, k).select(col("h")).distinct()

  /** Incremental exact-substring signals: today's delta scored against
    * the history's STORED window-digest table (the third granularity of
    * the delta-vs-history family — [[incrementalDedup]] documents,
    * [[incrementalNearDup]] minhash bands, this k-token windows). A
    * delta window is a removable duplicate when its digest exists in
    * `historyWindows` (history always keeps — its copy was ingested
    * first) OR an earlier delta occurrence wins the packed (doc_id,
    * strt) election. Output schema == [[duplicatedWindowSpans]], rows
    * only for delta docs.
    *
    * When every history doc_id precedes every delta doc_id, this equals
    * [[duplicatedWindowSpans]] over the union restricted to the delta
    * (spec-asserted); under id interleaving the semantics deliberately
    * differ — ingest order, not id order, decides who keeps.
    *
    * Scale posture: the window explode, keeper election, and span merge
    * are all DELTA-bounded; the history side contributes one
    * digest-keyed join against a 16-byte-wide stored projection
    * (broadcast when small, shuffle-hash otherwise — never history
    * text).
    */
  def incrementalDupSpans(delta: DataFrame, historyWindows: DataFrame, k: Int = 50): DataFrame = {
    require(k >= 2, s"window width must be >= 2 tokens, got $k")
    windowSpanSignals(
      delta,
      flaggedWindows(delta, k, Some(historyWindows)),
      k)
  }

  /** Word k-gram shingles of `text` as a distinct array. */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = TextOps.tokens(text)
    array_distinct(
      filter(
        transform(toks, (_, i) => when(i <= size(toks) - k, concat_ws(" ", slice(toks, i + 1, lit(k))))),
        x => x.isNotNull
      )
    )
  }

  /** One (doc_id, shingle) row per distinct word k-gram, built in a
    * typed flatMap — an order of magnitude faster than the equivalent
    * higher-order-function expression (per-element `slice` allocates;
    * measured 3.1s vs 0.3s on 5k docs).
    */
  def shingleRows(docs: DataFrame, k: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        if (toks.length < k) Iterator.empty
        else {
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          toks.sliding(k).foreach(w => seen += w.mkString(" "))
          seen.iterator.map(s => (id, s))
        }
      }
      .toDF("doc_id", "shingle")
  }

  /** The distinct k-token space-joined windows of one tokenized doc —
    * the typed shingle-set builder behind [[ngramJaccard]] (the
    * row-emitting sibling is [[shingleRows]]). Caller guards
    * `toks.length >= k`.
    */
  private def distinctShingles(toks: Array[String], k: Int): java.util.HashSet[String] = {
    val seen = new java.util.HashSet[String](math.max(16, toks.length * 2))
    var i = 0
    while (i <= toks.length - k) {
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }

  /** Per-document md5 band minimums, allocation-free per shingle — the
    * kernel of [[md5BandMins]] (one instance per task: it owns a
    * `MessageDigest` and scratch buffers and is not thread-safe;
    * `k >= 1`).
    *
    * Band-value contract (spec-gated against the string-building
    * `Md5BandMinsOracle` in src/test and an independent hex-string
    * replay, and exactly what the DuckDB oracle computes with
    * ('0x' || substr(md5(...), pos, 15))::BIGINT): over the word
    * k-shingles of `text.split(" ", -1)` joined by single spaces, band b
    * = the minimum of the 15-hex-char window `1 + 15*(b%2) .. +15` of
    * md5(shingle + "#" + b/2), parsed base-16 into a 60-bit long — one
    * digest feeds two bands. The parse is byte-level: window 0 = digest
    * bytes 0..6 big-endian then the high nibble of byte 7; window 1 =
    * the low nibble of byte 7 then bytes 8..14.
    *
    * How it avoids per-shingle objects: the text is encoded to UTF-8
    * once, and a shingle is then a byte range of that array — the
    * space-joined tokens i..i+k-1 are exactly the bytes from the start
    * of token i to the end of token i+k-1, because tokens are split on
    * the single byte 0x20, which never occurs inside a multi-byte UTF-8
    * sequence, and a window boundary never splits a surrogate pair (a
    * lone surrogate encodes to '?' either way). Each range is hashed
    * with `update(bytes, from, len)`, a precomputed "#" + b/2 suffix and
    * `digest(out, 0, 16)`. Repeated shingles are hashed again instead
    * of being deduplicated: a minimum does not change.
    */
  private[ops] final class Md5BandKernel(bands: Int, k: Int) {
    private val md = java.security.MessageDigest.getInstance("MD5")
    private val nDigests = (bands + 1) / 2
    private val suffixes =
      Array.tabulate(nDigests)(bi => ("#" + bi).getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    private val d = new Array[Byte](16)
    // bounds(t) = byte index of the space before token t (-1 for t = 0);
    // bounds(nTok) = the text's byte length
    private var bounds = new Array[Int](64)

    /** The `bands` minimums of `text`, or null when it is null or has
      * fewer than `k` tokens (no shingle: the doc has no signature).
      */
    def apply(text: String): Array[Long] = {
      if (text == null) return null
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var nTok = 1
      bounds(0) = -1
      var i = 0
      while (i < bytes.length) {
        if (bytes(i) == 0x20) {
          if (nTok + 1 >= bounds.length) bounds = java.util.Arrays.copyOf(bounds, bounds.length * 2)
          bounds(nTok) = i
          nTok += 1
        }
        i += 1
      }
      bounds(nTok) = bytes.length
      if (nTok < k) return null
      val mins = Array.fill(bands)(Long.MaxValue)
      var w = 0
      while (w <= nTok - k) {
        val from = bounds(w) + 1
        val len = bounds(w + k) - from
        var bi = 0
        while (bi < nDigests) {
          md.update(bytes, from, len)
          md.update(suffixes(bi))
          md.digest(d, 0, 16)
          var v0 = 0L
          var x = 0
          while (x < 7) { v0 = (v0 << 8) | (d(x) & 0xffL); x += 1 }
          v0 = (v0 << 4) | ((d(7) >> 4) & 0xfL)
          val b0 = 2 * bi
          if (v0 < mins(b0)) mins(b0) = v0
          val b1 = b0 + 1
          if (b1 < bands) {
            var v1 = d(7) & 0xfL
            x = 8
            while (x < 15) { v1 = (v1 << 8) | (d(x) & 0xffL); x += 1 }
            if (v1 < mins(b1)) mins(b1) = v1
          }
          bi += 1
        }
        w += 1
      }
      mins
    }
  }

  /** Typed md5 band-minimum pass: one row per doc carrying ALL `bands`
    * band minimums ([[Md5BandKernel]]), computed row-locally — a
    * document's shingles all live in its own text, so the minimums need
    * no aggregation and q15 plans with zero Exchange (PlanSpec).
    */
  private def md5BandMins(docs: DataFrame, bands: Int, k: Int): DataFrame = {
    require(k >= 1, s"shingle width must be >= 1 token, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val kernel = new Md5BandKernel(bands, k)
        rows.flatMap { case (id, text) =>
          val mins = kernel(text)
          if (mins == null) Iterator.empty else Iterator.single((id, mins))
        }
      }
      .toDF("doc_id", "mins")
      .select(
        col("doc_id") +: (0 until bands).map(b => col("mins").getItem(b).as(s"sig$b")): _*)
  }

  /** MinHash signatures: one row per (doc_id, band) with the band's
    * min-hash over shingles. Hash = md5(shingle + "#" + band) kept as a
    * string so the DuckDB oracle computes the identical value; the
    * hot-path variant would swap in xxhash64 (codegen, 8 bytes) — same
    * operator shape.
    */
  def minhashSignatures(docs: DataFrame, bands: Int = 8, k: Int = 3): DataFrame =
    minhashWith(docs, bands, k, fast = false)

  /** Production-path signatures: xxhash64 per band (pure codegen'd long
    * arithmetic, no digest strings — same operator shape). Not
    * DuckDB-expressible, so the verified query uses the md5 variant and
    * this one is benchmarked; its values are pinned by the independent
    * from-spec XXH64 reimplementation in XxHash64Spec, which is also
    * why it keeps the Column xxhash64 + groupBy form instead of a typed
    * reimplementation (production using the reimpl would make that spec
    * verify itself).
    */
  def minhashSignaturesFast(docs: DataFrame, bands: Int = 8, k: Int = 3): DataFrame =
    minhashWith(docs, bands, k, fast = true)

  private def minhashWith(
      docs: DataFrame,
      bands: Int,
      k: Int,
      fast: Boolean
  ): DataFrame = minhashWithFp(docs, bands, k, fast).drop("fp")

  /** [[minhashWith]] plus a per-doc full-signature fingerprint `fp` =
    * xxhash64(sig0..sigN): identical texts have identical shingle sets,
    * hence identical signatures in EVERY band, hence equal fp — so fp
    * groups a mega bucket's identical-doc mass exactly, and it is FREE:
    * computed on the (doc_id, sig0..sigN) aggregate the signature
    * pipeline already produces, before the stack — no extra shuffle.
    * (fp equality does NOT guarantee identical signature vectors — two
    * different vectors can collide in the 64-bit hash with probability
    * ~2^-64. A colliding pair would merely be grouped together inside a
    * bucket they already co-occupy, emitting a (rep, member) pair that
    * is still a legitimate same-bucket candidate — connectivity and the
    * subset guarantee are unaffected; only its n_shared_bands could
    * read high. Do not rely on fp equality implying per-band equality.)
    */
  private def minhashWithFp(
      docs: DataFrame,
      bands: Int,
      k: Int,
      fast: Boolean
  ): DataFrame = {
    // md5 path: typed row-local band minimums, zero Exchange (see
    // md5BandMins). xxhash64 path: band-minimums in ONE partial+final
    // hash aggregation — the shuffle carries `bands` longs per doc
    // instead of `bands` × shingle-count rows (the naive
    // explode-by-band plan); it stays Column-based on purpose, so
    // XxHash64Spec's independent reimplementation keeps verifying
    // Spark's xxhash64 rather than itself.
    val agg =
      if (fast) {
        val hashed = shingleRows(docs, k).select(
          col("doc_id") +:
            (0 until bands).map(b => xxhash64(col("shingle"), lit(b)).as(s"h$b")): _*)
        val mins = (0 until bands).map(b => min(col(s"h$b")).as(s"sig$b"))
        hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      } else md5BandMins(docs, bands, k)
    val stackExpr = (0 until bands).map(b => s"$b, sig$b").mkString(", ")
    agg.select(
      col("doc_id"),
      xxhash64((0 until bands).map(b => col(s"sig$b")): _*).as("fp"),
      expr(s"stack($bands, $stackExpr) as (band, sig)")
    )
  }

  /** LSH candidate pairs: docs sharing a (band, sig) bucket; returns
    * (doc_a < doc_b, n_shared_bands).
    *
    * Shape: ONE aggregation into per-bucket doc lists, then in-bucket
    * pair combinations in a partition-local flatMap. The earlier
    * self-join formulation shuffled the signature stream TWICE (one
    * join side each; AQE cannot ReuseExchange across the aliases) or
    * needed an explicit materialization; this computes the signature
    * pipeline once and shuffles it once. Pair-generation work is the
    * same O(Σ bucket²); each bucket is held in one task (fine — LSH
    * buckets are small by construction; run exact dedup (q14) first on
    * duplicate-heavy corpora so identical texts don't form one giant
    * bucket).
    *
    * Mega-bucket guard: a bucket larger than `maxBucket` (a pathological
    * corpus — the "run exact dedup first" advice ignored) degrades
    * PREDICTABLY to O(bucket) output instead of O(bucket²), so one
    * degenerate signature cannot OOM a task or emit 10^13 rows. Since
    * round 5 the degradation is GROUP-AWARE via a free full-signature
    * fingerprint (see [[lshBucketPairs]]): identical documents — the
    * realistic mega mass — collapse onto per-group representatives and
    * keep their FULL `n_shared_bands` support (the earlier pure
    * hub-star gave every non-hub mega pair support 1, silently starving
    * `minBands >= 2` callers); cross-group members connect through the
    * bucket hub as before, so [[nearDupClusters]] at its default
    * `minBands = 1` produces IDENTICAL components. Per-pair listings
    * remain star-shaped under degradation: within a group only
    * (representative, member) pairs are emitted (two non-rep members of
    * the same group stay connected through the rep but do NOT appear as
    * a pair), and across groups only (hub, member) pairs do. The fingerprint costs 8
    * bytes per (doc, band) row in the one bucket shuffle — no extra
    * shuffle stage. Mega buckets are counted by an action-scoped
    * `Dataset.observe` metric on the bucket frame (Spark-UI name
    * `graft.dedup.megaBuckets.lsh.<seq>`), read via
    * [[megaBucketCount]]; each
    * degradation additionally logs a rate-limited executor-side
    * warning.
    * A `doc_id` in several identical rows counts once: bucket members
    * are a set, and no doc pairs with itself (PlanSpec pins both).
    */
  def lshCandidates(
      docs: DataFrame,
      bands: Int = 8,
      k: Int = 3,
      fast: Boolean = false,
      maxBucket: Int = DefaultMaxBucket
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val obs = megaObservation("lsh")
    minhashWithFp(docs, bands, k, fast)
      .groupBy(col("band"), col("sig"))
      .agg(collect_set(struct(col("doc_id"), col("fp"))).as("members"))
      .filter(size(col("members")) > 1)
      .observe(obs, megaMetric(size(col("members")), maxBucket))
      .select(col("members"))
      .as[Seq[(Long, Long)]]
      .flatMap(lshBucketPairs(_, maxBucket))
      .toDF("doc_a", "doc_b")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Pair generation for one LSH band bucket of (doc_id, fp) members
    * (partition-local body of [[lshCandidates]]'s flatMap;
    * package-visible for unit tests). Emits each unordered pair AT MOST
    * ONCE per bucket — the downstream per-pair count aggregates band
    * support, so a within-bucket duplicate would inflate
    * `n_shared_bands`.
    *
    * Normal bucket: all combinations.
    *
    * Mega bucket (> maxBucket; pathological corpus): since round 5 the
    * star degrades GROUP-AWARE using the full-signature fingerprint —
    * the realistic mega mass is identical documents, and identical
    * documents share `fp`:
    *   1. within each fp group, every member pairs with the group's
    *      min-id representative — and because equal-fp docs share ALL
    *      band buckets, these pairs re-emit in every band, so
    *      identical-doc pairs keep their FULL n_shared_bands support
    *      (the pre-round-5 hub-star gave every non-hub pair support 1,
    *      which silently broke `minBands >= 2` callers);
    *   2. the bucket's min-id hub pairs with every member OUTSIDE its
    *      own fp group (cross-group connectivity, support = number of
    *      co-bucketing bands, as before).
    * Output is a superset of the old hub-star pair set, component
    * structure is preserved exactly at any minBands whose edges are
    * within-group, and work stays O(bucket).
    */
  private[ops] def lshBucketPairs(
      members: Seq[(Long, Long)],
      maxBucket: Int
  ): Iterator[(Long, Long)] = {
    val s = members.sortBy(_._1)
    if (s.length > maxBucket) {
      warnMega("lsh", s.length, maxBucket)
      val (hub, hubFp) = s.head
      val collapse = s.groupBy(_._2).valuesIterator.flatMap { ms =>
        val rep = ms.head._1 // ms preserves s's doc_id order: head = min
        ms.iterator.drop(1).map(m => (rep, m._1))
      }
      val star = s.iterator.filter(m => m._2 != hubFp && m._1 != hub).map { case (b, _) => (hub, b) }
      collapse ++ star
    } else {
      // primitive-array while-loop iterator, not a for-comprehension —
      // same rationale as [[simhashBucketPairs]]'s normal path (the
      // comprehension paid closure dispatch + tuple reads per pair).
      // A doc_id listed twice (same id, two fingerprints) is kept once.
      val ids = new Array[Long](s.length)
      var n = 0
      s.foreach { m => if (n == 0 || ids(n - 1) != m._1) { ids(n) = m._1; n += 1 } }
      new scala.collection.AbstractIterator[(Long, Long)] {
        private var i = 0
        private var j = 1
        override def hasNext: Boolean = i < n - 1
        override def next(): (Long, Long) = {
          val r = (ids(i), ids(j))
          j += 1
          if (j >= n) { i += 1; j = i + 1 }
          r
        }
      }
    }
  }

  /** Near-duplicate CLUSTERS: LSH candidate pairs (sharing >= `minBands`
    * bands) become edges of a duplicate graph; connected components
    * assign every document to a cluster whose id is the smallest doc_id
    * in it (documents with no near-dup cluster to themselves). This is
    * the end-to-end dedup decision op — "which rows does the pipeline
    * keep" = `cluster_id = doc_id`.
    *
    * Scale posture: the only data-sized shuffles are the LSH bucket
    * shuffle and the CC label propagation (both keyed, both bounded
    * by near-dup graph size — a tiny fraction of the corpus); since
    * round 4 the CC runs LONG-KEYED (8-byte shuffle keys instead of the
    * former 19-char zero-padded strings — ~2.4× less key volume), with
    * the same min-label contract: numeric min over longs equals the
    * lexicographic min the DuckDB oracle computes over its own
    * zero-padded replay.
    *
    * Edge generation at `minBands = 1` ([[nearDupEdges]]): every
    * in-bucket pair is an edge (the >= 1 filter is vacuous), and a
    * bucket's pair set is a CLIQUE — whose connected components are
    * exactly those of the bucket's min-id STAR. So the CC input is one
    * constant-width `(hub, member)` row per non-hub bucket member, with
    * `hub = min(doc_id)` taken by a window over the `(band, sig)`
    * bucket: one Exchange and a sort on the bucket key, the signature
    * stream evaluated once, and no row — and no aggregation buffer —
    * that grows with bucket size (the window buffers a bucket in a
    * spillable row array). `minBands >= 2` callers (q52's strict bar)
    * keep the counted-pair path, where band support is semantic.
    *
    * Mega-bucket caveat: the default path's star is O(bucket) for any
    * bucket, so it never degrades; it still counts buckets larger than
    * [[DefaultMaxBucket]] (one count per bucket, on its hub row — a
    * bucket whose hub doc_id appears in several input rows counts once
    * per such row) into the same action-scoped observation as
    * [[lshCandidates]]: read [[megaBucketCount]]("lsh") after the call —
    * a nonzero count names a corpus that wants
    * [[nearDupClustersCollapsed]]. With `minBands >= 2` the count comes
    * from [[lshCandidates]], whose degradation keeps identical-doc edges
    * at full band support (fp-group collapse, [[lshBucketPairs]]) and
    * only cross-group mega edges can lose support.
    */
  def nearDupClusters(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      bands: Int = 8,
      k: Int = 3,
      minBands: Int = 1
  ): DataFrame = {
    val cc = graft.kg.Canonicalize
      .connectedComponentsLong(spark, nearDupEdges(docs, bands, k, minBands))
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
    docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
  }

  /** The duplicate-graph edges [[nearDupClusters]] runs CC over:
    * `(hub, member)` bucket stars at `minBands <= 1`, counted LSH pairs
    * with at least `minBands` shared bands otherwise (package-visible so
    * plan specs can inspect the edge path, which CC checkpoints away).
    */
  private[graft] def nearDupEdges(
      docs: DataFrame,
      bands: Int,
      k: Int,
      minBands: Int
  ): org.apache.spark.sql.Dataset[(Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    if (minBands <= 1) {
      val bucket = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("sig"))
      minhashWith(docs, bands, k, fast = false)
        .select(
          min(col("doc_id")).over(bucket).as("hub"),
          col("doc_id"),
          count(col("doc_id")).over(bucket).as("n"))
        .observe(
          megaObservation("lsh"),
          megaMetric(when(col("doc_id") === col("hub"), col("n")), DefaultMaxBucket))
        .filter(col("doc_id") =!= col("hub"))
        .select(col("hub"), col("doc_id"))
        .as[(Long, Long)]
    } else
      lshCandidates(docs, bands, k)
        .filter(col("n_shared_bands") >= minBands)
        .select(col("doc_a"), col("doc_b"))
        .as[(Long, Long)]
  }

  /** [[nearDupClusters]] with the exact-dedup PRE-COLLAPSE the
    * mega-bucket guidance keeps pointing at, as one call: identical
    * texts collapse onto their min-id representative first (one
    * md5-keyed aggregate), the LSH → CC pipeline runs over representatives
    * only, and every document inherits its representative's cluster.
    *
    * Same output contract as [[nearDupClusters]] and, for any document
    * long enough to shingle, the same RESULT: identical docs share
    * every band signature, so collapsing them changes neither which
    * other docs their bucket sees nor the component minimum (each
    * doc's id ≥ its representative's id, so the component min over
    * representatives IS the global min). The one deliberate difference:
    * exact duplicates SHORTER than a shingle (< k tokens) now cluster
    * together through their representative — the plain path cannot see
    * shingle-less docs at all. What changes otherwise is the work: the
    * pair stage runs
    * on distinct texts, so 10^7 copies of one page cost one
    * representative instead of one 10^7-member mega bucket — this is
    * the designed way to stay out of the guard's degradation path at
    * 100 TB, where exact-duplicate mass dominates web corpora.
    */
  def nearDupClustersCollapsed(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      bands: Int = 8,
      k: Int = 3,
      minBands: Int = 1
  ): DataFrame = {
    // rep selection is a digest-keyed hash aggregate (an earlier draft
    // used a dup_key WINDOW, which shuffled every duplicate's full text
    // and localCheckpointed the whole corpus — exactly wrong at the
    // 10^7-copies regime this op exists for). All texts in a group are
    // identical by construction (the key IS the text digest), so
    // first(text) carries the representative's text through the same
    // aggregate: the map-side partial keeps ONE text per distinct key
    // per partition, so the shuffle is bounded by distinct-corpus size,
    // never duplicate mass, and the checkpoint materializes only this
    // distinct-text-sized map (the branch point both reads below share).
    val keyed = docs.select(
      col("doc_id"),
      md5(to_binary(col("text"), lit("utf-8"))).as("dup_key"),
      col("text"))
    val repMap = keyed
      .groupBy(col("dup_key"))
      .agg(min(col("doc_id")).as("rep_id"), first(col("text")).as("rep_text"))
      .localCheckpoint()
    val repClusters = nearDupClusters(
      spark,
      repMap.select(col("rep_id").as("doc_id"), col("rep_text").as("text")),
      bands, k, minBands)
      .withColumnRenamed("doc_id", "rep_id")
    keyed.select(col("doc_id"), col("dup_key"))
      .join(repMap.select(col("dup_key"), col("rep_id")), Seq("dup_key"))
      .join(repClusters, Seq("rep_id"))
      .select(col("doc_id"), col("cluster_id"))
  }

  /** Paragraph-granularity NEAR-dup clustering — the fourth cell of
    * the dedup granularity matrix ({document, paragraph} × {exact,
    * near}: q14/q37 cover documents, [[paragraphDedup]] is
    * paragraph-exact, this is paragraph-near). Documents explode on
    * `sep`, each paragraph takes the packed (doc_id, para_idx) long as
    * its identity, and the q37 exact-dedup-first collapsed flow runs
    * UNCHANGED over the paragraph table: identical paragraphs collapse
    * to their global first occurrence (min packed id), LSH+CC clusters
    * the distinct texts only, members inherit their rep's cluster.
    * Output: (doc_id, para_idx, cluster_id), cluster_id the packed id
    * of the cluster's minimum member — a boilerplate family spread
    * across documents shares one cluster_id, including its
    * NEAR-verbatim variants (the RefinedWeb case [[paragraphDedup]]'s
    * exact digests miss).
    *
    * Scale posture: inherited from [[nearDupClustersCollapsed]] — the
    * rep aggregate's shuffle is bounded by DISTINCT paragraphs (never
    * boilerplate mass, the dominant dup class at paragraph
    * granularity), LSH runs over distinct texts, the join-back is
    * digest-keyed, and the mega-bucket guard applies unchanged.
    */
  def paragraphNearDupClusters(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      sep: String = "\n\n",
      bands: Int = 8,
      k: Int = 3,
      minBands: Int = 1
  ): DataFrame = {
    val paras = docs
      .select(
        col("doc_id"),
        posexplode(split(col("text"), java.util.regex.Pattern.quote(sep), -1))
          .as(Seq("para_idx", "para")))
      .select(
        packedPos(col("doc_id"), col("para_idx"), "paragraphNearDupClusters").as("doc_id"),
        col("para").as("text"))
    nearDupClustersCollapsed(spark, paras, bands, k, minBands)
      .select(
        shiftrightunsigned(col("doc_id"), 20).as("doc_id"),
        (col("doc_id") % lit(1L << 20)).cast("int").as("para_idx"),
        col("cluster_id"))
  }

  /** SimHash near-duplicates: pairs whose `bits`-bit simhash differs in
    * at most `maxHamming` bits. Candidates are blocked on
    * `maxHamming + 1` disjoint bit-bands of the fingerprint — by
    * pigeonhole, any pair within the distance budget agrees on at least
    * one whole band, so banding is LOSSLESS (result identical to the
    * O(n²) scan the DuckDB oracle runs) while the join stays keyed on
    * (band, key) buckets. This is the standard web-scale simhash dedup
    * layout: a 60-bit fingerprint over 4 bands gives 15-bit band keys
    * (32k buckets per band), so bucket sizes — and the join fan-out —
    * stay tiny. (A 16-bit fingerprint was measured 12x slower at sf0.1:
    * 16 buckets/band turn the bucket join quadratic.)
    *
    * Losslessness holds while every bucket fits `maxBucket`; a mega
    * bucket degrades to hub-star + hamming-0-collapse + representative
    * pairs (see [[simhashBucketPairs]] — components are preserved
    * EXACTLY whenever the bucket's distinct simhash values fit
    * maxBucket, which is every observed mega bucket), counted by the
    * `graft.dedup.megaBuckets.simhash.<seq>` observe metric
    * ([[megaBucketCount]]) and logged as a rate-limited
    * executor-side warning.
    * A `doc_id` in several identical rows counts once: bucket members
    * are a set, and no doc pairs with itself (PlanSpec pins both).
    */
  def simhashNearDup(
      docs: DataFrame,
      maxHamming: Int = 3,
      bits: Int = 60,
      maxBucket: Int = DefaultMaxBucket
  ): DataFrame = {
    val bands = maxHamming + 1
    require(bits % bands == 0, s"bits=$bits must split into ${bands} equal bands")
    val w = bits / bands
    // same single-pass bucket-combinations shape as lshCandidates: the
    // fingerprint aggregation is computed once and shuffled once (the
    // earlier banded self-join planned it once per side)
    val spark = docs.sparkSession
    import spark.implicits._
    val obs = megaObservation("simhash")
    val sh = TextOps.simhash(docs, bits)
    val banded = sh.select(
      col("doc_id"),
      col("simhash"),
      explode(array((0 until bands).map(b =>
        struct(
          lit(b).as("band"),
          shiftright(col("simhash"), b * w).bitwiseAND(lit((1L << w) - 1)).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded
      .groupBy(col("band"), col("key"))
      .agg(collect_set(struct(col("doc_id"), col("simhash"))).as("members"))
      .filter(size(col("members")) > 1)
      .observe(obs, megaMetric(size(col("members")), maxBucket))
      .select(col("members"))
      .as[Seq[(Long, Long)]]
      .flatMap(simhashBucketPairs(_, maxBucket, maxHamming))
      .toDF("doc_a", "doc_b", "hamming")
      .dropDuplicates("doc_a", "doc_b") // a pair can agree on several bands
  }

  /** Pair generation for one simhash band bucket (partition-local body
    * of [[simhashNearDup]]'s flatMap; package-visible so the mega-bucket
    * degradation is unit-testable on hand-crafted hamming structure).
    *
    * Normal bucket (size <= maxBucket): all combinations, hamming
    * filter INSIDE the loop — most band collisions fail the threshold,
    * so the downstream dedup shuffle only carries true near-dups.
    *
    * Mega bucket (size > maxBucket; a pathological corpus): bounded
    * degradation in three bounded pieces instead of the pre-round-5
    * pure hub-star (which lost every pair between members > maxHamming
    * from the hub — headroom to the guard was only 1.5× at sf1
    * concentration, so the loss was about to become real):
    *   1. hub-star — every member vs the min-id hub, hamming-filtered
    *      (the old degradation, kept: output stays a superset of it);
    *   2. hamming-0 collapse — members are grouped by their simhash
    *      VALUE (a mega bucket is overwhelmingly byte-identical
    *      boilerplate, i.e. few distinct values); each member pairs
    *      with its group's min-id representative at hamming 0:
    *      O(bucket) pairs, exact within-group connectivity;
    *   3. representative combinations — all-pairs over the distinct-
    *      value representatives (hamming-filtered) when there are at
    *      most maxBucket of them: O(min(groups, maxBucket)²), the same
    *      bound a maximal honest bucket pays.
    * When the distinct-value count fits maxBucket (every observed mega
    * bucket: sf1 max 2749 members but single-digit distinct values)
    * the degraded output has EXACTLY the connected components of the
    * full O(bucket²) generation: any qualifying pair (a, b) implies
    * hamming(rep_a, rep_b) = hamming(a, b) <= maxHamming, so the rep
    * edge plus the two hamming-0 collapse edges reconnect it. Only the
    * per-pair listing is thinner. With > maxBucket distinct values the
    * rep combinations are skipped and cross-group completeness falls
    * back to the hub-star guarantee. Duplicate pairs across the three
    * pieces carry identical hamming and are collapsed by the caller's
    * dropDuplicates.
    */
  private[ops] def simhashBucketPairs(
      members: Seq[(Long, Long)],
      maxBucket: Int,
      maxHamming: Int
  ): Iterator[(Long, Long, Int)] = {
    val s = members.sortBy(_._1)
    if (s.length > maxBucket) {
      warnMega("simhash", s.length, maxBucket)
      val (hub, hubSh) = s.head
      val star = s.iterator.drop(1).flatMap { case (b, bSh) =>
        val h = java.lang.Long.bitCount(hubSh ^ bSh)
        if (h <= maxHamming && b != hub) Iterator((hub, b, h)) else Iterator.empty
      }
      val groups = s.groupBy(_._2)
      val collapse = groups.valuesIterator.flatMap { ms =>
        val rep = ms.head._1 // ms preserves s's doc_id order: head = min
        ms.iterator.drop(1).map(m => (rep, m._1, 0))
      }
      val reps = groups.valuesIterator.map(_.head).toArray.sortBy(_._1)
      val repPairs =
        if (reps.length <= maxBucket)
          for {
            i <- reps.indices.iterator
            j <- (i + 1 until reps.length).iterator
            h = java.lang.Long.bitCount(reps(i)._2 ^ reps(j)._2)
            if h <= maxHamming && reps(i)._1 != reps(j)._1
          } yield (reps(i)._1, reps(j)._1, h)
        else Iterator.empty
      star ++ collapse ++ repPairs
    } else {
      // primitive-array while-loop, not a for-comprehension: the
      // comprehension paid per-step closure dispatch + tuple reads on
      // every CANDIDATE (Σ bucket²/2 hamming tests — ~10⁹ at sf1 on
      // the clustered synthetic corpus) while only the rare passing
      // pair allocates. Same pairs, same order.
      val n = s.length
      val ids = new Array[Long](n)
      val shs = new Array[Long](n)
      var t = 0
      s.foreach { m => ids(t) = m._1; shs(t) = m._2; t += 1 }
      new scala.collection.AbstractIterator[(Long, Long, Int)] {
        private var i = 0
        private var j = 1
        private var nxt: (Long, Long, Int) = _
        private def advance(): Unit = {
          nxt = null
          while (nxt == null && i < n - 1) {
            val h = java.lang.Long.bitCount(shs(i) ^ shs(j))
            if (h <= maxHamming && ids(i) != ids(j)) nxt = (ids(i), ids(j), h)
            j += 1
            if (j >= n) { i += 1; j = i + 1 }
          }
        }
        advance()
        override def hasNext: Boolean = nxt != null
        override def next(): (Long, Long, Int) = {
          val r = nxt; advance(); r
        }
      }
    }
  }

  /** Jaccard similarity over distinct word k-grams for an explicit pair
    * set `(doc_a, doc_b)`. Used as the LSH verifier.
    *
    * Shape (round-8 rewrite, q17 33.2 s → typed at sf1): the former
    * per-pair `array_intersect`/`array_union` built a hash set per
    * evaluation AND the union subtree appeared twice (empty-union guard
    * + divisor), on shingle arrays produced by the interpreted
    * [[shingles]] HOF — re-evaluated once per join side. Now each doc's
    * SORTED distinct shingle array is built once in a typed pass (same
    * sliding-window + distinct semantics as [[shingleRows]]), and each
    * pair's |∩| comes from ONE linear merge over the two sorted arrays;
    * |∪| = |A| + |B| − |∩| (the arrays are sets). Only the counts
    * escape the typed region — the division and 4-decimal rounding stay
    * Column expressions, so values are bit-identical to the set-algebra
    * form the oracle pins, including the null-on-empty-union contract.
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, k: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // only docs that some pair names are shingled. The sh subtree feeds
    // BOTH join sides; ending it in its own shuffle makes the two sides'
    // exchanges the same plan, which Spark runs once and reuses, so each
    // doc is shingled once with no eager cut (building the frame runs no
    // job, and a lost block is recomputed from lineage)
    val ids = pairs.select(col("doc_a").cast("long").as("doc_id"))
      .union(pairs.select(col("doc_b").cast("long").as("doc_id")))
    val sh = docs
      .select(col("doc_id").cast("long"), col("text"))
      .join(ids, Seq("doc_id"), "left_semi")
      .as[(Long, String)]
      .map { case (id, text) =>
        // null text == no shingles (empty set, like a sub-k doc)
        val toks = if (text == null) null else text.split(" ", -1)
        if (toks == null || toks.length < k) (id, Array.empty[String])
        else {
          val seen = distinctShingles(toks, k)
          val arr = seen.toArray(new Array[String](seen.size))
          java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]])
          (id, arr)
        }
      }
      .toDF("doc_id", "sh")
      .repartition(col("doc_id"))
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"), col("sh_a"), col("sh_b"))
      .as[(Long, Long, Array[String], Array[String])]
      .map { case (a, b, sa, sb) =>
        var i = 0; var j = 0; var inter = 0L
        while (i < sa.length && j < sb.length) {
          val c = sa(i).compareTo(sb(j))
          if (c == 0) { inter += 1; i += 1; j += 1 }
          else if (c < 0) i += 1
          else j += 1
        }
        (a, b, inter, sa.length.toLong + sb.length - inter)
      }
      .toDF("doc_a", "doc_b", "n_inter", "n_union")
      .select(
        col("doc_a"),
        col("doc_b"),
        // null (not an ANSI 0/0 crash) when BOTH docs are shorter than
        // k tokens — empty shingle union; the DuckDB twin yields NULL
        round(
          when(col("n_union") === 0, lit(null).cast("double"))
            .otherwise(col("n_inter").cast("double") / col("n_union")),
          4
        ).as("jaccard")
      )
  }

  /** Embedding-cosine near-duplicates: ALL pairs with cosine >= threshold
    * — exact semantics, so the pair space is inherently Θ(n²) (no LSH
    * banding can be recall-complete here: on the synthetic embeddings the
    * qualifying pairs sit ON the threshold — min qualifying cos 0.45011
    * vs max non-qualifying 0.44974 at sf0.1, with ~15k pairs in
    * [0.30, 0.45) — so any sketch family misses boundary pairs with
    * probability ≈ its band collision curve). What CAN be fixed is the
    * plan shape, and is: instead of a driver-broadcast cross join
    * (BroadcastNestedLoopJoin — single broadcast of the whole corpus,
    * round-1 `weak`), the pair space is tiled over unordered block pairs
    * and computed as a keyed shuffle join:
    *
    *   - each vector gets a block id `blk = pmod(hash(vec_id), B)`;
    *   - side A replicates a row of block b to tiles {(b, q): q >= b},
    *     side B to tiles {(p, b): p <= b} — every unordered pair of rows
    *     meets in EXACTLY one tile (the unordered pair of their blocks;
    *     same-block pairs meet on the diagonal tile, deduped by
    *     `id_a < id_b`), so no post-join distinct is needed;
    *   - per-row replication is B+1, per-task memory is O(n/B) vectors,
    *     and the B(B+1)/2 tiles spread evenly across the cluster — the
    *     standard distributed all-pairs layout.
    *
    * For corpus-scale near-dup where approximate recall is acceptable,
    * use nearDupClusters / simhashNearDup / Similarity.bucketedTopK —
    * this operator is the exact verifier.
    *
    * SIZE GUARD: because the semantics are Θ(n²) regardless of plan
    * shape, the operator refuses inputs above `maxExactRows` rows
    * (default 100k ≈ 5·10⁹ cosine evaluations — the outer limit of a
    * deliberate single-cluster verification run) unless the caller
    * passes `exactOk = true`. The probe is a `limit(max+1).count()`,
    * so it scans at most max+1 rows, never the full table. This is the
    * same refuse-loudly posture as the mega-bucket guard in
    * [[lshBucketPairs]]/[[simhashBucketPairs]]: a 100 TB user cannot
    * run the quadratic verifier by accident; the scale paths are
    * [[graft.ops.Similarity.annNearDupClusters]] and
    * [[nearDupClusters]]/[[nearDupClustersCollapsed]].
    */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.95, blocks: Int = 8,
                       maxExactRows: Int = 100000, exactOk: Boolean = false): DataFrame = {
    if (!exactOk) {
      val probe = embeddings.select(col("vec_id")).limit(maxExactRows + 1).count()
      require(
        probe <= maxExactRows,
        s"embeddingNearDup is an exact all-pairs verifier (Theta(n^2) by semantics) and the " +
          s"input exceeds maxExactRows=$maxExactRows rows. For corpus-scale embedding dedup use " +
          s"Similarity.annNearDupClusters (ANN top-k -> cosine threshold -> connected components) " +
          s"or Dedup.nearDupClusters/nearDupClustersCollapsed; to verify a deliberately-capped " +
          s"sample anyway, pass exactOk = true.")
    }
    val B = blocks
    val blk = embeddings.select(
      col("vec_id"), col("embedding"),
      pmod(hash(col("vec_id")), lit(B)).as("blk"))
    val a = blk.select(
      explode(expr(s"transform(sequence(blk, ${B - 1}), q -> blk * $B + q)")).as("tile"),
      col("blk").as("blk_a"), col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val b = blk.select(
      explode(expr(s"transform(sequence(0, blk), p -> p * $B + blk)")).as("tile"),
      col("blk").as("blk_b"), col("vec_id").as("id_b"), col("embedding").as("e_b"))
    a.join(b, Seq("tile"))
      // off-diagonal tiles see each pair once (orientation fixed by the
      // block order); diagonal tiles need the id filter to halve the
      // self-join and drop self-pairs
      .filter(col("blk_a") =!= col("blk_b") || col("id_a") < col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(Similarity.cosine(col("e_a"), col("e_b")), 4).as("cos")
      )
      .filter(col("cos") >= threshold)
  }
}
