package graft

import graft.fixtures.DocGen
import graft.ops._
import graft.pipeline.Pipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry is one operator from the SURVEY §2 inventory or
  * the training-data-pipeline ops set; `oracleSql` holds the equivalent
  * DuckDB SQL over the same parquet tables (identical column names and
  * values — the driver hash-compares). KG-pipeline queries that DuckDB
  * cannot express (Treebank tokenization, BIO decode, MNB scoring) have
  * no oracle: the driver records a rows-only check, and their real gate
  * is the scalatest suite + the byte-identical cross-check against the
  * reference's own evaluator (see .claude/skills/verify).
  */
object SparkEntry {

  private def rd(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Append deterministic doc_id-derived PII (emails / phone / IPv4) to
    * a PII-free synthetic corpus so q41's redaction regexes have real
    * work to do: ~1/3 of docs get an email (1/9 a second one), 1/4 a
    * phone, 1/5 an IP, and the remainder stay clean so the zero-hit
    * path is exercised too. Mirrored term-for-term by the q41 oracle.
    */
  private def withSyntheticPii(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val str = (c: Column) => c.cast("string")
    docs.select(
      id,
      concat(
        col("text"),
        when(id % 3 === 0,
          concat(lit(" contact user"), str(id), lit("@mail"), str(id % 7), lit(".com")))
          .otherwise(lit("")),
        when(id % 9 === 0, concat(lit(" cc admin"), str(id), lit("@ex.org")))
          .otherwise(lit("")),
        when(id % 4 === 1,
          concat(lit(" call 555-"), lpad(str(id % 10000), 4, "0")))
          .otherwise(lit("")),
        when(id % 5 === 2,
          concat(lit(" from 10."), str(id % 256), lit(".0."), str((id * 7) % 256)))
          .otherwise(lit(""))
      ).as("text"))
  }

  /** Restructure the single-line synthetic corpus into paragraphs so
    * q45 has real paragraph granularity to dedup: every run of
    * `chunk` = 25 whitespace tokens becomes one paragraph, joined by
    * "\n\n". Deterministic and mirrored index-for-index by the q45
    * oracle (which chunks the token list directly instead of
    * round-tripping through the separator — same paragraphs either
    * way, since the source text contains no newlines). Cross-doc
    * duplicate paragraphs arise from the corpus's exact-dup documents
    * and from colliding sub-25-token tails.
    */
  private[graft] def withSyntheticParagraphs(docs: DataFrame, chunk: Int = 25): DataFrame = {
    val toks = split(col("text"), " ", -1)
    val nChunks =
      greatest(lit(1), floor((size(toks) + lit(chunk - 1)) / lit(chunk)).cast("int"))
    docs.select(
      col("doc_id"),
      array_join(
        transform(
          sequence(lit(0), nChunks - 1),
          i => array_join(slice(toks, i * chunk + 1, lit(chunk)), " ")),
        "\n\n").as("text"))
  }

  /** One-row recall measurement of an ANN result against the exact
    * top-k: (possible, hits, recall). Shared by kg_ann_recall and
    * kg_ann_ivf_recall so the two gates can never drift; the DuckDB
    * twin is [[annRecallSql]].
    */
  private def annRecall(ann: DataFrame, exact: DataFrame): DataFrame =
    exact
      .select(col("query_id"), col("neighbor_id"))
      .join(
        ann.select(col("query_id"), col("neighbor_id")).distinct()
          .withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("possible"),
        coalesce(sum(col("hit")), lit(0L)).as("hits"))
      .select(col("possible"), col("hits"),
        round(col("hits").cast("double") / col("possible"), 4).as("recall"))

  /** Flagship: full KG construction (parse → NER → DDI → canonicalize →
    * triples) on the deterministic synthetic corpus. Driver smoke-checks
    * rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    kgScored(spark, "hybrid", 80)._2.flatMap(_.triples).toDF()
  }

  // ---- KG pipeline queries (rows-only; gated by tests + evaluator) ----

  private def kgCorpus(s: SparkSession, n: Long) = {
    // localCheckpoint (GC-released), not cache: Verify runs ~10 kg
    // queries, each building a fresh corpus — cache entries would pin
    // storage for the whole 47-query session
    DocGen.trainEval(Pipeline.parse(s, DocGen.corpus(s, n)).localCheckpoint())
  }

  /** The corpus's eval sentences, scored by models `scorer` fit on its
    * train split: (eval, scored).
    */
  private def kgScored(s: SparkSession, scorer: String, n: Long = 200) = {
    val (train, ev) = kgCorpus(s, n)
    val models = s.sparkContext.broadcast(Pipeline.fit(s, train, scorer))
    (ev, Pipeline.score(s, ev, models))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -------- KG construction (no SQL equivalent; rows-only) ----------
    "kg_mentions" -> ((s, _) => {
      import s.implicits._
      kgScored(s, "hybrid")._2.flatMap(_.mentions).toDF().orderBy("sid", "start")
    }),
    // same pipeline through the CRF scorer (A6 parity path; rows-only —
    // the model's gates are CrfSpec + the DebugCrf F1 rows)
    "kg_mentions_crf" -> ((s, _) => {
      import s.implicits._
      kgScored(s, "crf")._2.flatMap(_.mentions).toDF().orderBy("sid", "start")
    }),
    "kg_triples" -> ((s, _) => {
      import s.implicits._
      kgScored(s, "hybrid")._2.flatMap(_.triples).toDF().orderBy("sid")
    }),
    "kg_feature_rows" -> ((s, _) => {
      import s.implicits._
      val (_, ev) = kgCorpus(s, 200)
      // features flattened to the reference's D4 TSV tail
      // (ml/src/feature_space.py:8-15): tab-joined string, never an
      // array column — the driver's hasher can't sort array cells.
      // `idx` = token position in the sentence, the only TOTAL
      // emission-order key (W3 quote tokens carry start = -1, so a
      // (sid, start) window would scramble them) — the dump-replay
      // oracle's lag/lead neighbor chain orders by it.
      Pipeline.featureRowsIndexed(s, ev)
        .map { case (i, r) =>
          (r.sid, i, r.form, r.start, r.end, r.tag, r.features.mkString("\t"))
        }
        .toDF("sid", "idx", "form", "start", "end", "tag", "features")
        .orderBy("sid", "idx")
    }),
    "kg_eval_ner" -> ((s, _) => {
      import s.implicits._
      val (ev, scored) = kgScored(s, "hybrid")
      s.createDataset(Pipeline.evaluateNER(s, ev, scored.flatMap(_.mentions))).toDF().orderBy("kind")
    }),
    // same eval math over the CRF scorer's mentions: its oracle replays
    // Evaluator in SQL with the pred side swapped to the kg_mentions_crf
    // dump — promoting the CRF path from rows-only to transitively
    // hash-verified (a wrong CRF mention dump hash-mismatches this)
    "kg_eval_ner_crf" -> ((s, _) => {
      import s.implicits._
      val (ev, scored) = kgScored(s, "crf")
      s.createDataset(Pipeline.evaluateNER(s, ev, scored.flatMap(_.mentions))).toDF().orderBy("kind")
    }),
    "kg_eval_ddi" -> ((s, _) => {
      import s.implicits._
      val (ev, scored) = kgScored(s, "hybrid")
      s.createDataset(Pipeline.evaluateDDI(s, ev, scored.flatMap(_.relations))).toDF().orderBy("kind")
    }),
    "kg_canonical_map" -> ((s, _) => {
      import s.implicits._
      val (_, ev) = kgCorpus(s, 200)
      val surfaces = ev.flatMap(x => x.entities.map(_.text))
      graft.kg.Canonicalize.canonicalMap(s, surfaces).orderBy("surface")
    }),
    // Gold scans (S3/S4), dumped flat so the kg_eval_*/kg_canonical_map
    // oracles can replay the eval math / alias CC in pure SQL over them
    // (pred side comes from the kg_mentions / kg_triples dumps). They
    // are rows-only themselves but TRANSITIVELY verified: a wrong gold
    // dump would hash-mismatch all three oracles that consume it.
    "kg_gold_spans" -> ((s, _) => {
      import s.implicits._
      val (_, ev) = kgCorpus(s, 200)
      ev.flatMap(x => x.entities.map(e => (x.sid, e.rawOffset, e.text, e.etype)))
        .toDF("sid", "raw_offset", "text", "etype")
        .orderBy("sid", "raw_offset", "text")
    }),
    "kg_gold_pairs" -> ((s, _) => {
      import s.implicits._
      val (_, ev) = kgCorpus(s, 200)
      ev.flatMap(x => x.pairs.filter(_.ddi)
          .map(p => (x.sid, p.e1, p.e2, p.dtype.getOrElse(""))))
        .toDF("sid", "e1", "e2", "dtype")
        .orderBy("sid", "e1", "e2")
    }),
    "kg_ann_bucketed" -> ((s, dir) => {
      // LSH-bucketed ANN (Spark murmur3 hyperplanes — no DuckDB twin)
      Similarity.bucketedTopK(rd(s, dir, "embeddings"), 3).orderBy("query_id", "rank")
    }),
    // Hash-verified ANN recall measurement (one row): recompute the
    // same bucketedTopK as kg_ann_bucketed, compare against the exact
    // brute-force top-3 (a bounded Θ(n²) VERIFIER like q18 — n = the
    // embeddings table, not a scale path), and emit (possible, hits,
    // recall). The DuckDB oracle replays the exact side from the
    // embeddings table (q19's cosine math, all queries) and the ANN
    // side from the kg_ann_bucketed DUMP — so a wrong ANN dump
    // hash-mismatches, transitively promoting kg_ann_bucketed from
    // rows-only. NOTE the recall VALUE is data-dependent: the synthetic
    // embeddings are near-isotropic noise, where hyperplane-LSH bucket
    // agreement is close to random (measured 0.0227 at sf0.01) — the
    // recall QUALITY gate stays AnnRecallSpec on clustered data
    // (0.899/1.000/0.954); this row verifies the MATH, not the level.
    "kg_ann_recall" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      annRecall(Similarity.bucketedTopK(emb, 3), Similarity.bruteForceTopK(emb, emb, 3))
    }),
    "kg_ann_ivf" -> ((s, dir) => {
      // IVF ANN (hash-sampled centroids + nProbe cells — no DuckDB twin;
      // recall gate lives in AnnRecallSpec)
      val emb = rd(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), 3, nCells = 16, nProbe = 2)
        .orderBy("query_id", "rank")
    }),
    // IVF twin of kg_ann_recall: same exact-vs-ANN recall replay, ANN
    // side = the kg_ann_ivf dump (queries vec_id < 20, k = 3) —
    // transitively hash-verifies kg_ann_ivf the same way. Same honesty
    // note: the VALUE is data-dependent (isotropic testdata), the
    // quality gate is AnnRecallSpec on clustered data (0.954).
    "kg_ann_ivf_recall" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      annRecall(
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), 3, nCells = 16, nProbe = 2),
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), 3))
    }),
    // Clustered-embedding ANN: the driver-visible recall number that
    // MEANS something (round-4 VERDICT item 5). The embeddings table is
    // deterministically boosted toward 8 md5-derived cluster centroids
    // (Similarity.clusterBoost — DuckDB replays the generation exactly),
    // then multi-probe hyperplane LSH top-3 over it; the companion
    // recall entry measures it against the exact top-3 and the oracle
    // replays BOTH the boost and the exact side from the embeddings
    // table, so a wrong ANN dump OR a wrong boost hash-mismatches.
    // Unlike kg_ann_recall (~0.02 on isotropic data), this recall is
    // expected >= 0.9: same-cluster vectors are true neighbors AND
    // bucket together.
    "kg_ann_clustered" -> ((s, dir) =>
      Similarity.bucketedTopK(
        Similarity.clusterBoost(rd(s, dir, "embeddings")), 3, nPlanes = 6, multiProbe = true)
        .orderBy("query_id", "rank")),
    "kg_ann_clustered_recall" -> ((s, dir) => {
      val emb = Similarity.clusterBoost(rd(s, dir, "embeddings"))
      annRecall(
        Similarity.bucketedTopK(emb, 3, nPlanes = 6, multiProbe = true),
        Similarity.bruteForceTopK(emb, emb, 3))
    }),
    // End-to-end embedding dedup on the ANN scale path: the SAME
    // multi-probe top-3 as kg_ann_clustered, thresholded at cos >= 0.9,
    // becomes a duplicate graph; CC assigns min-member cluster ids.
    // DuckDB replays the whole thing from the kg_ann_clustered dump
    // (threshold + WITH RECURSIVE min-label CC, the q26 pattern) — a
    // wrong edge set, threshold, or component assignment hash-mismatches.
    "kg_ann_cluster_map" -> ((s, dir) =>
      Similarity.annNearDupClusters(
        s, Similarity.clusterBoost(rd(s, dir, "embeddings")), threshold = 0.9,
        k = 3, nPlanes = 6, multiProbe = true)),
    // IVF twin of the clustered-ANN trio (round 6): the sf1 full-catalog
    // ledger measured hyperplane LSH DEGENERATING on the clusterBoost
    // corpus — sign-bit buckets are angularly atomic, so buckets
    // collapse to whole clusters and per-bucket top-k goes Θ(Σ cluster²)
    // (kg_ann_clustered: 192 s at 20k vectors, costlier than the exact
    // q18 verifier). IVF cells are seeded by SAMPLED CORPUS POINTS, so
    // they subdivide tight clusters and per-query work stays
    // nProbe·n/nCells by construction — this trio is the embedding-dedup
    // scale path for clustered corpora. kg_ann_ivf_all has no DuckDB
    // twin (the centroid sample is Spark murmur3) but is transitively
    // hash-verified by kg_ann_ivf_all_recall (exact side replayed in SQL
    // from the boosted table, ALL queries) and consumed by the
    // kg_ann_ivf_map replay.
    // nCells scales as √(nProbe·n) (Similarity.ivfAutoCells — the
    // balanced IVF-flat rule) so assignment and candidate work meet at
    // Θ(n^1.5) for the all-queries self-search; a fixed cell count would
    // re-grow toward the quadratic join as the corpus scales. Verify-SF
    // values follow the same rule (n=500 → 32 cells).
    "kg_ann_ivf_all" -> ((s, dir) => {
      val emb = Similarity.clusterBoost(rd(s, dir, "embeddings"))
      Similarity.ivfTopK(emb, emb, 3, nCells = Similarity.ivfAutoCells(emb.count()), nProbe = 2)
        .orderBy("query_id", "rank")
    }),
    // Θ(n²) exact side by role (like kg_ann_recall) — a verifier, not a
    // scale path; excluded from the sf1 timing ledger for that reason.
    // HONESTY NOTE on the value: within a boosted cluster the siblings
    // are noise-equidistant, so exact-top-3 membership is near-arbitrary
    // among ~60 candidates and ANN top-k recall tracks the PROBED
    // FRACTION of the cluster (≈0.68 at n=500 under the √(2n) cell
    // rule, vs 0.92 when cells ≈ clusters). The DEDUP product is
    // insensitive to this: any above-threshold candidate edge connects
    // the component, and kg_ann_ivf_map recovers the planted clusters
    // EXACTLY (8 pure clusters, full coverage) at that same recall —
    // this row measures ranking fidelity, the map row measures the
    // product.
    "kg_ann_ivf_all_recall" -> ((s, dir) => {
      val emb = Similarity.clusterBoost(rd(s, dir, "embeddings"))
      annRecall(
        Similarity.ivfTopK(emb, emb, 3, nCells = Similarity.ivfAutoCells(emb.count()), nProbe = 2),
        Similarity.bruteForceTopK(emb, emb, 3))
    }),
    "kg_ann_ivf_map" -> ((s, dir) => {
      val emb = Similarity.clusterBoost(rd(s, dir, "embeddings"))
      Similarity.ivfNearDupClusters(
        s, emb, threshold = 0.9,
        k = 3, nCells = Similarity.ivfAutoCells(emb.count()), nProbe = 2)
    }),

    // -------- relational core (DuckDB-verified) -----------------------
    "q01_agg_pushdown" -> ((s, dir) => {
      rd(s, dir, "lineitem")
        .filter(col("l_quantity") > 5)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows")
        )
    }),
    "q02_join_agg" -> ((s, dir) => {
      rd(s, dir, "orders")
        .join(broadcast(rd(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          round(sum(col("o_totalprice")), 2).as("total_price"),
          count(lit(1)).as("n_orders")
        )
    }),
    "q03_window_lag" -> ((s, dir) => {
      // l_quantity tiebreaker: the synthetic lineitem has duplicate
      // (l_orderkey, l_linenumber) pairs (118k at sf0.1), so the 3-key
      // sort is NOT total and the lag() sequence was engine-dependent —
      // a nondeterministic oracle flake. (shipdate, orderkey,
      // linenumber, quantity) is verified duplicate-free at sf0.01/0.1.
      val w = Window
        .partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      rd(s, dir, "lineitem")
        .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
        .groupBy(col("l_suppkey"))
        .agg(
          sum(when(col("l_quantity") > col("prev_qty"), 1L).otherwise(0L)).as("n_increasing"),
          count(lit(1)).as("n_rows")
        )
    }),
    "q04_topk_per_group" -> ((s, dir) => {
      val w = Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      rd(s, dir, "orders")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rank"))
    }),

    // -------- events: eval counters, sessions, skew, CC ---------------
    "q05_eval_counters" -> ((s, dir) => Events.evalCounters(rd(s, dir, "events"))),
    "q06_sessionize" -> ((s, dir) => Events.sessionize(rd(s, dir, "events"))),
    "q07_salted_agg" -> ((s, dir) => Events.saltedSum(rd(s, dir, "events"))),
    "q08_connected_components" -> ((s, dir) => Events.eventComponents(s, rd(s, dir, "events"))),

    "q30_asof_join" -> ((s, dir) => Events.asofJoin(rd(s, dir, "events"))),
    "q31_range_join" -> ((s, dir) => Events.rangeJoin(rd(s, dir, "events"))),
    // HLL sketch differs across engines -> rows-only; OpsSpec gates accuracy
    // round 4: carries a DuckDB-verified error-bound column — the
    // oracle recomputes exact_users from the events table, reads
    // approx_users back from the dump, and replays the 3-rsd bound, so
    // the exact side and the bound claim are hash-verified (the HLL
    // estimate itself is engine-specific by nature; its accuracy spec
    // remains the sketch gate).
    "q32_approx_distinct" -> ((s, dir) =>
      Events.approxDistinctUsers(rd(s, dir, "events"))
        .withColumn("within_3rsd",
          abs(col("approx_users") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.15)),

    // -------- text analysis -------------------------------------------
    "q09_token_stats" -> ((s, dir) => TextOps.tokenStats(rd(s, dir, "documents"))),
    "q10_quality_score" -> ((s, dir) => TextOps.qualityScore(rd(s, dir, "documents"))),
    "q11_lang_id" -> ((s, dir) => TextOps.langId(rd(s, dir, "documents"))),
    "q12_fingerprint" -> ((s, dir) => TextOps.fingerprint(rd(s, dir, "documents"))),
    "q13_simhash" -> ((s, dir) => TextOps.simhash(rd(s, dir, "documents"))),

    // -------- deduplication --------------------------------------------
    "q14_exact_dedup" -> ((s, dir) => Dedup.exact(rd(s, dir, "documents"))),
    "q15_minhash_sig" -> ((s, dir) => Dedup.minhashSignatures(rd(s, dir, "documents"))),
    "q16_lsh_pairs" -> ((s, dir) => Dedup.lshCandidates(rd(s, dir, "documents"))),
    "q17_ngram_jaccard" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val pairs = docs
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
        .join(docs.select(col("doc_id").as("doc_b")), Seq("doc_b"))
      Dedup.ngramJaccard(docs, pairs)
    }),
    "q18_embed_neardup" -> ((s, dir) => Dedup.embeddingNearDup(rd(s, dir, "embeddings"), 0.45)),

    // -------- similarity search ----------------------------------------
    "q19_cosine_topk" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 3)
    }),

    // -------- multimodal -----------------------------------------------
    // Real byte-level header decode over deterministic synthetic PNG/JPEG
    // payloads; the oracle replays dims, framing lengths AND the raw dim
    // bytes at their fixed offsets from the doc_id formulas.
    "q20_multimodal" -> ((s, dir) => Multimodal.features(s, rd(s, dir, "documents"))),
    "q36_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(s, Multimodal.asMedia(s, rd(s, dir, "documents"))).toDF()),

    "q23_token_bpe" -> ((s, dir) => TextOps.bpeTokenCount(rd(s, dir, "documents"))),
    "q34_token_rarity" -> ((s, dir) => TextOps.tokenRarity(rd(s, dir, "documents"))),
    "q35_boilerplate" -> ((s, dir) => TextOps.boilerplateShingles(rd(s, dir, "documents"))),
    // benchmark decontamination: every 13th doc plays the eval set; the
    // rest is the training corpus scrubbed against it (5-gram overlap)
    "q38_decontaminate" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      TextOps.decontaminate(
        docs.filter(col("doc_id") % 13 =!= 0),
        docs.filter(col("doc_id") % 13 === 0))
    }),
    // attribution twin of q38: WHICH benchmark doc each training doc
    // overlaps, by distinct shared 5-grams
    "q51_contamination_pairs" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      TextOps.contaminationPairs(
        docs.filter(col("doc_id") % 13 =!= 0),
        docs.filter(col("doc_id") % 13 === 0))
    }),
    "q39_repetition" -> ((s, dir) => TextOps.repetitionSignals(rd(s, dir, "documents"))),
    // data-mixture sampler on the bucketed scale path (spec-gated equal
    // to the single-window definition the oracle replays)
    "q40_token_budget_mix" -> ((s, dir) =>
      Sampling.tokenBudgetMixBucketed(
        rd(s, dir, "documents"), Map("en" -> 20000L, "de" -> 8000L), defaultBudget = 3000L)),
    // PII scrub over the corpus with deterministic doc_id-derived PII
    // appended first (the synthetic corpus contains none), so the
    // redaction regexes are actually exercised; the oracle replays the
    // same injection + scrub in DuckDB
    "q41_pii_scrub" -> ((s, dir) =>
      TextOps.piiScrub(withSyntheticPii(rd(s, dir, "documents")))),
    // composed keep/drop policy with first-failing-reason attribution;
    // same corpus/benchmark split as q38
    "q42_filter_policy" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      TextOps.filterPolicy(
        docs.filter(col("doc_id") % 13 =!= 0),
        docs.filter(col("doc_id") % 13 === 0))
    }),

    // -------- incremental (delta-vs-history) dedup ---------------------
    // The production ingest shape: every 7th doc plays today's crawl
    // increment, the rest the already-ingested corpus — the delta is
    // deduplicated against the history's STORED projections (digest /
    // band fingerprints), never against its text.
    "q43_incremental_dedup" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 7 === 0),
        Dedup.digests(docs.filter(col("doc_id") % 7 =!= 0)))
    }),
    "q44_incremental_neardup" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Dedup.incrementalNearDup(
        docs.filter(col("doc_id") % 7 === 0),
        Dedup.minhashSignatures(docs.filter(col("doc_id") % 7 =!= 0))
          .select(col("band"), col("sig")).distinct())
    }),

    // incremental EMBEDDING dedup — the trio's third leg (q43 digests,
    // q44 bands, this cosine-vs-IVF-cells): every 5th vector plays the
    // delta, the rest the ingested history whose stored IVF index
    // (ivfCentroids on the history itself) the delta probes. Same 0.45
    // threshold as the q18 exact verifier. The oracle replays the cell
    // join + cosine scoring + per-vector aggregation in SQL over the
    // kg_ann_ivf_delta dump (probes/assignments — Spark-murmur3
    // centroid sample, hence not directly SQL-expressible) plus the raw
    // embeddings table.
    "q47_incremental_ann" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val delta = emb.filter(col("vec_id") % 5 === 0)
      val hist = emb.filter(col("vec_id") % 5 =!= 0)
      val cents = Similarity.ivfCentroids(hist, Similarity.ivfAutoCells(hist.count()))
      Similarity.incrementalAnnDedup(delta, hist, cents, threshold = 0.45)
    }),
    // dump twin: the probed cells + history assignment q47's oracle
    // joins over (shares ivfProbes/ivfAssign with the op — transitively
    // hash-verified through q47's green oracle)
    "kg_ann_ivf_delta" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val delta = emb.filter(col("vec_id") % 5 === 0)
      val hist = emb.filter(col("vec_id") % 5 =!= 0)
      val cents = Similarity.ivfCentroids(hist, Similarity.ivfAutoCells(hist.count()))
      Similarity.incrementalAnnCells(delta, hist, cents)
    }),

    // paragraph-granularity dedup over the chunked corpus (the
    // RefinedWeb/Dolma boilerplate scrub — see withSyntheticParagraphs)
    "q45_paragraph_dedup" -> ((s, dir) =>
      Dedup.paragraphDedup(withSyntheticParagraphs(rd(s, dir, "documents")))),
    // sequence packing: the concat-and-chunk plan into 512-token shards
    // (bucketed scale form; spec-gated equal to the single-window
    // definition the oracle replays)
    // paragraph-granularity NEAR-dup: the q37 collapsed flow over the
    // exploded paragraph table (packed (doc_id, para_idx) identities).
    // minBands = 6 of 8 — the strict near-identical bar this synthetic
    // corpus needs (its fixed vocab PERCOLATES 25-token paragraphs into
    // giant components at the permissive minBands = 1, the same effect
    // BENCH/BASELINE.md records for the DataPipeline demo at doc
    // granularity; a real crawl's paragraphs are shingle-diverse)
    "q52_paragraph_neardup" -> ((s, dir) =>
      Dedup.paragraphNearDupClusters(
        s, withSyntheticParagraphs(rd(s, dir, "documents")), minBands = 6)),
    "q46_sequence_pack" -> ((s, dir) =>
      Packing.packPlanBucketed(rd(s, dir, "documents"), seqLen = 512)),
    // exact-substring duplication signals (Lee et al.): per-doc mass of
    // 12-token windows whose value appeared earlier in the corpus
    // (k = 12 < the testdata's 30-80-token docs, so real windows exist;
    // duplicate mass comes from the corpus's exact-dup documents)
    "q48_dup_spans" -> ((s, dir) =>
      Dedup.duplicatedWindowSpans(rd(s, dir, "documents"), k = 12)),
    // the removal plan APPLIED: scrubbed corpus where only the global
    // first occurrence of each 12-token window survives
    "q49_dup_span_removal" -> ((s, dir) =>
      Dedup.removeDuplicatedWindows(rd(s, dir, "documents"), k = 12)),
    // exact-substring signals for a delta against the history's STORED
    // window digests (same %7 delta split as q43/q44 — the third
    // granularity of the incremental family)
    "q50_incremental_dup_spans" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      Dedup.incrementalDupSpans(
        docs.filter(col("doc_id") % 7 === 0),
        Dedup.windowDigests(docs.filter(col("doc_id") % 7 =!= 0), k = 12),
        k = 12)
    }),

    // -------- sampling + dedup clustering --------------------------------
    "q24_deterministic_sample" -> ((s, dir) =>
      Sampling.deterministicSample(rd(s, dir, "documents"), 20)
        .select(col("doc_id"), col("n_chars"))),
    "q25_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(
        rd(s, dir, "documents"), "lang", Map("en" -> 60, "de" -> 30), defaultPct = 10)
        .select(col("doc_id"), col("lang"))),
    "q26_neardup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(s, rd(s, dir, "documents"))),
    // the exact-dedup-first production flow (one call): identical texts
    // collapse to min-id representatives, LSH+CC runs over reps only,
    // members inherit the rep's cluster — the designed way to stay out
    // of the mega-bucket guard at duplicate-heavy scale
    "q37_neardup_collapsed" -> ((s, dir) =>
      Dedup.nearDupClustersCollapsed(s, rd(s, dir, "documents"))),
    "q27_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDup(rd(s, dir, "documents"), maxHamming = 3)),
    "q33_pivot_counts" -> ((s, dir) =>
      rd(s, dir, "documents")
        .groupBy(col("lang"))
        .pivot(col("source"), Seq("src0", "src1", "src2"))
        .agg(count(lit(1)))
        .na.fill(0L)),
    "q28_rollup_stats" -> ((s, dir) =>
      rd(s, dir, "documents")
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))),
    "q29_length_quantiles" -> ((s, dir) =>
      rd(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
          max(col("n_chars")).as("p100"))),

    // -------- production-path (xxhash64) variants; rows-only ------------
    "q21_minhash_fast" -> ((s, dir) => Dedup.minhashSignaturesFast(rd(s, dir, "documents"))),
    "q22_lsh_pairs_fast" -> ((s, dir) => Dedup.lshCandidates(rd(s, dir, "documents"), fast = true))
  )

  // ---- DuckDB oracles --------------------------------------------------

  private def simhashVotesN(bits: Int): String = (0 until bits)
    .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
    .mkString(", ")
  private def simhashBitsN(bits: Int): String = (0 until bits)
    .map(j => s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END")
    .mkString(" + ")
  private val simhashVotes: String = simhashVotesN(16)
  private val simhashBits: String = simhashBitsN(16)

  /** Shingle + minhash CTE bodies, parameterized by the source relation
    * (the collapsed-dedup oracle runs them over the representative-doc
    * CTE instead of the raw table).
    */
  private def shingleCteOver(src: String) =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
sh AS (SELECT doc_id,
  list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
    i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM toks)"""

  private val shingleCte = shingleCteOver("documents")

  private def minhashBodyOver(src: String) =
    s"""${shingleCteOver(src)},
x AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
b AS (SELECT doc_id, shingle, unnest(generate_series(0, 7)) AS band FROM x),
sigs AS (SELECT doc_id, band,
  min(('0x' || substr(md5(shingle || '#' || CAST(band // 2 AS VARCHAR)),
                      1 + 15 * (band % 2), 15))::BIGINT) AS sig
         FROM b GROUP BY doc_id, band)"""

  private val minhashCte = s"WITH ${minhashBodyOver("documents")}"

  /** Reads a dumped frame back in DuckDB (the `__OUT__` placeholder is
    * substituted with the real dump dir by Verify before the JSON is
    * written — the oracle SQL the driver sees is fully resolved).
    */
  private def dump(name: String): String =
    s"read_parquet('__OUT__/$name.parquet/*.parquet')"

  /** (vec_id, i, x) CTE over the raw embeddings table — the exact-side
    * input for the isotropic recall replays.
    */
  private val isoEmbCte: String =
    """e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
generate_subscripts(embedding, 1) AS i FROM embeddings)"""

  /** Clustered twin: replays Similarity.clusterBoost in SQL — same
    * md5-hex-window centroid component and the identical arithmetic
    * tree x + 3.0 * (k/1000.0 - 0.5), so the doubles agree exactly
    * (DuckDB's generate_subscripts is 1-based, Spark's transform index
    * 0-based — hence i - 1 in the hash input).
    */
  private val clusteredEmbCte: String =
    """e0 AS (SELECT vec_id, vec_id % 8 AS c, unnest(embedding)::DOUBLE AS x,
generate_subscripts(embedding, 1) AS i FROM embeddings),
e AS (SELECT vec_id, i,
x + 3.0 * ((('0x' || substr(md5('c' || CAST(c AS VARCHAR) || '#' || CAST(i - 1 AS VARCHAR)), 1, 8))::BIGINT % 1000) / 1000.0 - 0.5) AS x FROM e0)"""

  /** DuckDB twin of [[annRecall]]: exact top-3 recomputed from the
    * embeddings table (q19's cosine math; `embCte` picks the raw or
    * cluster-boosted view) for the queries selected by `queryWhere`
    * ("" = every vector), ANN side read DISTINCT from the named dump.
    */
  private def annRecallSql(
      queryWhere: String, dumpName: String, embCte: String = isoEmbCte): String =
    s"""WITH $embCte,
q AS (SELECT * FROM e $queryWhere),
s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
round(sum(q.x * c.x) / sqrt(sum(q.x * q.x) * sum(c.x * c.x)), 4) AS cos
FROM q JOIN e c ON q.i = c.i AND q.vec_id <> c.vec_id GROUP BY 1, 2),
ex AS (SELECT query_id, neighbor_id FROM (
SELECT *, row_number() OVER (PARTITION BY query_id
  ORDER BY cos DESC, neighbor_id ASC) AS rank FROM s) WHERE rank <= 3),
ann AS (SELECT DISTINCT query_id, neighbor_id FROM ${dump(dumpName)})
SELECT CAST(count(*) AS BIGINT) AS possible,
CAST(coalesce(sum(CASE WHEN ann.query_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits,
round(coalesce(sum(CASE WHEN ann.query_id IS NOT NULL THEN 1 ELSE 0 END), 0) * 1.0 / count(*), 4) AS recall
FROM ex LEFT JOIN ann
ON ex.query_id = ann.query_id AND ex.neighbor_id = ann.neighbor_id"""

  /** The reference evaluator's math (ml/evaluator.py:105-127) in SQL:
    * per-gold-type counters from a (etype, einfo)-keyed full outer join
    * over deduped instance sets, plus CLASS (einfo|etype key) and NOCLASS
    * (einfo key) rows; P/R/F1 with the same zero-guards and identical
    * IEEE double arithmetic as Evaluator.mkRow.
    */
  private def evalOracle(goldSel: String, predSel: String): String = {
    // coalesce: aggregates over ZERO rows (gold and pred both empty)
    // must yield the explicit zero row Evaluator emits, not NULLs
    def counters(src: String) =
      s"""CAST(coalesce(sum(CASE WHEN ing AND inp THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
CAST(coalesce(sum(CASE WHEN (NOT ing) AND inp THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
CAST(coalesce(sum(CASE WHEN ing AND (NOT inp) THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
CAST(coalesce(sum(CASE WHEN inp THEN 1 ELSE 0 END), 0) AS BIGINT) AS npred,
CAST(coalesce(sum(CASE WHEN ing THEN 1 ELSE 0 END), 0) AS BIGINT) AS nexp
FROM $src"""
    s"""WITH g AS (SELECT DISTINCT $goldSel),
p AS (SELECT DISTINCT $predSel),
j AS (SELECT coalesce(g.etype, p.etype) AS etype,
  g.einfo IS NOT NULL AS ing, p.einfo IS NOT NULL AS inp
  FROM g FULL OUTER JOIN p ON g.etype = p.etype AND g.einfo = p.einfo),
t AS (SELECT etype AS kind, ${counters("j GROUP BY 1 HAVING max(CASE WHEN ing THEN 1 ELSE 0 END) = 1")}),
cj AS (SELECT cg.k IS NOT NULL AS ing, cp.k IS NOT NULL AS inp
  FROM (SELECT DISTINCT einfo || '|' || etype AS k FROM g) cg
  FULL OUTER JOIN (SELECT DISTINCT einfo || '|' || etype AS k FROM p) cp ON cg.k = cp.k),
c AS (SELECT 'CLASS' AS kind, ${counters("cj")}),
nj AS (SELECT ng.k IS NOT NULL AS ing, np.k IS NOT NULL AS inp
  FROM (SELECT DISTINCT einfo AS k FROM g) ng
  FULL OUTER JOIN (SELECT DISTINCT einfo AS k FROM p) np ON ng.k = np.k),
n AS (SELECT 'NOCLASS' AS kind, ${counters("nj")}),
u AS (SELECT * FROM t UNION ALL SELECT * FROM c UNION ALL SELECT * FROM n),
f AS (SELECT kind, tp, fp, fn, npred, nexp,
  CASE WHEN npred <> 0 THEN tp / npred ELSE 0 END AS p,
  CASE WHEN nexp <> 0 THEN tp / nexp ELSE 0 END AS r FROM u)
SELECT kind, tp, fp, fn, npred, nexp, p, r,
  CASE WHEN p + r <> 0 THEN 2 * p * r / (p + r) ELSE 0 END AS f1 FROM f"""
  }

  /** Shared min-label connected-components SQL. Expects a symmetric
    * edge CTE named `e(src, dst)` in scope; defines `nodes` and
    * `lbl(node, comp)` where comp = min reachable node. One definition so
    * a propagation fix lands everywhere (used by kg_canonical_map, q08,
    * q26).
    */
  private val ccLblCte: String =
    """nodes AS (SELECT DISTINCT src AS node FROM e),
lbl AS (
WITH RECURSIVE r(node, comp) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.comp FROM r JOIN e ON e.src = r.node WHERE r.comp < e.dst)
SELECT node, min(comp) AS comp FROM r GROUP BY node)"""

  /** Cluster-map replay over an ANN candidate dump: threshold the
    * candidates into edges, min-label CC (the shared recursive CTE),
    * vectors without a qualifying neighbor cluster to themselves. One
    * definition for the LSH (kg_ann_cluster_map) and IVF
    * (kg_ann_ivf_map) flows.
    */
  private def clusterMapSql(dumpName: String): String =
    s"""WITH p AS (SELECT least(query_id, neighbor_id) AS a,
greatest(query_id, neighbor_id) AS b
FROM ${dump(dumpName)} WHERE cos >= 0.9),
raw AS (SELECT DISTINCT lpad(CAST(a AS VARCHAR), 19, '0') AS src,
               lpad(CAST(b AS VARCHAR), 19, '0') AS dst FROM p),
e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
$ccLblCte
SELECT v.vec_id, COALESCE(CAST(l.comp AS BIGINT), v.vec_id) AS cluster_id
FROM (SELECT DISTINCT vec_id FROM embeddings) v
LEFT JOIN lbl l ON lpad(CAST(v.vec_id AS VARCHAR), 19, '0') = l.node"""

  def oracleSql: Map[String, String] = Map(
    "kg_eval_ner" -> evalOracle(
      s"sid || '|' || raw_offset || '|' || text AS einfo, etype FROM ${dump("kg_gold_spans")}",
      s"""sid || '|' || "start" || '-' || "end" || '|' || text AS einfo, etype FROM ${dump("kg_mentions")}"""),
    "kg_eval_ner_crf" -> evalOracle(
      s"sid || '|' || raw_offset || '|' || text AS einfo, etype FROM ${dump("kg_gold_spans")}",
      s"""sid || '|' || "start" || '-' || "end" || '|' || text AS einfo, etype FROM ${dump("kg_mentions_crf")}"""),
    "kg_eval_ddi" -> evalOracle(
      s"sid || '|' || e1 || '|' || e2 AS einfo, dtype AS etype FROM ${dump("kg_gold_pairs")}",
      s"sid || '|' || e1 || '|' || e2 AS einfo, interactionPred AS etype FROM ${dump("kg_triples")}"),
    // Dump-replay oracle for the W1/S5 feature stage (same pattern as
    // kg_eval_ner_crf): rebuild the `features` tail in pure SQL from the
    // dump's scalar columns — suf3= recomputed from form= (Python
    // word[-3:] semantics), formPrev/suf3Prev/formNext/suf3Next taken
    // from the sid-partitioned neighbors ordered by the token index
    // `idx` (the only TOTAL emission-order key: W3 quote tokens carry
    // start = -1), BoS/EoS at sentence edges (ml/extract-features.py:
    // 59-95 emission order). A dump whose feature strings are
    // inconsistent with its own token stream hash-mismatches this
    // reconstruction.
    "kg_feature_rows" ->
      s"""WITH t AS (
SELECT sid, idx, form, "start", "end", tag, features,
  lag(form)  OVER (PARTITION BY sid ORDER BY idx) AS pf,
  lead(form) OVER (PARTITION BY sid ORDER BY idx) AS nf
FROM ${dump("kg_feature_rows")}),
s AS (SELECT *,
  CASE WHEN length(form) <= 3 THEN form ELSE substr(form, length(form) - 2, 3) END AS s3,
  CASE WHEN length(pf) <= 3 THEN pf ELSE substr(pf, length(pf) - 2, 3) END AS ps3,
  CASE WHEN length(nf) <= 3 THEN nf ELSE substr(nf, length(nf) - 2, 3) END AS ns3
FROM t)
SELECT sid, idx, form, "start", "end", tag,
  'form=' || form || chr(9) || 'suf3=' || s3 || chr(9) ||
  CASE WHEN pf IS NULL THEN 'BoS'
       ELSE 'formPrev=' || pf || chr(9) || 'suf3Prev=' || ps3 END || chr(9) ||
  CASE WHEN nf IS NULL THEN 'EoS'
       ELSE 'formNext=' || nf || chr(9) || 'suf3Next=' || ns3 END AS features
FROM s""",
    // ANN recall replay: exact top-3 recomputed from the embeddings
    // table (q19's math, ALL queries), ANN side read from the
    // kg_ann_bucketed dump — see the kg_ann_recall query comment.
    "kg_ann_recall" -> annRecallSql("", "kg_ann_bucketed"),
    // q21's xxhash64 signature VALUES have no DuckDB twin (documented),
    // but q22's DERIVATION from them does: replay the bucket self-join
    // + pair counting over the q21 dump — wrong banding, bucketing, or
    // combination logic in the fast path now hash-mismatches. Like the
    // q16 oracle, this replay assumes NO mega-bucket degradation at the
    // gate SFs (true by a wide margin: max bucket 20 at sf0.01 / 116 at
    // sf0.1 vs maxBucket 4096); on a corpus that trips the guard the
    // Spark side intentionally emits hub-star pairs and would (rightly)
    // diverge from this all-pairs replay.
    "q22_lsh_pairs_fast" ->
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM ${dump("q21_minhash_fast")} a JOIN ${dump("q21_minhash_fast")} b
ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
GROUP BY 1, 2""",
    // exact side + 3-rsd bound replay for the HLL query (see the
    // q32 query comment).
    "q32_approx_distinct" ->
      s"""WITH ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
FROM events GROUP BY 1),
ap AS (SELECT event_type, approx_users FROM ${dump("q32_approx_distinct")})
SELECT ap.event_type, ap.approx_users, ex.exact_users,
(abs(ap.approx_users - ex.exact_users) * 1.0 / ex.exact_users) <= 0.15 AS within_3rsd
FROM ap JOIN ex USING (event_type)""",
    // IVF twin: exact top-3 for the vec_id < 20 queries, ANN side from
    // the kg_ann_ivf dump.
    "kg_ann_ivf_recall" -> annRecallSql("WHERE vec_id < 20", "kg_ann_ivf"),
    // Clustered twin: the boost AND the exact side replayed from the
    // embeddings table (see clusteredEmbCte), ANN side from the
    // kg_ann_clustered dump — hash-verifies generation + recall math;
    // the recall VALUE here is the meaningful >= 0.9 one.
    "kg_ann_clustered_recall" -> annRecallSql("", "kg_ann_clustered", clusteredEmbCte),
    // ANN cluster map replay (q26's CC pattern over the ANN dump):
    // same threshold, same min-label components, vectors without a
    // qualifying neighbor cluster to themselves.
    "kg_ann_cluster_map" -> clusterMapSql("kg_ann_clustered"),
    // IVF twins: the cluster-map replay over the IVF candidate dump, and
    // the recall replay whose exact side is recomputed in SQL from the
    // boosted table (ALL queries) — transitively hash-verifying
    // kg_ann_ivf_all the same way kg_ann_clustered is verified.
    "kg_ann_ivf_map" -> clusterMapSql("kg_ann_ivf_all"),
    "kg_ann_ivf_all_recall" -> annRecallSql("", "kg_ann_ivf_all", clusteredEmbCte),
    // Canonicalize.variants + min-label CC replayed in SQL: same string
    // rewrites (paren strip, squash, hyphen drop, deplural), same
    // surface<->variant bipartite edges, same canonical = lexicographic
    // min REAL surface per component.
    "kg_canonical_map" ->
      s"""WITH s0 AS (SELECT DISTINCT lower(trim(text)) AS lc FROM ${dump("kg_gold_spans")}),
v1 AS (SELECT lc, trim(regexp_replace(lc, '\\s*\\([^)]*\\)', '', 'g')) AS noparen FROM s0),
v2 AS (SELECT lc, CASE WHEN noparen <> '' THEN noparen ELSE lc END AS base FROM v1),
v3 AS (SELECT lc, base,
  regexp_replace(trim(regexp_replace(base, '[^a-z0-9]+', ' ', 'g')), '\\s+', ' ', 'g') AS squashed,
  trim(regexp_replace(replace(base, '-', ''), '\\s+', ' ', 'g')) AS nohyphen FROM v2),
v4 AS (SELECT lc, base, squashed, nohyphen,
  CASE WHEN length(squashed) > 3 AND squashed LIKE '%s' AND squashed NOT LIKE '%ss'
       THEN substr(squashed, 1, length(squashed) - 1) ELSE squashed END AS deplural FROM v3),
vv AS (SELECT lc, unnest([lc, base, squashed, nohyphen, deplural]) AS v FROM v4),
raw AS (SELECT lc AS src, 'v:' || v AS dst FROM vv WHERE v <> ''
        UNION SELECT lc, lc FROM s0),
e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
$ccLblCte,
re AS (SELECT node, comp FROM lbl WHERE node NOT LIKE 'v:%'),
canon AS (SELECT comp, min(node) AS canonical FROM re GROUP BY comp)
SELECT re.node AS surface, canon.canonical
FROM re JOIN canon ON re.comp = canon.comp""",
    "q01_agg_pushdown" ->
      """SELECT l_returnflag, l_linestatus,
round(sum(l_quantity), 2) AS sum_qty,
round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
count(*) AS n_rows
FROM lineitem WHERE l_quantity > 5 GROUP BY 1, 2""",
    "q02_join_agg" ->
      """SELECT c_mktsegment,
round(sum(o_totalprice), 2) AS total_price, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""",
    "q03_window_lag" ->
      """WITH w AS (SELECT l_suppkey, l_quantity,
lag(l_quantity) OVER (PARTITION BY l_suppkey
  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity) AS prev_qty
FROM lineitem)
SELECT l_suppkey,
CAST(sum(CASE WHEN l_quantity > prev_qty THEN 1 ELSE 0 END) AS BIGINT) AS n_increasing,
count(*) AS n_rows FROM w GROUP BY 1""",
    "q04_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, rank FROM (
SELECT o_custkey, o_orderkey, CAST(row_number() OVER (
  PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rank
FROM orders) WHERE rank <= 3""",
    "q05_eval_counters" ->
      """WITH gold AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
pred AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
j AS (SELECT g.user_id AS gu, p.user_id AS pu
      FROM gold g FULL OUTER JOIN pred p ON g.user_id = p.user_id)
SELECT
CAST(sum(CASE WHEN gu IS NOT NULL AND pu IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp,
CAST(sum(CASE WHEN gu IS NULL AND pu IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS fp,
CAST(sum(CASE WHEN gu IS NOT NULL AND pu IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fn,
CAST(sum(CASE WHEN pu IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS npred,
CAST(sum(CASE WHEN gu IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nexp,
round(CASE WHEN sum(CASE WHEN pu IS NOT NULL THEN 1 ELSE 0 END) <> 0
  THEN sum(CASE WHEN gu IS NOT NULL AND pu IS NOT NULL THEN 1 ELSE 0 END)
    / sum(CASE WHEN pu IS NOT NULL THEN 1 ELSE 0 END) ELSE 0 END, 4) AS p,
round(CASE WHEN sum(CASE WHEN gu IS NOT NULL THEN 1 ELSE 0 END) <> 0
  THEN sum(CASE WHEN gu IS NOT NULL AND pu IS NOT NULL THEN 1 ELSE 0 END)
    / sum(CASE WHEN gu IS NOT NULL THEN 1 ELSE 0 END) ELSE 0 END, 4) AS r
FROM j""",
    "q06_sessionize" ->
      """WITH x AS (SELECT user_id, ts, event_id,
lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
y AS (SELECT user_id, event_id, ts,
CASE WHEN prev_ts IS NULL
  OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END AS brk FROM x),
z AS (SELECT user_id, event_id,
CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id FROM y),
c AS (SELECT user_id, session_id, count(*) AS n_events FROM z GROUP BY 1, 2)
SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
FROM c GROUP BY 1""",
    "q07_salted_agg" ->
      """SELECT event_type, round(sum(value), 2) AS total_value,
count(*) AS n_events FROM events GROUP BY 1""",
    "q08_connected_components" ->
      s"""WITH raw AS (SELECT DISTINCT lpad(CAST(user_id AS VARCHAR), 19, '0') AS src,
lpad(CAST(((event_id % 50) + 50) % 50 AS VARCHAR), 19, '0') AS dst FROM events),
e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
$ccLblCte
SELECT node, comp FROM lbl""",
    "q30_asof_join" ->
      """WITH p AS (SELECT user_id, ts, round(max(value), 2) AS pv
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id, c.user_id, c.ts, p.pv AS asof_purchase
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""",
    "q31_range_join" ->
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
FROM events a JOIN events b ON a.user_id = b.user_id
WHERE a.event_id <> b.event_id
  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 300 SECONDS
  AND (b.ts > a.ts OR a.event_id < b.event_id)""",
    "q09_token_stats" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
CAST(length(text) AS INT) AS n_chars,
round((length(text) - len(string_split(text, ' ')) + 1)
  / len(string_split(text, ' ')), 4) AS avg_token_len
FROM documents""",
    "q10_quality_score" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
round(len(list_filter(toks, x -> x IN ('the','a','of','and'))) / len(toks), 4) AS stopword_ratio,
round(length(regexp_replace(text, '[a-z ]', '', 'g')) / length(text), 4) AS nonalpha_ratio,
round(len(list_distinct(toks)) / len(toks), 4) AS distinct_ratio
FROM t""",
    "q11_lang_id" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (SELECT doc_id,
CAST(len(list_filter(toks, x -> x IN ('the','a','and'))) AS INT) AS c_stop,
CAST(len(list_filter(toks, x -> x IN ('fast','slow','big','small'))) AS INT) AS c_adj,
CAST(len(list_filter(toks, x -> x IN ('table','row','column','query'))) AS INT) AS c_db
FROM t)
SELECT doc_id, c_stop, c_adj, c_db,
CASE WHEN c_stop >= c_adj AND c_stop >= c_db THEN 'p_stop'
     WHEN c_adj >= c_db THEN 'p_adj' ELSE 'p_db' END AS predicted_profile
FROM c""",
    "q12_fingerprint" ->
      """SELECT doc_id,
substr(md5(array_to_string(string_split(text, ' '), '|')), 1, 16) AS fp,
CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
FROM documents""",
    "q13_simhash" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS h FROM w),
v AS (SELECT doc_id, $simhashVotes FROM h GROUP BY doc_id)
SELECT doc_id, CAST($simhashBits AS BIGINT) AS simhash FROM v""",
    "q14_exact_dedup" ->
      """SELECT md5(text) AS dup_key, count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents GROUP BY 1""",
    "q15_minhash_sig" ->
      s"""$minhashCte
SELECT doc_id, CAST(band AS INT) AS band, sig FROM sigs""",
    "q16_lsh_pairs" ->
      s"""$minhashCte
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
GROUP BY 1, 2""",
    "q17_ngram_jaccard" ->
      s"""WITH $shingleCte
SELECT a.doc_id AS doc_b, b.doc_id AS doc_a,
round(len(list_intersect(b.shingles, a.shingles))
  / len(list_distinct(list_concat(b.shingles, a.shingles))), 4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id = b.doc_id + 1""",
    "q18_embed_neardup" ->
      """WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
generate_subscripts(embedding, 1) AS i FROM embeddings),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
sum(a.x * b.x) / sqrt(sum(a.x * a.x) * sum(b.x * b.x)) AS c
FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
SELECT id_a, id_b, round(c, 4) AS cos FROM p WHERE round(c, 4) >= 0.45""",
    "q19_cosine_topk" ->
      """WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
generate_subscripts(embedding, 1) AS i FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 5),
s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
round(sum(q.x * c.x) / sqrt(sum(q.x * q.x) * sum(c.x * c.x)), 4) AS cos
FROM q JOIN e c ON q.i = c.i AND q.vec_id <> c.vec_id GROUP BY 1, 2)
SELECT query_id, neighbor_id, cos, rank FROM (
SELECT *, CAST(row_number() OVER (PARTITION BY query_id
  ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank FROM s)
WHERE rank <= 3""",
    "q23_token_bpe" ->
      """SELECT doc_id,
CAST(len(regexp_extract_all(text, '''(s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS INT) AS n_bpe_tokens,
CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens
FROM documents""",
    "q34_token_rarity" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
c AS (SELECT tok, count(*) AS c FROM t GROUP BY 1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
round(sum(c.c) / count(*), 4) AS avg_tok_count,
round(sum(CASE WHEN c.c <= 2 THEN 1 ELSE 0 END) / count(*), 4) AS rare_ratio
FROM t JOIN c USING (tok) GROUP BY 1""",
    "q35_boilerplate" ->
      s"""WITH $shingleCte,
x AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
d AS (SELECT shingle, count(*) AS df FROM x GROUP BY 1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
round(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) / count(*), 4) AS boiler_ratio
FROM x JOIN d USING (shingle) GROUP BY 1""",
    // k=5 shingles: inclusive DuckDB slice t[i:i+4]; the benchmark side
    // is every 13th doc, mirroring the Spark entry exactly
    "q38_decontaminate" ->
      """WITH bt AS (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 13 = 0),
bs AS (SELECT DISTINCT unnest(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
  i -> array_to_string(t[i:i+4], ' '))) AS shingle FROM bt),
dt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id % 13 <> 0),
ds AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
  i -> array_to_string(t[i:i+4], ' ')))) AS shingle FROM dt),
h AS (SELECT doc_id, count(*) AS n FROM ds JOIN bs USING (shingle) GROUP BY 1)
SELECT d.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hit_shingles,
CAST(CASE WHEN COALESCE(h.n, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 13 <> 0) d LEFT JOIN h USING (doc_id)""",
    // attribution pairs: both sides' shingles deduped per doc (the
    // shingleRows contract), joined, grouped by the pair
    "q51_contamination_pairs" ->
      """WITH bt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id % 13 = 0),
bs AS (SELECT doc_id AS bench_id,
  unnest(list_distinct(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
  i -> array_to_string(t[i:i+4], ' ')))) AS shingle FROM bt),
dt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id % 13 <> 0),
ds AS (SELECT doc_id,
  unnest(list_distinct(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
  i -> array_to_string(t[i:i+4], ' ')))) AS shingle FROM dt)
SELECT ds.doc_id, bs.bench_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
FROM ds JOIN bs USING (shingle) GROUP BY 1, 2""",
    // the groupBy-the-exploded-n-grams formulation: mode count == the
    // sorted-run length the Spark side computes row-locally
    "q39_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= 3),
bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
  i -> toks[i] || ' ' || toks[i+1])) AS g FROM t),
bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
bstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
  round(max(c) / sum(c), 4) AS top_bigram_frac FROM bc GROUP BY 1),
tg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
  i -> array_to_string(toks[i:i+2], ' '))) AS g FROM t),
tc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2),
tstat AS (SELECT doc_id,
  round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c), 4) AS dup_trigram_frac
  FROM tc GROUP BY 1)
SELECT doc_id, n_bigrams, top_bigram_frac, dup_trigram_frac
FROM bstat JOIN tstat USING (doc_id)""",
    // replays the single-window definition; the Spark side runs the
    // bucketed decomposition, which is exactly equal by construction
    "q40_token_budget_mix" ->
      """WITH t AS (SELECT doc_id, lang,
  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents),
c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY lang
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS cum_tokens FROM t)
SELECT doc_id, lang, n_tokens, cum_tokens FROM c
WHERE cum_tokens - n_tokens <
  CASE WHEN lang = 'en' THEN 20000 WHEN lang = 'de' THEN 8000 ELSE 3000 END""",
    // same doc_id-derived PII injection as withSyntheticPii, then the
    // same three regexes in the same replacement order ('g' = replace
    // all, matching Spark's regexp_replace); patterns stay in the
    // Java-regex/RE2 common dialect
    "q41_pii_scrub" ->
      """WITH inj AS (SELECT doc_id, text ||
  CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
    || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END ||
  CASE WHEN doc_id % 9 = 0 THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@ex.org' ELSE '' END ||
  CASE WHEN doc_id % 4 = 1 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
  CASE WHEN doc_id % 5 = 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
    || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END AS text
  FROM documents),
r AS (SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
  regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b\d{3}-\d{4}\b', '<PHONE>', 'g'),
    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted
  FROM inj)
SELECT doc_id, n_email, n_phone, n_ip, redacted,
  n_email + n_phone + n_ip AS pii_total,
  CAST(length(redacted) AS BIGINT) AS clean_len FROM r""",
    // precedence CASE mirrors the Spark `when` chain; the repetition
    // rule is the same integer comparison (mode-bigram count == longest
    // sorted run, the q39 equivalence); contamination = the q38 shingle
    // overlap as an id set
    "q42_filter_policy" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % 13 <> 0),
base AS (SELECT doc_id, lang, CAST(len(toks) AS INT) AS n_tokens FROM d),
bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
  i -> toks[i] || ' ' || toks[i+1])) AS g FROM d WHERE len(toks) >= 2),
bc AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS mx
  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1),
bt AS (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 13 = 0),
bs AS (SELECT DISTINCT unnest(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
  i -> array_to_string(t[i:i+4], ' '))) AS shingle FROM bt),
ds AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
  i -> array_to_string(toks[i:i+4], ' ')))) AS shingle FROM d),
cont AS (SELECT DISTINCT doc_id FROM ds JOIN bs USING (shingle)),
r AS (SELECT b.doc_id, b.lang, b.n_tokens,
  CASE WHEN b.lang NOT IN ('en', 'de') THEN 'lang'
       WHEN b.n_tokens < 20 THEN 'too_short'
       WHEN b.n_tokens > 90 THEN 'too_long'
       WHEN COALESCE(bc.mx, 0) * 12 > (b.n_tokens - 1) * 1 THEN 'repetitive'
       WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
       ELSE 'kept' END AS reason
  FROM base b LEFT JOIN bc USING (doc_id) LEFT JOIN cont ON b.doc_id = cont.doc_id)
SELECT doc_id, lang, n_tokens, reason,
  CAST(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END AS INT) AS keep FROM r""",
    // incremental dedup: same split (% 7), same digest, same first-match
    // precedence and min-doc_id within-delta survivor rule
    "q43_incremental_dedup" ->
      """WITH delta AS (SELECT doc_id, md5(text) AS dup_key
  FROM documents WHERE doc_id % 7 = 0),
hist AS (SELECT DISTINCT md5(text) AS dup_key
  FROM documents WHERE doc_id % 7 <> 0),
firsts AS (SELECT dup_key, min(doc_id) AS first_id FROM delta GROUP BY 1)
SELECT d.doc_id, d.dup_key,
  CASE WHEN h.dup_key IS NOT NULL THEN 'exact_dup_history'
       WHEN d.doc_id > f.first_id THEN 'exact_dup_delta'
       ELSE 'kept' END AS reason
FROM delta d JOIN firsts f USING (dup_key)
LEFT JOIN hist h ON d.dup_key = h.dup_key""",
    // incremental near-dup: delta band signatures (the q15 minhash CTE)
    // joined against the history's distinct (band, sig) store; matches
    // counted per doc. hb is DISTINCT so the left join cannot fan out.
    "q44_incremental_neardup" ->
      s"""$minhashCte,
ds AS (SELECT * FROM sigs WHERE doc_id % 7 = 0),
hb AS (SELECT DISTINCT band, sig FROM sigs WHERE doc_id % 7 <> 0),
j AS (SELECT ds.doc_id, CAST(count(hb.band) AS BIGINT) AS n_shared_bands
  FROM ds LEFT JOIN hb ON ds.band = hb.band AND ds.sig = hb.sig
  GROUP BY 1)
SELECT doc_id, n_shared_bands,
  CAST(CASE WHEN n_shared_bands >= 2 THEN 1 ELSE 0 END AS INT) AS near_dup
FROM j""",
    // paragraph dedup: chunk the token list directly (25-token
    // paragraphs — identical to withSyntheticParagraphs + re-split,
    // since the source text has no newlines), elect the global first
    // occurrence of each paragraph via row_number over (doc_id,
    // para_idx), and reassemble survivors in original order.
    "q45_paragraph_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
pi AS (SELECT doc_id, toks,
  unnest(generate_series(0, CAST(greatest(1, (len(toks) + 24) // 25) AS INT) - 1)) AS para_idx
  FROM t),
paras AS (SELECT doc_id, para_idx,
  array_to_string(list_slice(toks, para_idx * 25 + 1, para_idx * 25 + 25), ' ') AS para
  FROM pi),
flt AS (SELECT doc_id, para_idx, para,
  row_number() OVER (PARTITION BY para ORDER BY doc_id, para_idx) AS rn FROM paras)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_paras,
  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  coalesce(string_agg(CASE WHEN rn = 1 THEN para END, E'\n\n' ORDER BY para_idx), '')
    AS text_dedup
FROM flt GROUP BY doc_id""",
    // paragraph near-dup: the q45 paragraph synthesis feeds the q37
    // replay verbatim — packed ids (doc_id * 2^20 + para_idx), exact
    // collapse by md5, minhash band pairs over the distinct texts, the
    // shared recursive CC, members unpacked back to (doc_id, para_idx).
    "q52_paragraph_neardup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
pi AS (SELECT doc_id, toks,
  unnest(generate_series(0, CAST(greatest(1, (len(toks) + 24) // 25) AS INT) - 1)) AS para_idx
  FROM t),
pd AS (SELECT doc_id * 1048576 + para_idx AS doc_id,
  array_to_string(list_slice(toks, para_idx * 25 + 1, para_idx * 25 + 25), ' ') AS text
  FROM pi),
reps AS (SELECT md5(text) AS dup_key, min(doc_id) AS rep_id FROM pd GROUP BY 1),
rd AS (SELECT d.doc_id, d.text FROM pd d JOIN reps r ON r.rep_id = d.doc_id),
${minhashBodyOver("rd")},
prs AS (SELECT a.doc_id AS da, b.doc_id AS db
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 6),
raw AS (SELECT lpad(CAST(da AS VARCHAR), 19, '0') AS src,
               lpad(CAST(db AS VARCHAR), 19, '0') AS dst FROM prs),
e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
$ccLblCte
SELECT d.doc_id // 1048576 AS doc_id,
  CAST(d.doc_id % 1048576 AS INT) AS para_idx,
  COALESCE(CAST(l.comp AS BIGINT), r.rep_id) AS cluster_id
FROM pd d JOIN reps r ON md5(d.text) = r.dup_key
LEFT JOIN lbl l ON lpad(CAST(r.rep_id AS VARCHAR), 19, '0') = l.node""",
    // sequence packing: exclusive-prefix token offsets in (md5, doc_id)
    // order; each doc explodes into every 512-token shard its range
    // overlaps, with the span arithmetic replayed in BIGINT.
    "q46_sequence_pack" ->
      """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
  md5(CAST(doc_id AS VARCHAR)) AS ord FROM documents),
c AS (SELECT doc_id, n,
  CAST(sum(n) OVER (ORDER BY ord, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM d),
s AS (SELECT doc_id, cum - n AS strt, cum FROM c),
e AS (SELECT doc_id, strt, cum,
  unnest(generate_series(strt // 512, (cum - 1) // 512)) AS shard_id FROM s)
SELECT CAST(shard_id AS BIGINT) AS shard_id, doc_id,
  CAST(greatest(strt, shard_id * 512) - shard_id * 512 AS BIGINT) AS start_in_shard,
  CAST(least(cum, (shard_id + 1) * 512) - greatest(strt, shard_id * 512) AS BIGINT)
    AS span_tokens,
  CAST(greatest(strt, shard_id * 512) - strt AS BIGINT) AS doc_offset
FROM e""",
    // exact-substring dup signals: every 12-token window hashed, global
    // first occurrence elected via row_number over (doc_id, strt),
    // flagged later occurrences merged into maximal spans per doc via
    // the gaps-and-islands running max (prev_end can never exceed
    // strt + 12 because starts ascend, so the per-window contribution
    // is strt + 12 - greatest(strt, prev_end) — the same fold the
    // Spark side runs row-locally).
    "q48_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
w AS (SELECT doc_id, unnest(generate_series(0, CAST(len(toks) - 12 AS INT))) AS strt, toks
  FROM t WHERE len(toks) >= 12),
occ AS (SELECT doc_id, strt,
  md5(array_to_string(list_slice(toks, strt + 1, strt + 12), ' ')) AS h FROM w),
rn AS (SELECT doc_id, strt, row_number() OVER (PARTITION BY h ORDER BY doc_id, strt) AS r
  FROM occ),
f AS (SELECT doc_id, strt FROM rn WHERE r > 1),
m AS (SELECT doc_id, strt,
  max(strt + 12) OVER (PARTITION BY doc_id ORDER BY strt
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM f),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
  CAST(sum(strt + 12 - greatest(strt, coalesce(prev_end, strt))) AS BIGINT) AS dup_tokens
  FROM m GROUP BY 1)
SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
  CAST(coalesce(a.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
  CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
  round(coalesce(a.dup_tokens, 0) / len(string_split(d.text, ' ')), 4) AS dup_frac
FROM documents d LEFT JOIN agg a USING (doc_id)""",
    // removal plan APPLIED: same window hashing + keeper election as
    // q48, then each doc keeps the tokens no flagged [strt, strt+12)
    // window covers — covered indices materialized per flagged window
    // and anti-joined against the doc's token list, text rebuilt by
    // ordered string_agg (a fully-scrubbed doc reads '' via the outer
    // coalesce; docs shorter than 12 tokens pass through).
    "q49_dup_span_removal" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
w AS (SELECT doc_id, unnest(generate_series(0, CAST(len(toks) - 12 AS INT))) AS strt, toks
  FROM t WHERE len(toks) >= 12),
occ AS (SELECT doc_id, strt,
  md5(array_to_string(list_slice(toks, strt + 1, strt + 12), ' ')) AS h FROM w),
rn AS (SELECT doc_id, strt, row_number() OVER (PARTITION BY h ORDER BY doc_id, strt) AS r
  FROM occ),
f AS (SELECT doc_id, strt FROM rn WHERE r > 1),
cov AS (SELECT DISTINCT doc_id, strt + g.i AS idx
  FROM f CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS i) g),
tok AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) - 1 AS idx FROM t),
kept AS (SELECT tk.doc_id, tk.tok, tk.idx
  FROM tok tk LEFT JOIN cov c ON c.doc_id = tk.doc_id AND c.idx = tk.idx
  WHERE c.idx IS NULL),
re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text2,
  CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1)
SELECT d.doc_id, coalesce(re.text2, '') AS text,
  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
  CAST(len(string_split(d.text, ' ')) - coalesce(re.n_kept, 0) AS BIGINT) AS n_removed
FROM documents d LEFT JOIN re USING (doc_id)""",
    // incremental exact-substring signals: delta = doc_id % 7 = 0 (the
    // q43/q44 split); a delta window is flagged when its digest exists
    // among the history docs' windows (history always keeps) or an
    // earlier delta occurrence wins the (doc_id, strt) election; the
    // gaps-and-islands tail is the q48 replay over delta rows only.
    "q50_incremental_dup_spans" ->
      """WITH dd AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM dd),
w AS (SELECT doc_id, unnest(generate_series(0, CAST(len(toks) - 12 AS INT))) AS strt, toks
  FROM t WHERE len(toks) >= 12),
occ AS (SELECT doc_id, strt,
  md5(array_to_string(list_slice(toks, strt + 1, strt + 12), ' ')) AS h FROM w),
ht AS (SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 7 <> 0),
hw AS (SELECT unnest(generate_series(0, CAST(len(toks) - 12 AS INT))) AS strt, toks
  FROM ht WHERE len(toks) >= 12),
hh AS (SELECT DISTINCT md5(array_to_string(list_slice(toks, strt + 1, strt + 12), ' ')) AS h
  FROM hw),
rn AS (SELECT doc_id, strt, h, row_number() OVER (PARTITION BY h ORDER BY doc_id, strt) AS r
  FROM occ),
f AS (SELECT doc_id, strt FROM rn WHERE r > 1 OR h IN (SELECT h FROM hh)),
m AS (SELECT doc_id, strt,
  max(strt + 12) OVER (PARTITION BY doc_id ORDER BY strt
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM f),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
  CAST(sum(strt + 12 - greatest(strt, coalesce(prev_end, strt))) AS BIGINT) AS dup_tokens
  FROM m GROUP BY 1)
SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
  CAST(coalesce(a.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
  CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
  round(coalesce(a.dup_tokens, 0) / len(string_split(d.text, ' ')), 4) AS dup_frac
FROM dd d LEFT JOIN agg a USING (doc_id)""",
    // incremental embedding dedup: candidate pairs = the dumped delta
    // probes joined to the dumped history assignment on cell (each
    // history vector lives in exactly ONE cell, so a pair appears at
    // most once); cosine + rounding = the q18/q19 math; near_dup
    // null-guarded like the Spark side.
    "q47_incremental_ann" ->
      s"""WITH pr AS (SELECT vec_id, cell FROM ${dump("kg_ann_ivf_delta")} WHERE role = 'delta'),
hs AS (SELECT vec_id, cell FROM ${dump("kg_ann_ivf_delta")} WHERE role = 'hist'),
cand AS (SELECT pr.vec_id AS dvec, hs.vec_id AS hvec FROM pr JOIN hs USING (cell)),
e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
  generate_subscripts(embedding, 1) AS i FROM embeddings),
s AS (SELECT cd.dvec, cd.hvec,
  round(sum(a.x * b.x) / sqrt(sum(a.x * a.x) * sum(b.x * b.x)), 4) AS cs
  FROM cand cd JOIN e a ON a.vec_id = cd.dvec JOIN e b ON b.vec_id = cd.hvec AND a.i = b.i
  GROUP BY 1, 2),
g AS (SELECT dvec, CAST(count(*) AS BIGINT) AS n_candidates, max(cs) AS best_cos
  FROM s GROUP BY 1)
SELECT d.vec_id, CAST(coalesce(g.n_candidates, 0) AS BIGINT) AS n_candidates, g.best_cos,
  CAST(CASE WHEN g.best_cos >= 0.45 THEN 1 ELSE 0 END AS INT) AS near_dup
FROM (SELECT vec_id FROM embeddings WHERE vec_id % 5 = 0) d
LEFT JOIN g ON d.vec_id = g.dvec""",
    "q24_deterministic_sample" ->
      """SELECT doc_id, n_chars FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 20""",
    "q25_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
  < (CASE WHEN lang = 'en' THEN 60 WHEN lang = 'de' THEN 30 ELSE 10 END)""",
    "q26_neardup_clusters" ->
      s"""$minhashCte,
prs AS (SELECT a.doc_id AS da, b.doc_id AS db
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
raw AS (SELECT lpad(CAST(da AS VARCHAR), 19, '0') AS src,
               lpad(CAST(db AS VARCHAR), 19, '0') AS dst FROM prs),
e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
$ccLblCte
SELECT d.doc_id, COALESCE(CAST(l.comp AS BIGINT), d.doc_id) AS cluster_id
FROM documents d LEFT JOIN lbl l ON lpad(CAST(d.doc_id AS VARCHAR), 19, '0') = l.node""",
    // collapsed flow replay: reps = min doc per md5(text); the minhash
    // CTE runs over the representative docs only; members join back
    // through their dup_key and inherit the rep's component (rep_id
    // when the rep has no LSH cluster)
    "q37_neardup_collapsed" ->
      s"""WITH reps AS (SELECT md5(text) AS dup_key, min(doc_id) AS rep_id
  FROM documents GROUP BY 1),
rd AS (SELECT d.doc_id, d.text FROM documents d JOIN reps r ON r.rep_id = d.doc_id),
${minhashBodyOver("rd")},
prs AS (SELECT a.doc_id AS da, b.doc_id AS db
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
raw AS (SELECT lpad(CAST(da AS VARCHAR), 19, '0') AS src,
               lpad(CAST(db AS VARCHAR), 19, '0') AS dst FROM prs),
e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
$ccLblCte
SELECT d.doc_id, COALESCE(CAST(l.comp AS BIGINT), r.rep_id) AS cluster_id
FROM documents d JOIN reps r ON md5(d.text) = r.dup_key
LEFT JOIN lbl l ON lpad(CAST(r.rep_id AS VARCHAR), 19, '0') = l.node""",
    "q27_simhash_neardup" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM w),
v AS (SELECT doc_id, ${simhashVotesN(60)} FROM h GROUP BY doc_id),
s AS (SELECT doc_id, CAST(${simhashBitsN(60)} AS BIGINT) AS simhash FROM v)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
    "q33_pivot_counts" ->
      """SELECT lang,
CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS src0,
CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS src1,
CAST(sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS BIGINT) AS src2
FROM documents GROUP BY 1""",
    "q28_rollup_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY ROLLUP (lang, source)""",
    "q29_length_quantiles" ->
      """SELECT lang,
round(quantile_cont(n_chars, 0.5), 4) AS p50,
round(quantile_cont(n_chars, 0.9), 4) AS p90,
max(n_chars) AS p100
FROM documents GROUP BY 1""",
    "q36_frame_sample" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS nb FROM documents),
f AS (SELECT doc_id, hx,
  unnest(generate_series(0, CAST(least(4, greatest(1, nb // 32)) AS INT) - 1)) AS i
FROM m)
SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(i * 32 AS BIGINT) AS frame_offset,
md5(substr(hx, CAST(i * 64 + 1 AS INT), 64)) AS frame_hash
FROM f""",
    "q20_multimodal" ->
      """SELECT doc_id,
CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
CAST(16 + doc_id % 480 AS BIGINT) AS width,
CAST(16 + (doc_id * 7) % 360 AS BIGINT) AS height,
CAST(CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 45 END + doc_id % 32 AS BIGINT) AS payload_len,
true AS header_ok,
CASE WHEN doc_id % 2 = 0
  THEN upper(printf('%08x%08x', 16 + doc_id % 480, 16 + (doc_id * 7) % 360))
  ELSE upper(printf('%04x%04x', 16 + (doc_id * 7) % 360, 16 + doc_id % 480)) END AS dims_hex
FROM documents"""
  )
}
