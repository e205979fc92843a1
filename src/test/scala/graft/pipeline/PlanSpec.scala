package graft.pipeline

import graft.TestSpark
import graft.SparkEntry
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions (SURVEY §4): the scale-critical
  * properties — filter/column pushdown into the parquet scan, broadcast
  * join selection, hash (not sort) aggregation, and the zero-shuffle
  * fused scoring pass — asserted on `.explain` output so a regression
  * that silently de-optimizes a plan fails the suite.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01: filter and column pruning pushed into the parquet scan") {
    val plan = planOf(SparkEntry.queries("q01_agg_pushdown")(spark, sf))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThan(l_quantity,5"), plan)
    // pruned read schema: only the 5 referenced columns, not all 11
    assert(plan.contains("l_returnflag"), plan)
    assert(!plan.contains("l_shipdate"), "unreferenced column not pruned:\n" + plan)
  }

  test("q02: small dimension side is broadcast, not shuffled") {
    val plan = planOf(SparkEntry.queries("q02_join_agg")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q01: aggregation is HashAggregate (not SortAggregate)") {
    val plan = planOf(SparkEntry.queries("q01_agg_pushdown")(spark, sf))
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("q15: typed md5 band-min pass plans with ZERO Exchange") {
    // round 8: a doc's shingles all live in its own text, so the band
    // minimums are computed row-locally (Dedup.md5BandMins) — the
    // former shingleRows → groupBy(doc_id) min aggregation and its
    // Exchange are gone. Any Exchange here means someone re-introduced
    // the corpus-wide signature shuffle.
    val plan = planOf(SparkEntry.queries("q15_minhash_sig")(spark, sf))
    assert(!plan.contains("Exchange"), "minhash signatures must not shuffle:\n" + plan)
  }

  test("nearDupClusters default edge path: window hub, no collect_list, no ObjectHashAggregate") {
    // the (hub, member) stars come from a window-min over the (band, sig)
    // bucket: one Exchange, constant-width rows, and the mega-bucket
    // observation on the same frame — a bucket-wide collect_list row (and
    // the ObjectHashAggregate that builds it) must not come back
    import spark.implicits._
    val d = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v")).toDF("doc_id", "text")
    val plan = planOf(graft.ops.Dedup.nearDupEdges(d, 8, 3, 1).toDF())
    assert(!plan.contains("collect_list"), plan)
    assert(!plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("Window") && plan.contains("CollectMetrics"), plan)
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
  }

  test("nearDupClusters evaluates the signature stream once per input row") {
    // md5 runs where the text is read: a counting UDF on `text` fires
    // once per row when the hub window and the edge rows share one
    // evaluation (the final doc_id join prunes the text column)
    val fired = spark.sparkContext.longAccumulator("neardup-text-rows")
    val touch = org.apache.spark.sql.functions.udf { (t: String) => fired.add(1); t }
    // spark.range, not a local Seq: the optimizer folds projections over
    // local relations on the driver, which would fire the UDF at planning
    import org.apache.spark.sql.functions.{concat_ws, lit}
    def word(m: Int) = concat_ws("", lit("w"), (col("id") % m).cast("string"))
    val d = spark.range(60).select(
      col("id").as("doc_id"),
      touch(concat_ws(" ", word(7), word(5), lit("common tail words"))).as("text"))
    val out = graft.ops.Dedup.nearDupClusters(spark, d).collect()
    assert(out.length == 60)
    assert(fired.value == 60L, s"text UDF fired ${fired.value} times for 60 rows")
  }

  test("nearDupClusters: duplicate doc_id rows give the clusters of the deduplicated input") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val rows = Seq(
      (4L, base), (9L, base), (6L, base + " iota"), (7L, "one two three four five six"),
      (8L, "one two three four five six"), (3L, "lone words nobody else uses here"), (1L, "x y"))
    // hubs (4, 7), members (9, 8), a singleton and a sub-k doc, each repeated
    val dup = rows ++ Seq(rows(0), rows(0), rows(1), rows(4), rows(5), rows(6))
    def clusters(rs: Seq[(Long, String)]) =
      graft.ops.Dedup.nearDupClusters(spark, spark.createDataFrame(rs).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val want = clusters(rows)
    assert(clusters(dup) == want)
    assert(want.toMap.apply(9L) == 4L && want.toMap.apply(8L) == 7L, s"vacuous fixture: $want")
  }

  private val nearDupText = "alpha beta gamma delta epsilon zeta eta theta"

  /** `rows`, and `rows` with doc 1 repeated as a second, identical row. */
  private def repeatedId(rows: (Long, String)*) = (rows, rows :+ rows.head)

  test("lshCandidates: a repeated doc_id row changes no pair") {
    def pairs(rs: Seq[(Long, String)], maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket) =
      graft.ops.Dedup.lshCandidates(spark.createDataFrame(rs).toDF("doc_id", "text"), maxBucket = maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val (rows, dup) = repeatedId((1L, nearDupText), (2L, nearDupText + " iota"),
      (3L, "one two three four five six seven"), (4L, "one two three four five six seven eight"))
    val want = pairs(rows)
    assert(want.contains((1L, 2L)) && want.contains((3L, 4L)), s"vacuous fixture: $want")
    // no (1, 1) self-pair, and doc 1's pairs keep their band support,
    // also where every bucket takes the mega-bucket path
    assert(pairs(dup) == want)
    assert(pairs(dup, maxBucket = 1) == pairs(rows, maxBucket = 1))
  }

  test("simhashNearDup: a repeated doc_id row changes no pair") {
    def pairs(rs: Seq[(Long, String)], maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket) =
      graft.ops.Dedup.simhashNearDup(spark.createDataFrame(rs).toDF("doc_id", "text"), maxBucket = maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // doc 2 is doc 1's tokens reversed: the same simhash
    val (rows, dup) = repeatedId((1L, nearDupText), (2L, nearDupText.split(" ").reverse.mkString(" ")),
      (3L, "one two three four five six seven"))
    val want = pairs(rows)
    assert(want == Set((1L, 2L, 0)), s"vacuous fixture: $want")
    assert(pairs(dup) == want, "no (1, 1, 0) self-pair")
    assert(pairs(dup, maxBucket = 1) == pairs(rows, maxBucket = 1), "no self-pair on the mega-bucket path")
  }

  test("fused scoring pass plans with zero Exchange (no shuffle)") {
    import spark.implicits._
    val corpus = graft.fixtures.DocGen.corpus(spark, 20)
    val sents = Pipeline.parse(spark, corpus)
    val models = spark.sparkContext.broadcast(
      Pipeline.fit(spark, sents, "gazetteer"))
    for (scored <- Seq(Pipeline.score(spark, sents, models), Pipeline.scoreDocs(spark, corpus, models))) {
      val plan = planOf(scored.toDF())
      assert(!plan.contains("Exchange"), "scoring pass should not shuffle:\n" + plan)
    }
  }

  test("q16: observe() guard metric adds no shuffle — exactly 2 Exchanges") {
    // the single-shuffle-per-stage budget of the LSH candidate pipeline:
    // (1) bucket groupBy, (2) final pair groupBy. The former signature
    // aggregation Exchange disappeared in round 8 (typed row-local band
    // minimums — see the q15 lock above). The round-4 CollectMetrics
    // (mega-bucket Observation) sits between (1) and the flatMap and
    // must never introduce another.
    val plan = planOf(SparkEntry.queries("q16_lsh_pairs")(spark, sf))
    val n = "Exchange".r.findAllIn(plan).length
    assert(plan.contains("CollectMetrics"), "guard metric missing from plan:\n" + plan)
    assert(n == 2, s"q16 expected exactly 2 Exchanges, got $n:\n$plan")
  }

  test("q19: query side of the ANN topk is broadcast") {
    val plan = planOf(SparkEntry.queries("q19_cosine_topk")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("q19/q18: similarity runs through the native cosine_sim expression") {
    val p19 = planOf(SparkEntry.queries("q19_cosine_topk")(spark, sf))
    assert(p19.contains("cosine_sim"), "q19 lost the native expression:\n" + p19)
    val p18 = planOf(SparkEntry.queries("q18_embed_neardup")(spark, sf))
    assert(p18.contains("cosine_sim"), "q18 lost the native expression:\n" + p18)
  }

  test("IVF probe join: corpus side has no per-row blow-up (no explode on corpus branch)") {
    // cell assignment must be a projection over the scan, not a join;
    // the only explode belongs to the (small) query side's nProbe cells
    val plan = planOf(SparkEntry.queries("kg_ann_ivf")(spark, sf))
    val explodes = "Generate explode".r.findAllIn(plan).length
    assert(explodes <= 1, s"expected at most 1 explode (query probes), got $explodes:\n" + plan)
  }

  test("q39: row-local repetition signals plan with ZERO Exchange") {
    // the whole point of the sorted-run formulation: n-grams, sort, and
    // run stats happen inside the row, so the operator is a pure
    // scan-stage map — any Exchange means someone re-introduced the
    // explode+groupBy form
    val plan = planOf(SparkEntry.queries("q39_repetition")(spark, sf))
    assert(!plan.contains("Exchange"), "repetition signals must not shuffle:\n" + plan)
  }

  test("q41: PII scrub plans with ZERO Exchange (pure scan-stage regex map)") {
    val plan = planOf(SparkEntry.queries("q41_pii_scrub")(spark, sf))
    assert(!plan.contains("Exchange"), "PII scrub must not shuffle:\n" + plan)
  }

  test("q38: benchmark shingle set is broadcast into the overlap join") {
    // the eval side is tiny by contract; a regression to a shuffled
    // sort-merge join would shuffle the full training-corpus shingle
    // stream at 100 TB
    val plan = planOf(SparkEntry.queries("q38_decontaminate")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "decontamination overlap join lost its broadcast:\n" + plan)
  }

  test("q42: policy signals stay row-local; contamination join is broadcast") {
    // the reason chain must not re-introduce a per-signal shuffle: the
    // only exchanges allowed are the contaminated-id distinct and its
    // join back, and the benchmark side must arrive by broadcast
    val plan = planOf(SparkEntry.queries("q42_filter_policy")(spark, sf))
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj == 2,
      s"q42 wants 2 broadcast joins (bench shingles in, contaminated ids back), got $bhj:\n$plan")
    // the big docs scan must never shuffle: the only shuffle exchanges
    // are the two distincts over small-by-contract sets (benchmark
    // shingles, contaminated ids)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 2, s"q42 expected exactly 2 shuffle Exchanges, got $shuffles:\n$plan")
  }

  test("q40: bucket-prefix totals are broadcast back; no single-partition global sort") {
    val plan = planOf(SparkEntry.queries("q40_token_budget_mix")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "bucket-prefix join lost its broadcast:\n" + plan)
    // the within-bucket windows must sort on (lang, bkt), never a
    // lang-only window over the full corpus (that is tokenBudgetMix,
    // the definition form, not the catalog's scale path)
    assert(plan.contains("bkt"), "bucketed decomposition missing from plan:\n" + plan)
  }

  test("kg_ann_clustered: bucket-KEYED join (never a nested-loop cross product)") {
    // the clustered ANN is the scale-path shape: probe fan-out on the
    // query side only, equi-join on the bucket key — a regression to
    // BroadcastNestedLoopJoin would be the quadratic plan the op exists
    // to avoid. Native cosine must survive the boost projection too.
    val plan = planOf(SparkEntry.queries("kg_ann_clustered")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "clustered ANN degraded to a nested-loop cross product:\n" + plan)
    assert(plan.contains("cosine_sim"), "native CosineSim missing from the clustered ANN plan")
  }

  test("kg_ann_ivf_all: cell-KEYED candidate join, native cosine, pinned pre-window exchange") {
    // the round-6 IVF tail engineering, regression-locked: candidates
    // must meet through the cell equi-join (a nested-loop product is
    // the quadratic plan IVF exists to avoid), scoring must stay on the
    // native codegen'd CosineSim, and the window must consume the
    // EXPLICIT user repartition on query_id (REPARTITION_BY_NUM) — the
    // window planning its own exchange off the cell-join output
    // measured +75% on the sf1 tail
    val plan = planOf(SparkEntry.queries("kg_ann_ivf_all")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "IVF candidate join degraded to a nested-loop cross product:\n" + plan)
    assert(plan.contains("cosine_sim"), "native CosineSim missing from the IVF plan:\n" + plan)
    assert(plan.contains("REPARTITION_BY_NUM"),
      "pre-window repartition on query_id lost:\n" + plan)
  }

  test("q46: packing prefix sum stays bucketed — broadcast prefix join, no global window sort") {
    val plan = planOf(SparkEntry.queries("q46_sequence_pack")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "bucket-prefix join lost its broadcast:\n" + plan)
    // the CORPUS window must be partitioned on bkt — packPlan (the
    // definition form) has an empty partition spec and plans the whole
    // corpus through one Exchange SinglePartition sort. The tiny
    // 256-row bucket-prefix window IS single-partition by design, so
    // assert on the window that carries n_tokens.
    assert(plan.contains("windowspecdefinition(bkt"),
      "corpus window lost its bucket partitioning:\n" + plan)
    assert(plan.contains("hashpartitioning(bkt"),
      "bucketed decomposition missing from plan:\n" + plan)
  }

  test("q45: paragraph keeper election is a partial-aggregated digest groupBy, no sort-based agg") {
    val plan = planOf(SparkEntry.queries("q45_paragraph_dedup")(spark, sf))
    // min(struct(doc_id, para_idx)) must stay in a mutable HashAggregate
    // buffer (map-side combine bounds the shuffle by distinct
    // paragraphs); a silent SortAggregate degradation re-sorts the full
    // exploded paragraph set per partition
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("SortAggregate"),
      "keeper election degraded to SortAggregate:\n" + plan)
  }
}
