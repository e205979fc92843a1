package graft.pipeline

import graft.TestSpark
import graft.fixtures.DocGen
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end run on the deterministic synthetic corpus (FIXTURES.md §4):
  * the BASELINE.json quality gate — NER and DDI P/R >= 0.95 on the
  * reference evaluator contract — plus the sha invariant and triple
  * materialization sanity.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val corpus = DocGen.corpus(spark, 300).cache()
  private lazy val sents = Pipeline.parse(spark, corpus).cache()
  private lazy val (train, evalSents) = {
    val (t, e) = DocGen.trainEval(sents)
    (t, e.cache())
  }
  private lazy val scored = Pipeline.score(spark, evalSents,
    spark.sparkContext.broadcast(Pipeline.fit(spark, train, "hybrid"))).cache()

  test("featureRowsIndexed: idx is emission order even for quote tokens (start = -1)") {
    import spark.implicits._
    // the W3 quirk: both quotes rewrite to ``/'' with start = -1, so
    // (sid, start) hoists them to the sentence front and scrambles
    // their relative order — idx must instead reproduce the exact
    // token emission order the feature chain was built in
    val s = graft.core.ParsedSentence("r", "d", "s0",
      "The \"loading dose\" of warfarin increased .", Nil, Nil)
    val rows = Pipeline.featureRowsIndexed(spark, spark.createDataset(Seq(s)))
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == rows.indices.toSeq, "idx must be dense 0..n-1")
    assert(rows.count(_._2.start == -1) == 2, "both rewritten quotes carry start = -1")
    // the prev/next feature chain agrees with idx order at every token
    // (this is exactly what the kg_feature_rows dump-replay oracle
    // reconstructs with lag/lead OVER (PARTITION BY sid ORDER BY idx))
    rows.indices.foreach { i =>
      val f = rows(i)._2.features
      if (i == 0) assert(f.contains("BoS"), s"token 0: $f")
      else assert(f.contains("formPrev=" + rows(i - 1)._2.form), s"token $i: $f")
      if (i == rows.length - 1) assert(f.contains("EoS"), s"last token: $f")
      else assert(f.contains("formNext=" + rows(i + 1)._2.form), s"token $i: $f")
    }
    // and a (sid, start) sort would NOT: the first start-ordered token
    // is a quote (start -1), whose features say it is mid-sentence
    val byStart = rows.sortBy(_._2.start)
    assert(byStart.head._2.start == -1 && !byStart.head._2.features.contains("BoS"),
      "start-order places a mid-sentence quote token first — the bug idx fixes")
  }

  test("sha256 invariant holds on the generated docs table") {
    assert(Pipeline.checkSha(corpus) == 0L)
    // and the column actually is the sha of content
    val row = corpus.select("content", "content_sha").head()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expect = md.digest(row.getString(0).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(row.getString(1) == expect)
    // null-safe: a null on one side is a violation, null on both is not
    import spark.implicits._
    val good = (row.getString(0), row.getString(1))
    def violations(rows: (String, String)*): Long =
      Pipeline.checkSha(rows.toDF("content", "content_sha"))
    assert(violations(good) == 0L)
    assert(violations((null, good._2)) == 1L, "content nulled after withSha")
    assert(violations((good._1 + " ", good._2)) == 1L, "tampered content")
    assert(violations((good._1, null)) == 1L, "missing content_sha")
    assert(violations((null, null)) == 0L, "null content with null sha is intact")
  }

  test("checkSha is one Spark job") {
    val n = corpus.count()
    val tampered = corpus.withColumn("content_sha", org.apache.spark.sql.functions.lit("x"))
    val (counts, jobs) = org.apache.spark.graft.ListenerDrain.jobsOf(spark.sparkContext)(
      (Pipeline.checkSha(corpus), Pipeline.checkSha(tampered)))
    assert(counts == ((0L, n)))
    assert(jobs == 2, s"two checkSha calls ran $jobs jobs")
  }


  test("corpus parses: sentences, entities, pairs all present") {
    import spark.implicits._
    assert(sents.count() > 500)
    val withEnts = sents.filter(_.entities.nonEmpty).count()
    assert(withEnts > 400)
    assert(sents.flatMap(_.pairs).count() > 100)
  }

  test("NER on synthetic corpus: typed P and R >= 0.95 (BASELINE gate)") {
    import spark.implicits._
    val rows = Pipeline.evaluateNER(spark, evalSents, scored.flatMap(_.mentions))
    val cls = rows.find(_.kind == "CLASS").get
    assert(cls.p >= 0.95, s"NER precision ${cls.p} < 0.95\n${graft.evaluate.Evaluator.statsTable(rows)}")
    assert(cls.r >= 0.95, s"NER recall ${cls.r} < 0.95\n${graft.evaluate.Evaluator.statsTable(rows)}")
  }

  test("DDI on synthetic corpus: typed P and R >= 0.95 (BASELINE gate)") {
    import spark.implicits._
    val rows = Pipeline.evaluateDDI(spark, evalSents, scored.flatMap(_.relations))
    val cls = rows.find(_.kind == "CLASS").get
    assert(cls.p >= 0.95, s"DDI precision ${cls.p} < 0.95\n${graft.evaluate.Evaluator.statsTable(rows)}")
    assert(cls.r >= 0.95, s"DDI recall ${cls.r} < 0.95\n${graft.evaluate.Evaluator.statsTable(rows)}")
  }

  test("triples: canonical subjects/objects, evaluator-parity keys intact") {
    import spark.implicits._
    val t = scored.flatMap(_.triples).cache()
    assert(t.count() == scored.flatMap(_.relations).count()) // every relation becomes one triple
    val interactionClasses = Set("mechanism", "effect", "advise", "int")
    assert(t.collect().forall(x => interactionClasses.contains(x.interactionPred)))
    // canonicalization lowercases and resolves variants
    assert(t.collect().forall(x => x.drugSubj == x.drugSubj.toLowerCase))
  }

  test("all-O floor: CustomModel-equivalent yields zero mentions (P=R=F1=0)") {
    import spark.implicits._
    val scorerB = spark.sparkContext.broadcast(graft.ner.AllOScorer: graft.ner.MentionScorer)
    val ms = Pipeline.mentions(spark, evalSents.limit(50), scorerB)
    assert(ms.count() == 0L)
  }

  test("mentions-only entry equals score's mentions (hybrid and CRF scorers)") {
    import spark.implicits._
    def key(m: graft.core.Mention) = (m.sid, m.start, m.end)
    for (name <- Seq("hybrid", "crf")) {
      val models = Pipeline.fit(spark, train, name)
      val scored = Pipeline.score(spark, evalSents, spark.sparkContext.broadcast(models))
        .flatMap(_.mentions).collect().sortBy(key).toSeq
      val ms = Pipeline.mentions(spark, evalSents, spark.sparkContext.broadcast(models.scorer))
        .collect().sortBy(key).toSeq
      assert(scored.nonEmpty, s"$name: no mentions on the eval split")
      assert(ms == scored, s"$name: mentions-only entry diverged from score")
    }
  }

  test("one tokenize-tag-decode loop: a single Decode.decode( call site in src/main") {
    // cwd = project base directory, as in DocsSyncSpec
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src", "main", "scala"))
    val sites =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
            .filter(_._1.contains("Decode.decode("))
            .map { case (_, i) => s"$p:${i + 1}" }
        }.toList
      finally walk.close()
    assert(sites.length == 1, s"expected one Decode.decode( call site, found: $sites")
  }

  test("quirk docs survive the full path (parse + tokenize + decode)") {
    import spark.implicits._
    val quirks = Pipeline.parse(
      spark,
      Pipeline.withSha(spark.createDataset(DocGen.quirkDocs).toDF()))
    assert(quirks.count() == 6L) // q2 has two sentences
    // the discontinuous entity kept its raw offset for the evaluator key
    val q0 = quirks.filter(_.sid == "DDI-Synth.q0.s0").head()
    assert(q0.entities.head.rawOffset == "0-3;5-18")
    assert(q0.entities.head.end == 3) // first-span truncation
  }
}
