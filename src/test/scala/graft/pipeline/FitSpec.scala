package graft.pipeline

import graft.TestSpark
import graft.core.{DocRow, ParsedSentence}
import graft.ddi.{Perceptron, Relations}
import graft.fixtures.DocGen
import graft.kg.Canonicalize
import graft.ner._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass `Pipeline.fit` and the `Train`/`Relations` fit wrappers
  * build models bit-identical to [[FitOracle]], the Spark-aggregation
  * bodies they replaced, and a `hybrid` fit is one Spark job.
  */
class FitSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def parsed(docs: DataFrame): Dataset[ParsedSentence] =
    Pipeline.parse(spark, docs).repartition(3).cache()

  private def rows(rs: DocRow*): DataFrame = {
    import spark.implicits._
    Pipeline.withSha(spark.createDataset(rs).toDF())
  }

  /** Training tables. DocGen corpora carry the quirk docs. `dups`
    * repeats doc rows, and its seed-46 docs reuse seed-45 doc ids with
    * other text, so (sid, e1, e2) keys repeat with different examples
    * and the stable sort's tie order shows. `dirty` adds empty, null,
    * truncated and non-XML rows.
    */
  private lazy val tables: Seq[(String, Dataset[ParsedSentence])] = {
    import spark.implicits._
    val d45 = DocGen.corpus(spark, 40, seed = 45L)
    val truncated = DocGen.docXml(47L, 999L).take(300)
    Seq(
      "seed 43" -> parsed(DocGen.corpus(spark, 40, seed = 43L)),
      "seed 44" -> parsed(DocGen.corpus(spark, 60, seed = 44L)),
      "dups" -> parsed(d45.union(d45.limit(12)).union(DocGen.corpus(spark, 15, seed = 46L))),
      "dirty" -> parsed(DocGen.corpus(spark, 30, seed = 47L).union(rows(
        DocRow("r0", "e.xml", "c0", "xml", ""),
        DocRow("r1", "n.xml", "c1", "xml", null),
        DocRow("r2", "t.xml", "c2", "xml", truncated),
        DocRow("r3", "x.xml", "c3", "xml", "not xml at all")))),
      "empty" -> spark.emptyDataset[ParsedSentence]
    )
  }

  private def bits(a: Array[Double]): Seq[Long] = a.toSeq.map(java.lang.Double.doubleToLongBits)

  private def assertSameRows(
      a: Map[String, Array[Double]],
      b: Map[String, Array[Double]],
      what: String
  ): Unit = {
    assert((a.keySet -- b.keySet, b.keySet -- a.keySet) == (Set.empty, Set.empty), s"$what: keys")
    a.foreach { case (k, v) => assert(bits(v) == bits(b(k)), s"$what: row $k differs") }
  }

  private def assertSameMnb(a: MnbParams, b: MnbParams, what: String): Unit = {
    assert(a.classes.toSeq == b.classes.toSeq, s"$what: classes")
    assert(bits(a.logPrior) == bits(b.logPrior), s"$what: logPrior")
    assert(bits(a.defaultLog) == bits(b.defaultLog), s"$what: defaultLog")
    assertSameRows(a.featLogProb, b.featLogProb, s"$what: featLogProb")
  }

  private def assertSameDdi(a: Perceptron.PerceptronParams, b: Perceptron.PerceptronParams,
      what: String): Unit = {
    assert(a.classes.toSeq == b.classes.toSeq, s"$what: ddi classes")
    assertSameRows(a.weights, b.weights, s"$what: ddi weights")
  }

  private def assertSameScorer(a: MentionScorer, b: MentionScorer, what: String): Unit =
    (a, b) match {
      case (x: HybridScorer, y: HybridScorer) =>
        assertSameScorer(x.gaz, y.gaz, what)
        assertSameScorer(x.mnb, y.mnb, what)
      case (x: GazetteerScorer, y: GazetteerScorer) =>
        assert(x.gaz == y.gaz && x.maxN == y.maxN, s"$what: gazetteer")
      case (x: MnbScorer, y: MnbScorer) => assertSameMnb(x.params, y.params, what)
      case (x: CrfScorer, y: CrfScorer) =>
        assert(x.params.labels.toSeq == y.params.labels.toSeq, s"$what: crf labels")
        assertSameRows(x.params.state, y.params.state, s"$what: crf state")
        assert(x.params.trans.toSeq.map(bits) == y.params.trans.toSeq.map(bits), s"$what: crf trans")
      case (AllOScorer, AllOScorer) =>
      case _ => fail(s"$what: scorer kinds differ: $a vs $b")
    }

  test("Pipeline.fit == FitOracle for every scorer, mnbMinFreq 1 and 2, on every training table") {
    for ((table, train) <- tables) {
      val (gaz, gazN) = FitOracle.buildGazetteer(spark, train)
      val rows = Pipeline.featureRows(spark, train)
      val mnb = Map(1L -> FitOracle.fitMnb(spark, rows, 1L), 2L -> FitOracle.fitMnb(spark, rows, 2L))
      val ddi = FitOracle.fitDdi(spark, train)
      val canon = FitOracle.canon(spark, train)
      lazy val crf = Train.fitCrf(spark, train)
      val cases = Seq("hybrid" -> 1L, "hybrid" -> 2L, "mnb" -> 1L, "mnb" -> 2L,
        "gazetteer" -> 1L, "custom" -> 1L, "crf" -> 1L)
      for ((name, minFreq) <- cases) {
        val what = s"$table/$name/minFreq=$minFreq"
        val m = Pipeline.fit(spark, train, name, minFreq)
        assertSameScorer(m.scorer, MentionScorer.resolve(name, gaz, gazN, mnb(minFreq), crf), what)
        assertSameDdi(m.ddi.asInstanceOf[Perceptron.PerceptronParams], ddi, what)
        assert(m.canon == canon, s"$what: canon")
      }
      if (table != "empty") assert(canon.nonEmpty && ddi.weights.nonEmpty && gaz.nonEmpty, table)
    }
  }

  test("Train and Relations fit wrappers == FitOracle on every training table") {
    for ((table, train) <- tables) {
      assert(Train.buildGazetteer(spark, train) == FitOracle.buildGazetteer(spark, train), table)
      val rows = Pipeline.featureRows(spark, train)
      for (f <- Seq(1L, 2L))
        assertSameMnb(Train.fitMnb(spark, rows, f), FitOracle.fitMnb(spark, rows, f), s"$table/$f")
      assertSameDdi(Relations.fit(spark, train), FitOracle.fitDdi(spark, train), table)
    }
  }

  test("fitMnbRaw == FitOracle.fitMnbRaw on generic examples") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val feats = Vector("a", "b", "c", "x=1", "x=2", "\u00e9", "\uD83D\uDE00", "")
    val generic = (0 until 400).map { _ =>
      // repeated features within one bag count with multiplicity; some bags are empty
      val bag = Seq.fill(rnd.nextInt(6))(feats(rnd.nextInt(feats.length)))
      (bag, Seq("B", "I", "O", "")(rnd.nextInt(4)))
    }
    for ((what, ex) <- Seq("generic" -> generic, "one class" -> generic.map(_.copy(_2 = "O")),
        "empty" -> Seq.empty[(Seq[String], String)])) {
      val ds = spark.createDataset(ex).repartition(3).cache()
      for (f <- Seq(1L, 2L, 5L))
        assertSameMnb(Train.fitMnbRaw(spark, ds, f), FitOracle.fitMnbRaw(spark, ds, f), s"$what/$f")
    }
  }

  test("canonicalMapLocal == canonicalMap, canonical in Spark SQL string order") {
    import spark.implicits._
    // each pair squashes to one variant; UTF-16 and UTF-8 order disagree
    // between U+FFFD / U+E000 and an astral character
    val surfaces = Seq("a\uFFFD", "a\uD83D\uDE00", "x\uE000y", "x\uD83D\uDE00y",
      "Beta-Blockers", "beta blockers", "beta blocker", "Warfarin", "warfarin", " warfarin ",
      "v:x", "(alone)", "")
    val distributed = Canonicalize.canonicalMap(spark, spark.createDataset(surfaces))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val local = Canonicalize.canonicalMapLocal(surfaces)
    assert(local == distributed)
    assert(local("a\uD83D\uDE00") == "a\uFFFD")
  }

  test("a hybrid Pipeline.fit on a cached training set runs one Spark job") {
    val train = tables.head._2
    train.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Pipeline.fit(spark, train, "hybrid")
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
      assert(jobs.get == 1, s"hybrid fit ran ${jobs.get} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
