package graft.pipeline

import graft.core.{FeatureRow, ParsedSentence}
import graft.ddi.{Perceptron, Relations}
import graft.kg.Canonicalize
import graft.ner._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The Spark-aggregation model fit that `Pipeline.fit`'s single pass
  * replaced, kept verbatim as the differential oracle: FitSpec asserts
  * that every model part the one-pass fit builds equals what these
  * bodies build. Gazetteer and MNB are Catalyst hash aggregations, the
  * DDI stream is its own tokenize-and-collect, and the canon map runs
  * through the distributed `Canonicalize.canonicalMap`. The former
  * `Pipeline.fit` resolved its scorer from these parts with
  * `MentionScorer.resolve`, the MNB over `Pipeline.featureRows`.
  */
object FitOracle {

  def fitMnbRaw(
      spark: SparkSession,
      examples: Dataset[(Seq[String], String)],
      minFreq: Long = 1L
  ): MnbParams = {
    import spark.implicits._

    // two actions (feature counts + class counts) read `examples`; the
    // checkpoint stops the upstream tokenize/featurize lineage running
    // twice per fit (tokenization is ~half the pass cost)
    val ex = examples.localCheckpoint()
    val pairs = ex
      .flatMap { case (fs, label) => fs.map(f => (f, label)) }
      .toDF("feat", "tag")

    val counts = pairs
      .groupBy($"feat", $"tag")
      .agg(count(lit(1)).as("c"))
      .groupBy($"feat")
      .agg(
        sum($"c").as("featTotal"),
        collect_list(struct($"tag", $"c")).as("perTag")
      )
      .filter($"featTotal" >= minFreq)
      .collect()

    val classCounts = ex
      .map(_._2)
      .toDF("tag")
      .groupBy($"tag")
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)

    val classes = classCounts.map(_._1)
    val idx = classes.zipWithIndex.toMap
    val nTotal = classCounts.map(_._2).sum.toDouble
    val logPrior = classCounts.map { case (_, n) => math.log(n / nTotal) }

    // total feature-occurrence mass per class (sum over all features of
    // count(f,c)) — with one-hot dict features this is (#dict entries)
    // summed over tokens of class c
    val totalPerClass = new Array[Double](classes.length)
    counts.foreach { r =>
      r.getSeq[org.apache.spark.sql.Row](2).foreach { tc =>
        totalPerClass(idx(tc.getString(0))) += tc.getLong(1).toDouble
      }
    }
    val vocabSize = counts.length.toDouble
    val defaultLog = totalPerClass.map(t => math.log(1.0 / (t + vocabSize)))

    val featLogProb = counts.map { r =>
      val feat = r.getString(0)
      val lp = defaultLog.clone()
      r.getSeq[org.apache.spark.sql.Row](2).foreach { tc =>
        val i = idx(tc.getString(0))
        lp(i) = math.log((tc.getLong(1) + 1.0) / (totalPerClass(i) + vocabSize))
      }
      feat -> lp
    }.toMap

    MnbParams(classes, logPrior, featLogProb, defaultLog)
  }

  def fitMnb(
      spark: SparkSession,
      rows: Dataset[FeatureRow],
      minFreq: Long = 1L
  ): MnbParams = {
    import spark.implicits._
    fitMnbRaw(
      spark,
      rows.map(r => (Features.toDict(r.features).map { case (k, v) => k + "=" + v }, r.tag)),
      minFreq
    )
  }

  def buildGazetteer(
      spark: SparkSession,
      sents: Dataset[ParsedSentence]
  ): (Map[String, String], Int) = {
    import spark.implicits._
    val surfaces = sents
      .flatMap(s => s.entities.map(e => (e.text.toLowerCase(java.util.Locale.ROOT), e.etype)))
      .toDF("surface", "etype")
      .groupBy($"surface", $"etype")
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))

    val gaz = surfaces
      .groupBy(_._1)
      .map { case (surface, variants) =>
        val best = variants.minBy { case (_, t, c) => (-c, t) }
        surface -> best._2
      }
    val maxN =
      if (gaz.isEmpty) 1
      else gaz.keys.map(_.count(_ == ' ') + 1).max
    (gaz, maxN)
  }

  def fitDdi(spark: SparkSession, sents: Dataset[ParsedSentence]): Perceptron.PerceptronParams = {
    import spark.implicits._
    val ex = Relations.examples(spark, sents)
      .map(e => (e.sid, e.e1, e.e2, e.feats, e.label))
      .collect()
      .sortBy(x => (x._1, x._2, x._3))
      .map(x => (x._4: Seq[String], x._5))
    Perceptron.fit(ex.toIndexedSeq)
  }

  def canon(spark: SparkSession, train: Dataset[ParsedSentence]): Map[String, String] = {
    import spark.implicits._
    Canonicalize
      .canonicalMap(spark, train.flatMap(s => s.entities.map(_.text)))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
  }
}
