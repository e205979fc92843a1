package graft.tools

import graft.core.DocRow
import graft.evaluate.Evaluator
import graft.ner._
import graft.pipeline.Pipeline
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Dev tool: honest CRF F1 on the reference corpus (train-fit, devel +
  * held-out test), for the BASELINE.md model table. Mirrors
  * DebugNerMargin's protocol.
  */
object DebugCrf {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def load(dir: String) = {
      val docs = Files.list(Paths.get(dir)).iterator().asScala.toSeq.sortBy(_.toString)
        .map(p => DocRow("r", p.toString, "0" * 40, "xml",
          new String(Files.readAllBytes(p), "UTF-8")))
      Pipeline.parse(spark, Pipeline.withSha(spark.createDataset(docs).toDF())).cache()
    }
    val train = load("/root/reference/data/train")
    val devel = load("/root/reference/data/devel")
    val test = load("/root/reference/data/test")

    val (gazMap, gazN) = Train.buildGazetteer(spark, train)
    // optional second NUMERIC arg: c2 override (measure-only sweeps; the
    // shipped default stays the reference's l2sgd c2=0.1 for A6 parity).
    // "FROZEN" (any position) runs ONLY the shipped driver-fit crf arm —
    // the regression-gate mode (tools/regression_gate.sh).
    val frozen = args.contains("FROZEN")
    val numeric = args.filter(_.matches("[0-9.]+"))
    val c2 = numeric.lift(1).map(_.toDouble).getOrElse(0.1)
    for (epochs <- numeric.headOption.map(e => Seq(e.toInt)).getOrElse(Seq(10, 30))) {
      val t0 = System.nanoTime()
      val params = Train.fitCrf(spark, train, c2 = c2, epochs = epochs)
      val fitSec = (System.nanoTime() - t0) / 1e9
      lazy val distParams = Train.fitCrfDistributed(
        spark, train, epochs = epochs, parts = 8)
      // iterative parameter mixing: same total epoch work, 6 mixing
      // rounds of epochs/6 local epochs each (McDonald et al. 2010)
      lazy val ipmParams = Train.fitCrfDistributed(
        spark, train, epochs = epochs, parts = 8, rounds = 6)
      val gs = new GazetteerScorer(gazMap, gazN)
      lazy val gazFeatParams = Train.fitCrf(spark, train, epochs = epochs, gazFeat = Some(gs))
      // c2 sweeps measure the plain-CRF arm only
      val variants =
        if (frozen) Seq("crf")
        else if (c2 == 0.1) Seq("crf", "gaz+crf", "crf_gazfeat", "crf_dist8", "crf_ipm6")
        else Seq("crf")
      for (variant <- variants) {
      val crf: MentionScorer = new CrfScorer(params)
      val scorer: MentionScorer = variant match {
        case "crf"         => crf
        case "gaz+crf"     => new MergeScorer(gs, crf)
        case "crf_gazfeat" => new CrfScorer(gazFeatParams, Some(gs))
        case "crf_dist8"   => new CrfScorer(distParams)
        case "crf_ipm6"    => new CrfScorer(ipmParams)
      }
      val b = spark.sparkContext.broadcast(scorer)
      def f1On(ds: org.apache.spark.sql.Dataset[graft.core.ParsedSentence]) = {
        val ms = Pipeline.mentions(spark, ds, b)
        val rows = Evaluator.evalRows(spark, Pipeline.goldNer(spark, ds), Pipeline.predNer(spark, ms))
        val c = rows.find(_.kind == "CLASS").get
        val n = rows.find(_.kind == "NOCLASS").get
        (c.p, c.r, c.f1, n.f1)
      }
      val (dp, dr, df, dn) = f1On(devel)
      val (xp, xr, xf, xn) = f1On(test)
      println(f"$variant epochs=$epochs fit=${fitSec}%.1fs devel P=$dp%.3f R=$dr%.3f F1=$df%.3f (untyped $dn%.3f) | test P=$xp%.3f R=$xr%.3f F1=$xf%.3f (untyped $xn%.3f)")
      }
    }
    spark.stop()
  }
}

/** Experimental merge: gazetteer authoritative where it fires, the other
  * scorer elsewhere with the same B/I-structure repair HybridScorer uses.
  */
final class MergeScorer(gaz: GazetteerScorer, other: MentionScorer) extends MentionScorer {
  def tagSentence(toks: IndexedSeq[graft.core.Tok]): IndexedSeq[String] = {
    val g = gaz.tagSentence(toks)
    val m = other.tagSentence(toks)
    val out = new Array[String](toks.length)
    var i = 0
    while (i < toks.length) {
      out(i) =
        if (g(i) != "O") g(i)
        else {
          val mi = m(i)
          if (mi.startsWith("B-")) mi
          else if (mi.startsWith("I-") && i > 0 &&
            (out(i - 1) == "B-" + mi.drop(2) || out(i - 1) == "I-" + mi.drop(2))) mi
          else "O"
        }
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
}
