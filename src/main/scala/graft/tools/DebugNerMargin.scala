package graft.tools

import graft.core.DocRow
import graft.evaluate.Evaluator
import graft.ner._
import graft.pipeline.Pipeline
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Dev tool: grid the hybrid scorer's MNB-merge margin on the reference
  * corpus (devel for tuning, test held out).
  */
object DebugNerMargin {
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
    val nerParams = Train.fitMnb(spark, Pipeline.featureRows(spark, train))

    for (margin <- Seq(0.0, 2.0, 4.0, 6.0, 8.0, 12.0, Double.PositiveInfinity)) {
      val scorer: MentionScorer =
        new HybridScorer(new GazetteerScorer(gazMap, gazN), new MnbScorer(nerParams), margin)
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
      println(f"margin=$margin%.1f devel P=$dp%.3f R=$dr%.3f F1=$df%.3f (untyped $dn%.3f) | test P=$xp%.3f R=$xr%.3f F1=$xf%.3f (untyped $xn%.3f)")
    }
    spark.stop()
  }
}
