package graft.tools

import graft.fixtures.DocGen
import graft.pipeline.Pipeline
import org.apache.spark.sql.SparkSession

/** Dev tool: print NER mismatches on the synthetic corpus. */
object DebugNer {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val corpus = DocGen.corpus(spark, 300).cache()
    val (train, ev) = DocGen.trainEval(Pipeline.parse(spark, corpus).cache())
    val evalSents = ev.cache()
    val models = spark.sparkContext.broadcast(Pipeline.fit(spark, train, "hybrid"))
    val mentions = Pipeline.score(spark, evalSents, models).flatMap(_.mentions)

    val gold = Pipeline.goldNer(spark, evalSents).collect().toSet
    val pred = Pipeline.predNer(spark, mentions).collect().toSet
    val fp = (pred -- gold).toSeq.sortBy(_._1)
    val fn = (gold -- pred).toSeq.sortBy(_._1)
    println(s"== FP (${fp.size}) ==")
    fp.take(40).foreach(println)
    println(s"== FN (${fn.size}) ==")
    fn.take(40).foreach(println)
    // show the sentences involved
    val badSids = (fp ++ fn).map(_._1.split("\\|")(0)).toSet
    val sentMap = evalSents.collect().map(s => s.sid -> s).toMap
    badSids.toSeq.sorted.take(15).foreach { sid =>
      val s = sentMap(sid)
      println(s"\n--- $sid: ${s.text}")
      s.entities.foreach(e => println(s"    gold: ${e.start}-${e.end} ${e.etype} '${e.text}'"))
    }
    spark.stop()
  }
}
