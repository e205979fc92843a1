package graft.tools

import graft.evaluate.Evaluator
import graft.fixtures.DocGen
import graft.ner.Decode
import graft.pipeline.Pipeline
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** End-to-end cross-engine verification harness.
  *
  * Runs the full pipeline on the synthetic corpus, then materializes
  * everything in the REFERENCE's own file formats (gold XML dir,
  * `sid|s-e|text|type` NER lines, `sid|e1|e2|type` DDI lines) under
  * `outDir`, and prints our Scala evaluator's tables. A driver can then
  * run /root/reference/ml/evaluator.py on the same files and diff the
  * tables byte-for-byte.
  *
  * Usage: runMain graft.tools.VerifyE2E <outDir> [nDocs]
  */
object VerifyE2E {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(if (args.nonEmpty) args(0) else "/tmp/graft-e2e")
    val nDocs = if (args.length > 1) args(1).toLong else 300L
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val corpus = DocGen.corpus(spark, nDocs).cache()
    println(s"sha-invariant violations: ${Pipeline.checkSha(corpus)}")

    val (train, ev) = DocGen.trainEval(Pipeline.parse(spark, corpus).cache())
    val evalSents = ev.cache()
    val models = spark.sparkContext.broadcast(Pipeline.fit(spark, train, "hybrid"))
    val scored = Pipeline.score(spark, evalSents, models).cache()
    val (mentions, rels, trips) =
      (scored.flatMap(_.mentions), scored.flatMap(_.relations), scored.flatMap(_.triples))

    // gold dir: one XML file per eval doc (reference evaluator reads a dir)
    val goldDir = outDir.resolve("gold")
    Files.createDirectories(goldDir)
    val evalDocIds = evalSents.map(_.docId).distinct().collect().toSet
    corpus.select("path", "content").collect().foreach { r =>
      val content = r.getString(1)
      // doc id appears in content; cheap membership check via path index
      val id = content.split("document id=\"", 2)(1).split("\"")(0)
      if (evalDocIds.contains(id))
        Files.write(goldDir.resolve(id + ".xml"), content.getBytes("UTF-8"))
    }

    val nerLines = mentions.collect().map(Decode.formatLine).sorted
    Files.write(outDir.resolve("ner.out"), nerLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val ddiLines = rels.collect().map(x => s"${x.sid}|${x.e1}|${x.e2}|${x.dtype}").sorted
    Files.write(outDir.resolve("ddi.out"), ddiLines.mkString("", "\n", "\n").getBytes("UTF-8"))

    val nerTable = Evaluator.statsTable(Pipeline.evaluateNER(spark, evalSents, mentions))
    val ddiTable = Evaluator.statsTable(Pipeline.evaluateDDI(spark, evalSents, rels))
    Files.write(outDir.resolve("ner.scala.stats"), nerTable.getBytes("UTF-8"))
    Files.write(outDir.resolve("ddi.scala.stats"), ddiTable.getBytes("UTF-8"))
    println("== NER (scala evaluator) ==")
    print(nerTable)
    println("== DDI (scala evaluator) ==")
    print(ddiTable)
    println(s"triples: ${trips.count()}, sample: ${trips.take(3).mkString("; ")}")
    println(s"wrote ${outDir}")
    spark.stop()
  }
}
