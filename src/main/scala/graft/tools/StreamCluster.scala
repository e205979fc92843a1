package graft.tools

import graft.core.Triple
import graft.fixtures.DocGen
import graft.io.Resume
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Structured-Streaming KG pipeline on the REAL standalone cluster
  * (driven by tools/stream_cluster.sh): file source →
  * [[Pipeline.scoreDocs]], which checks each row's content sha →
  * foreachBatch + [[Resume.writeResumable]] manifest sink. The harness
  * SIGKILLs the driver mid-stream and re-submits; the checkpoint plus
  * the manifest contract must deliver exactly-once per repo — the same
  * scenario StreamOpsSpec proves locally, here on real executors
  * (where the round-3 foreachBatch overwrite bug only manifested).
  * StreamClusterSpec runs the same `run` mode in a `local[2]` child JVM,
  * SIGKILLs it after 3 batches and reruns it.
  *
  * Modes:
  *   prep <srcDir> <expectedJson> <nDocs>  — write ONE parquet file per
  *     repo + the batch pipeline's expected triple counts (ground truth)
  *   run <srcDir> <table> <ckpt> <expectedCores>  — stream everything
  *     currently in srcDir into the resumable table, drain, report
  */
object StreamCluster {

  /** The models both modes score with: a hybrid fit on 500 DocGen docs (seed 7). */
  private[graft] def mkModels(spark: SparkSession) = {
    val train = Pipeline.parse(spark, DocGen.corpus(spark, 500, seed = 7L)).cache()
    train.count()
    val m = spark.sparkContext.broadcast(Pipeline.fit(spark, train, "hybrid"))
    train.unpersist()
    m
  }

  /** Writes `corpus` as ONE parquet file per repo into `srcDir`, so that
    * each micro-batch of a one-file trigger is one repo's commit unit.
    */
  private[graft] def writeRepoFiles(corpus: DataFrame, repos: Seq[String], srcDir: String): Unit = {
    Files.createDirectories(Paths.get(srcDir))
    repos.foreach { r =>
      val tmp = Files.createTempDirectory("prep")
      corpus.filter(col("repo") === r).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp) // close it: it holds a directory fd
      val part = try listing.iterator().asScala.find(_.toString.endsWith(".parquet")) finally listing.close()
      require(part.isDefined, s"no parquet part written for repo $r")
      Files.move(part.get, Paths.get(srcDir, java.net.URLEncoder.encode(r, "UTF-8") + ".parquet"))
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val spark = SparkSession.builder()
      .appName(s"graft-stream-cluster-$mode")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    mode match {
      case "prep" =>
        val Array(_, srcDir, expectedJson, nDocsS) = args
        val nDocs = nDocsS.toLong
        val corpus = DocGen.corpus(spark, nDocs, seed = 42L).cache()
        val models = mkModels(spark)
        val expected = Pipeline.scoreDocs(spark, corpus, models)
          .flatMap(_.triples).groupBy(col("repo")).count()
          .as[(String, Long)].collect().sortBy(_._1)
        val repos = expected.map(_._1)
        writeRepoFiles(corpus, repos.toSeq, srcDir)
        val total = expected.map(_._2).sum
        val body = expected.map { case (r, n) => s"${Resume.jsonStr(r)}:$n" }.mkString("{", ",", "}")
        Files.writeString(Paths.get(expectedJson),
          s"""{"total":$total,"per_repo":$body}""")
        println(s"""{"prep_repos":${repos.length},"expected_triples":$total}""")

      case "run" =>
        val Array(_, srcDir, table, ckpt, coresS) = args
        val expectCores = coresS.toInt
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (spark.sparkContext.defaultParallelism < expectCores &&
               System.nanoTime() < deadline) Thread.sleep(500)
        require(spark.sparkContext.defaultParallelism >= expectCores,
          s"only ${spark.sparkContext.defaultParallelism} cores registered")
        val models = mkModels(spark)
        val schema = DocGen.corpus(spark, 1).schema
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
        val q = Pipeline.scoreDocs(spark, src, models)
          .flatMap(_.triples)
          .writeStream
          .foreachBatch { (b: Dataset[Triple], id: Long) =>
            val commits = Resume.writeResumable(spark, b, table)
            println(s"BATCH $id repos=${commits.map(_.repo).mkString(",")}")
            System.out.flush()
          }
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        q.stop()
        val back = Resume.read(spark, table)
        val n = back.count()
        val repos = back.map(_.repo).distinct().count()
        println(s"""{"triples_in_table":$n,"repos_in_table":$repos,"committed":${Resume.committedRepos(table).size}}""")
    }
    spark.stop()
  }
}
