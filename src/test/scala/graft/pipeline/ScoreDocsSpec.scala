package graft.pipeline

import graft.TestSpark
import graft.core.Triple
import graft.fixtures.DocGen
import graft.io.Resume
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The KG pass's one entry, `Pipeline.scoreDocs`: the same results as
  * `score(parse(docs))`, a sha check that fails the pass (batch commit
  * and stream micro-batch alike) before anything is published, and the
  * pinned behavior of a duplicated doc row.
  */
class ScoreDocsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val models = spark.sparkContext.broadcast(
    Pipeline.fit(spark, Pipeline.parse(spark, DocGen.corpus(spark, 120, seed = 7L)), "hybrid"))

  private lazy val docs = DocGen.corpus(spark, 40, seed = 11L, nRepos = 3).cache()

  private def triplesOf(d: DataFrame) =
    Pipeline.scoreDocs(spark, d, models).flatMap(_.triples)(org.apache.spark.sql.Encoders.product[Triple])

  /** `repo=` directories and manifests in `table` (empty if it does not exist). */
  private def published(table: String): Seq[String] =
    Seq(Paths.get(table), Paths.get(table, "_graft_commits")).filter(Files.isDirectory(_)).flatMap { d =>
      val ls = Files.list(d)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("repo=") || n.endsWith(".json")).toVector
      finally ls.close()
    }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** `docs` with one row's content or content_sha changed after withSha. */
  private lazy val victim = docs.orderBy("path").select("repo", "path").head()
  private def tampered(column: String): DataFrame =
    docs.withColumn(column,
      when(col("path") === victim.getString(1), concat(col(column), lit(" "))).otherwise(col(column)))

  private def newTable(): String = Files.createTempDirectory("score-docs").resolve("triples").toString

  test("scoreDocs equals score(parse(docs)) on DocGen seeds, quirk docs included") {
    import spark.implicits._
    for (seed <- Seq(42L, 5L)) {
      val d = DocGen.corpus(spark, 60, seed = seed)
      def rows(ds: org.apache.spark.sql.Dataset[Pipeline.SentenceResult]) =
        ds.collect().map(r => (r.repo, r.docId, r.sid, r.mentions.toList, r.triples.toList)).sortBy(_._3).toSeq
      val want = rows(Pipeline.score(spark, Pipeline.parse(spark, d), models))
      val got = rows(Pipeline.scoreDocs(spark, d, models))
      assert(got == want, s"seed $seed")
      assert(want.exists(_._2.startsWith("DDI-Synth.q")), s"seed $seed: no quirk doc scored")
      assert(want.exists(_._5.nonEmpty), s"seed $seed: vacuous fixture, no triples")
    }
  }

  test("a tampered content or content_sha row fails a batch commit and publishes nothing") {
    for (column <- Seq("content", "content_sha")) {
      val table = newTable()
      // several tasks stage files in the failing job
      val trips = triplesOf(tampered(column))
      assert(trips.rdd.getNumPartitions >= 4, s"${trips.rdd.getNumPartitions} partitions")
      val e = intercept[Exception](Resume.writeResumable(spark, trips, table))
      val msg = messages(e)
      assert(msg.contains(s"content_sha mismatch: repo ${victim.getString(0)}, path ${victim.getString(1)}"),
        s"$column: $msg")
      assert(published(table).isEmpty, s"$column: published ${published(table)}")
    }
    // the untampered docs commit: the failure above is the sha check's
    val table = newTable()
    assert(Resume.writeResumable(spark, triplesOf(docs), table).nonEmpty && published(table).nonEmpty)
  }

  test("a tampered row fails a stream micro-batch and publishes nothing") {
    val base = Files.createTempDirectory("score-docs-stream")
    val src = base.resolve("src").toString
    val table = base.resolve("triples").toString
    tampered("content").coalesce(1).write.parquet(src)
    val q = StreamOps.scoreStream(spark, spark.readStream.schema(docs.schema).parquet(src), models)
      .flatMap(_.triples)(org.apache.spark.sql.Encoders.product[Triple])
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Triple], _: Long) =>
        Resume.writeResumable(spark, b, table); ()
      }
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    val e = intercept[Exception](try q.processAllAvailable() finally q.stop())
    assert(messages(e).contains(s"repo ${victim.getString(0)}, path ${victim.getString(1)}"), messages(e))
    assert(published(table).isEmpty, s"published ${published(table)}")
  }

  test("a duplicated doc row is committed twice: its triples and the manifest rows count both copies") {
    import spark.implicits._
    val docId = Pipeline.scoreDocs(spark, docs, models).filter(_.triples.nonEmpty).head().docId
    val row = docs.filter(col("content").contains(s"""<document id="$docId""""))
    val repo = row.select("repo").as[String].head()
    val own = triplesOf(row).collect().toSeq
    assert(own.nonEmpty, s"doc $docId scored no triples")

    def commit(d: DataFrame) = {
      val table = newTable()
      val c = Resume.writeResumable(spark, triplesOf(d), table).find(_.repo == repo).get
      (c, Resume.read(spark, table).filter(_.repo == repo).collect().toSeq)
    }
    val (once, onceRows) = commit(docs)
    val (twice, twiceRows) = commit(docs.union(row))
    assert(twice.rows == once.rows + own.length, s"manifest rows ${twice.rows} vs ${once.rows} + ${own.length}")
    assert(twice.distinctSubj == once.distinctSubj)
    assert(twiceRows.sortBy(_.toString) == (onceRows ++ own).sortBy(_.toString),
      "the duplicated doc's triples are in the table twice, everything else once")
  }
}
