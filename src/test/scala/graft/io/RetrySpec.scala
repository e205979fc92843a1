package graft.io

import graft.core.Tok
import graft.fixtures.DocGen
import graft.ner.MentionScorer
import graft.pipeline.Pipeline
import org.apache.spark.TaskContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, SparkPlugin}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Counts injected task failures; tasks run in the test JVM (local mode). */
object RetrySpec {
  val scoringFailures = new AtomicInteger
  val writeFailures = new AtomicInteger
  @volatile var failWrites = false
  /** The table the current commit writes. */
  @volatile var table: String = _

  /** Whether task attempt `tid` staged a parquet file for `table`. */
  def staged(tid: Long): Boolean = {
    val root = Paths.get(table, "_graft_staging")
    Files.isDirectory(root) && {
      val walk = Files.walk(root)
      try walk.iterator().asScala.exists { p =>
        p.toString.endsWith(".parquet") && p.iterator().asScala.exists(_.toString.endsWith(s"-$tid"))
      } finally walk.close()
    }
  }

  /** Fails the first attempt of partition 0 once it has tagged a sentence. */
  final class FailingScorer(inner: MentionScorer) extends MentionScorer {
    def tagSentence(toks: IndexedSeq[Tok]): IndexedSeq[String] = {
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() == 0) {
        scoringFailures.incrementAndGet()
        throw new RuntimeException("injected scoring failure")
      }
      inner.tagSentence(toks)
    }
  }
}

/** Executor plugin of the retry spec's session: while `failWrites` is
  * set, every first task attempt that staged a commit file fails as it
  * ends, after its files are written and its counters computed.
  */
final class FailStagedWrites extends SparkPlugin {
  def driverPlugin(): DriverPlugin = null
  def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    override def onTaskStart(): Unit = {
      val tc = TaskContext.get()
      if (RetrySpec.failWrites && tc != null && tc.attemptNumber() == 0)
        tc.addTaskCompletionListener[Unit] { ctx =>
          if (RetrySpec.staged(ctx.taskAttemptId())) {
            RetrySpec.writeFailures.incrementAndGet()
            throw new RuntimeException("injected write failure")
          }
        }
    }
  }
}

/** Exactly-once commit counters under task retries: its own
  * `local[4,3]` session (each task may run up to 3 times), so it runs in
  * its own forked JVM (build.sbt `Test / testGrouping`). One injected
  * first-attempt failure in the scoring map, then first-attempt failures
  * in the write stage, must leave the commits, the manifest bodies, the
  * committed table and its part files per repo equal to the no-failure
  * run, whose repos span several tasks.
  */
class RetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4,3]")
      .appName("graft-retry-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.plugins", classOf[FailStagedWrites].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private lazy val models = Pipeline.fit(spark, Pipeline.parse(spark, DocGen.corpus(spark, 120, seed = 7L)))
  private lazy val docs = DocGen.corpus(spark, 240, seed = 11L, nRepos = 5).cache()

  /** Commits without timestamps, manifest bodies without `ts`, table rows,
    * and the part-file count of each `repo=` directory.
    */
  private def commitOnce(m: Pipeline.Models): (Seq[(String, Long, Long)], Seq[String], Seq[String], Map[String, Int]) = {
    val table = Files.createTempDirectory("kg-retry").toString + "/triples"
    RetrySpec.table = table
    val triples = Pipeline.scoreDocs(spark, docs, spark.sparkContext.broadcast(m))
      .flatMap(_.triples)(org.apache.spark.sql.Encoders.product[graft.core.Triple])
    val commits = Resume.writeResumable(spark, triples, table)
    val dir = Paths.get(table, "_graft_commits")
    val manifests = Files.list(dir).iterator().asScala.toVector
      .map(p => new String(Files.readAllBytes(p), "UTF-8").replaceAll(""","ts":"[^"]*"""", ""))
      .sorted
    val rows = Resume.read(spark, table).collect().map(_.toString).sorted.toSeq
    val parts = Files.list(Paths.get(table)).iterator().asScala.filter(_.getFileName.toString.startsWith("repo="))
      .map(d => d.getFileName.toString -> Files.list(d).iterator().asScala.count(_.toString.endsWith(".parquet")))
      .toMap
    (commits.map(c => (c.repo, c.rows, c.distinctSubj)), manifests, rows, parts)
  }

  test("commits, manifests and table survive first-attempt failures in scoring and in the write") {
    val clean = commitOnce(models)
    assert(clean._1.length == 5 && clean._1.forall(_._2 > 0), s"vacuous baseline: ${clean._1}")
    // a repo staged by several tasks: the failures below exercise the merge
    assert(clean._4.values.exists(_ > 1), s"no repo has more than one part file: ${clean._4}")
    assert(RetrySpec.scoringFailures.get == 0 && RetrySpec.writeFailures.get == 0)

    val scoringRetried = commitOnce(models.copy(scorer = new RetrySpec.FailingScorer(models.scorer)))
    assert(RetrySpec.scoringFailures.get == 1, "the scoring failure was not injected exactly once")
    assert(scoringRetried == clean)

    RetrySpec.failWrites = true
    val writeRetried = try commitOnce(models) finally RetrySpec.failWrites = false
    assert(RetrySpec.writeFailures.get >= 1, "no write failure was injected")
    assert(writeRetried == clean)
  }
}
