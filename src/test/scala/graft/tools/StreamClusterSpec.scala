package graft.tools

import graft.TestSpark
import graft.core.Triple
import graft.fixtures.DocGen
import graft.io.Resume
import graft.pipeline.Pipeline
import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite
import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** The stream's crash contract with a real driver crash: `StreamCluster
  * run` streams one parquet file per repo in a child JVM (`local[2]`, the
  * test classpath), is SIGKILLed mid-stream, and is rerun on the same
  * checkpoint and table. The rerun must deliver every repo exactly once.
  */
class StreamClusterSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val timeoutS = 240L

  /** Starts `StreamCluster run` in one child JVM; stderr goes to `log`. */
  private def startRun(base: Path, log: String): Process = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(java, "-Xmx1g", "-XX:+UseSerialGC", "-Dspark.master=local[2]", "-Dspark.ui.enabled=false") ++
      opens ++ Seq("-cp", System.getProperty("java.class.path"), "graft.tools.StreamCluster", "run",
        base.resolve("src").toString, base.resolve("triples").toString, base.resolve("ckpt").toString, "2")
    new ProcessBuilder(cmd: _*).directory(base.toFile).redirectError(base.resolve(log).toFile).start()
  }

  /** Reads `p`'s stdout lines until `stop` holds for them or the stream
    * ends; the child is SIGKILLed if it outlives the timeout.
    */
  private def readUntil(p: Process)(stop: Seq[String] => Boolean): Seq[String] = {
    val watchdog = Executors.newSingleThreadScheduledExecutor()
    watchdog.schedule((() => p.destroyForcibly()): Runnable, timeoutS, TimeUnit.SECONDS)
    val in = new BufferedReader(new InputStreamReader(p.getInputStream))
    try {
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      var line: String = null
      while (!stop(lines.toSeq) && { line = in.readLine(); line != null }) lines += line
      lines.toSeq
    } finally watchdog.shutdownNow()
  }

  private def batches(lines: Seq[String]) = lines.count(_.startsWith("BATCH"))

  test("StreamCluster run: a driver SIGKILLed after 3 batches resumes exactly-once on rerun") {
    val base = Files.createTempDirectory("streamkill")
    val corpus = DocGen.corpus(spark, 200)
    val models = StreamCluster.mkModels(spark)
    val expected = Pipeline.scoreDocs(spark, corpus, models)
      .flatMap(_.triples)(Encoders.product[Triple]).collect().sortBy(_.toString).toSeq
    val repos = corpus.select("repo").distinct().collect().map(_.getString(0)).sorted.toSeq
    models.destroy()
    assert(repos.length >= 6 && expected.nonEmpty, "fixture must span repos and yield triples")
    StreamCluster.writeRepoFiles(corpus, repos, base.resolve("src").toString)
    val table = base.resolve("triples").toString

    val first = startRun(base, "run1.log")
    val seen = try readUntil(first)(batches(_) >= 3) finally {
      first.destroyForcibly() // SIGKILL
      first.waitFor(timeoutS, TimeUnit.SECONDS)
    }
    assert(batches(seen) >= 3, s"the first run never reached 3 batches: $seen; see $base/run1.log")
    assert(!seen.exists(_.contains("triples_in_table")), "the first run finished before the kill")
    val committed = Resume.committedRepos(table)
    assert(committed.nonEmpty && committed.size < repos.length,
      s"the kill must land mid-stream: ${committed.size} of ${repos.length} repos committed")

    val second = startRun(base, "run2.log")
    try {
      val rest = readUntil(second)(_ => false)
      assert(second.waitFor(timeoutS, TimeUnit.SECONDS) && second.exitValue() == 0,
        s"the rerun failed: $rest; see $base/run2.log")
      assert(batches(rest) >= 1, "the rerun did no work: the kill cannot have been real")
    } finally second.destroyForcibly()

    assert(Resume.read(spark, table).collect().sortBy(_.toString).toSeq == expected)
    val manifests = Files.list(Paths.get(table, "_graft_commits"))
    try assert(manifests.iterator().asScala.count(_.toString.endsWith(".json")) == repos.length)
    finally manifests.close()
    assert(Resume.committedRepos(table) == repos.toSet)
  }
}
