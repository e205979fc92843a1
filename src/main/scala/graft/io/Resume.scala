package graft.io

import graft.core.Triple
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Resumable partitioned materialization with per-partition lineage +
  * counters (north rule: "resumable from per-partition checkpoints with
  * lineage and counter metrics written alongside each commit").
  *
  * Stand-in for Iceberg commits (no Iceberg jars ship in this sandbox):
  * the output is a parquet table partitioned by `repo`, plus a commit
  * MANIFEST (`_graft_commits/<repo>.json`) written atomically (temp file
  * + move) AFTER the partition's data lands. A partition is committed
  * iff its manifest entry exists, so a crash mid-write leaves at most
  * orphan data files that the next run overwrites (dynamic partition
  * overwrite), never a half-committed manifest — exactly Iceberg's
  * snapshot contract, one partition at a time.
  *
  * `resume` anti-joins the committed repo set and processes only the
  * remainder; `resume` after a complete run is a no-op.
  */
object Resume {

  final case class Commit(repo: String, rows: Long, distinctSubj: Long, ts: String)

  private def manifestDir(table: String) = Paths.get(table, "_graft_commits")

  /** Manifest file names are URL-encoded: repo ids are arbitrary strings
    * ("org/name", "a:b") that would otherwise escape the manifest dir or
    * diverge from the (separately percent-escaped) partition directory
    * names Spark writes.
    */
  private def enc(repo: String): String =
    java.net.URLEncoder.encode(repo, "UTF-8")
  private def dec(name: String): String =
    java.net.URLDecoder.decode(name, "UTF-8")

  /** JSON string escape for manifest bodies. Resume itself keys off the
    * (URL-encoded) file NAMES, but a repo id holding a quote, backslash,
    * or control char would otherwise make the manifest CONTENT invalid
    * JSON for any driver that parses it.
    */
  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def committedRepos(table: String): Set[String] = {
    val dir = manifestDir(table)
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val stream = Files.list(dir) // close: holds a directory fd
      try
        stream.iterator().asScala
          .filter(_.toString.endsWith(".json"))
          .map(p => dec(p.getFileName.toString.stripSuffix(".json")))
          .toSet
      finally stream.close()
    }
  }

  /** Write all not-yet-committed repos of `triples` into `table`, then
    * their manifests. Returns the commits performed, sorted by repo
    * (empty = nothing left to do).
    *
    * One evaluation of the input and one shuffle, independent of repo
    * count: the committed set is excluded with a broadcast anti-join (it
    * is bounded by repo count, not corpus size), and the remainder is
    * hash-repartitioned on `repo` and persisted. The counters come from
    * one `mapPartitions` over the persisted frame: each repo sits in
    * exactly one partition (AQE may coalesce a repartition's partitions
    * but never splits them), so its `rows` and exact distinct `drugSubj`
    * are partition-local. The dynamic-overwrite write then reads the same
    * persisted frame. Inside `foreachBatch` this is the persist-before-
    * reuse Spark's guide asks of a sink that acts on its batch twice.
    *
    * Triples with a null `repo` have no partition to commit to: they fail
    * the call with an `IllegalArgumentException` before anything is
    * written.
    *
    * Crash contract: a manifest entry is written atomically AFTER the
    * data job completes, so a crash mid-write leaves only orphan data
    * files in uncommitted partitions, which the next run's dynamic
    * overwrite replaces — never a half-committed manifest. Commit
    * granularity is per-run: at 10^5 repos an interrupted run re-does at
    * most one run's worth of partitions; callers wanting finer units
    * chunk the input upstream.
    */
  def writeResumable(
      spark: SparkSession,
      triples: Dataset[Triple],
      table: String
  ): Seq[Commit] = {
    import spark.implicits._
    val done = committedRepos(table)
    val doneDf = spark.createDataset(done.toSeq).toDF("repo")
    val remaining = triples.toDF()
      .join(broadcast(doneDf), Seq("repo"), "left_anti")
      .repartition(col("repo"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val counters = repoCounters(
        remaining.select("repo", "drugSubj").as[(String, String)].mapPartitions(countRepos).collect())
      if (counters.isEmpty) return Seq.empty

      // dynamic partition overwrite as a PER-WRITE option, never session
      // conf: inside foreachBatch the frame is bound to a cloned
      // micro-batch session, where a conf set on the caller's session
      // does not apply — the old conf-juggling version silently fell
      // back to full-table overwrite there, wiping earlier repos'
      // partitions (caught by the StreamOpsSpec kg-stream e2e). The
      // write option takes precedence over session conf in all contexts.
      remaining.write
        .mode(SaveMode.Overwrite) // dynamic: replaces only written repos
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("repo")
        .parquet(table)

      Files.createDirectories(manifestDir(table))
      counters.map { case (repo, rows, distinctSubj) =>
        val commit = Commit(repo, rows, distinctSubj, java.time.Instant.now().toString)
        val json =
          s"""{"repo":${jsonStr(commit.repo)},"rows":${commit.rows},"distinct_subj":${commit.distinctSubj},"ts":${jsonStr(commit.ts)}}"""
        val tmp = manifestDir(table).resolve(s".${enc(repo)}.json.tmp")
        Files.write(tmp, json.getBytes("UTF-8"))
        Files.move(tmp, manifestDir(table).resolve(s"${enc(repo)}.json"),
          StandardCopyOption.ATOMIC_MOVE)
        commit
      }
    } finally remaining.unpersist()
  }

  /** `(repo, rows, distinct non-null drugSubj)` for each repo of one
    * partition, null repo included.
    */
  private def countRepos(it: Iterator[(String, String)]): Iterator[(String, Long, Long)] = {
    val rows = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val subjs = mutable.HashMap.empty[String, mutable.HashSet[String]]
    it.foreach { case (repo, subj) =>
      rows(repo) += 1
      val seen = subjs.getOrElseUpdate(repo, mutable.HashSet.empty)
      if (subj != null) seen += subj
    }
    rows.iterator.map { case (repo, n) => (repo, n, subjs(repo).size.toLong) }
  }

  /** Per-partition counters to per-repo counters sorted by repo. Fails
    * on null repos, and on a repo counted in two partitions (the frame
    * was not hash-partitioned by repo, so its counters would be split).
    */
  private def repoCounters(perPartition: Array[(String, Long, Long)]): Seq[(String, Long, Long)] = {
    val nullRows = perPartition.collect { case (null, n, _) => n }.sum
    require(nullRows == 0, s"$nullRows triples have a null repo; every committed triple needs one")
    val split = perPartition.groupBy(_._1).collect { case (repo, hits) if hits.length > 1 => repo }
    if (split.nonEmpty)
      throw new IllegalStateException(
        s"repos ${split.toSeq.sorted.mkString(", ")} span several partitions; counters would be split")
    perPartition.toSeq.sortBy(_._1)
  }

  /** Read the committed table back. Partition discovery over the whole
    * table recovers the `repo` column (Spark unescapes the percent-
    * encoded directory names itself — building `repo=<raw>` paths by
    * hand would break for repos with reserved characters), then the
    * committed-set filter prunes uncommitted orphan partitions before
    * any of their files are opened — the Iceberg snapshot-read contract.
    * `_graft_commits` is invisible to the scan (underscore prefix).
    */
  def read(spark: SparkSession, table: String): Dataset[Triple] = {
    import spark.implicits._
    val repos = committedRepos(table).toSeq.sorted
    if (repos.isEmpty) spark.emptyDataset[Triple]
    else
      spark.read
        // explicit schema: no footer sampling at planning time, so a
        // torn file inside an uncommitted orphan partition can never
        // fail the read of the committed snapshot
        .schema(org.apache.spark.sql.Encoders.product[Triple].schema)
        .parquet(table)
        .filter(col("repo").isin(repos: _*))
        .as[Triple]
  }
}
