package graft.io

import graft.core.Triple
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
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
    * One evaluation of the input in one write, independent of repo
    * count: rows of committed repos are dropped against a broadcast of
    * the committed set (bounded by repo count, not corpus size; no
    * broadcast join, so no job of its own), and the remainder is
    * hash-repartitioned on `repo` into `defaultParallelism` partitions —
    * an explicit count, so AQE cannot fold the write into one or two
    * tasks. The write is the only action: Spark runs it as the shuffle-map
    * job and the result job, with nothing persisted or collected.
    *
    * The counters ride on the write. A pass-through `mapPartitions` in
    * the write's result stage adds each partition's `(repo, rows,
    * distinct non-null drugSubj)` to an accumulator. Each repo sits in
    * exactly one partition, so its counts are partition-local, and they
    * are exactly-once: Spark merges a result task's accumulator updates
    * once per partition (a failed or duplicate attempt adds nothing),
    * which would not hold in a shuffle-map stage. A repo counted in two
    * partitions fails the call with an `IllegalStateException`.
    *
    * Triples with a null `repo` have no partition to commit to: the task
    * holding them (one task, since they hash alike) counts them and fails,
    * and the call rethrows that `IllegalArgumentException`. The aborted
    * write removes its staging files and no manifest is written.
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
    val doneBc = if (done.isEmpty) None else Some(spark.sparkContext.broadcast(done))
    val remaining = doneBc
      .fold(triples)(bc => triples.filter((t: Triple) => t.repo == null || !bc.value.contains(t.repo)))
      .repartition(spark.sparkContext.defaultParallelism, col("repo"))
    val counted = spark.sparkContext.collectionAccumulator[(String, Long, Long)]("repo-counters")
    try {
      // dynamic partition overwrite as a PER-WRITE option, never session
      // conf: inside foreachBatch the frame is bound to a cloned
      // micro-batch session, where a conf set on the caller's session
      // does not apply — the old conf-juggling version silently fell
      // back to full-table overwrite there, wiping earlier repos'
      // partitions (caught by the StreamOpsSpec kg-stream e2e). The
      // write option takes precedence over session conf in all contexts.
      remaining.mapPartitions(countRepos(counted, _))
        .write
        .mode(SaveMode.Overwrite) // dynamic: replaces only written repos
        .option("partitionOverwriteMode", "dynamic")
        // an empty write must leave no file behind
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy("repo")
        .parquet(table)
    } catch {
      case e: Exception =>
        throw causes(e).collectFirst {
          case n: IllegalArgumentException if n.getMessage != null && n.getMessage.contains(NullRepo) =>
            new IllegalArgumentException(n.getMessage, e)
        }.getOrElse(e)
    } finally doneBc.foreach(_.destroy())
    val counters = repoCounters(counted.value.asScala.toSeq)
    if (counters.isEmpty) return Seq.empty

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
  }

  private val NullRepo = "triples have a null repo"

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32)

  /** Passes one partition's triples through unchanged, then adds its
    * `(repo, rows, distinct non-null drugSubj)` per repo to `acc`. A null
    * repo fails the task once the partition's null-repo rows are counted.
    */
  private def countRepos(
      acc: CollectionAccumulator[(String, Long, Long)],
      it: Iterator[Triple]
  ): Iterator[Triple] = new Iterator[Triple] {
    private val rows = mutable.HashMap.empty[String, Long]
    private val subjs = mutable.HashMap.empty[String, mutable.HashSet[String]]
    private var reported = false

    def hasNext: Boolean = {
      val more = it.hasNext
      if (!more && !reported) {
        reported = true
        rows.foreach { case (repo, n) => acc.add((repo, n, subjs(repo).size.toLong)) }
      }
      more
    }

    def next(): Triple = {
      val t = it.next()
      if (t.repo == null) {
        val nulls = 1L + it.count(_.repo == null)
        throw new IllegalArgumentException(s"$nulls $NullRepo; every committed triple needs one")
      }
      rows(t.repo) = rows.getOrElse(t.repo, 0L) + 1
      val seen = subjs.getOrElseUpdate(t.repo, mutable.HashSet.empty)
      if (t.drugSubj != null) seen += t.drugSubj
      t
    }
  }

  /** Per-partition counters to per-repo counters sorted by repo. Fails on
    * a repo counted in two partitions (the frame was not hash-partitioned
    * by repo, so its counters would be split).
    */
  private def repoCounters(perPartition: Seq[(String, Long, Long)]): Seq[(String, Long, Long)] = {
    val split = perPartition.groupBy(_._1).collect { case (repo, hits) if hits.length > 1 => repo }
    if (split.nonEmpty)
      throw new IllegalStateException(
        s"repos ${split.toSeq.sorted.mkString(", ")} span several partitions; counters would be split")
    perPartition.sortBy(_._1)
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
