package graft.io

import graft.core.Triple
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Resumable partitioned materialization with per-partition lineage +
  * counters (north rule: "resumable from per-partition checkpoints with
  * lineage and counter metrics written alongside each commit").
  *
  * Stand-in for Iceberg commits (no Iceberg jars ship in this sandbox):
  * the output is a parquet table partitioned by `repo` (one
  * `repo=<escaped id>/part-*.parquet` file per input partition that held
  * the repo), plus a commit
  * MANIFEST (`_graft_commits/<repo>.json`) written atomically (temp file
  * + move) AFTER the partition's data lands. A partition is committed
  * iff its manifest entry exists, so a crash mid-write leaves at most
  * orphan data files that the next run replaces, never a half-committed
  * manifest — exactly Iceberg's snapshot contract, one partition at a
  * time.
  *
  * The commit writes its files itself (parquet-mr over `java.nio`), and
  * its manifests already use `java.nio`: the table path must be a
  * filesystem that the driver and every executor see at the same path (a
  * local disk in local mode, a shared mount on a cluster). One commit at
  * a time per table.
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
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
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
    * One path for any input: one Spark job with no shuffle evaluates the
    * planned input once (planning runs nothing for an input without a
    * shuffle of its own, such as scored docs; under AQE an input whose
    * plan holds a shuffle runs that shuffle's map stage while planned).
    * Rows of committed repos are dropped against a broadcast of the
    * committed set (bounded by repo count; no broadcast join, no job).
    * Each partition is sorted by `repo`, and its task writes each repo it
    * holds to a staged parquet file, one writer open at a time (snappy; no
    * dictionary for the near-unique `sid`, `e1`, `e2`), and returns that
    * repo's rows, distinct non-null `drugSubj` strings and staged
    * directory. One `collect` brings them to the driver exactly once per
    * partition (a failed or duplicate attempt's files are never
    * published), so a hot repo is written by every task that holds it.
    *
    * The driver merges each repo exactly (rows summed, subject sets
    * united) and moves all its staged files into a fresh `repo=<escaped
    * id>` directory: one `part-<partition>-<commit uuid>.snappy.parquet`
    * per input partition that held the repo, so one for a one-partition
    * micro-batch. Bounds: at most (input partitions × the repos each one
    * holds) files, and at most one subject string sent per (task, repo,
    * distinct subject), never more than the rows. Manifests are written
    * last. The staging directory `_graft_staging` is invisible to
    * [[read]] and cleared, best-effort, when the call ends: after a failed
    * job, sibling tasks may still be staging files, so a cleanup error
    * never fails the call (it is added to the job's exception as
    * suppressed), and what is left waits for the next commit.
    *
    * Triples with a null or empty `repo` have no partition to commit to
    * (Spark's partition naming would send `""` to the null partition,
    * which reads back as null): they are counted, never written, and the
    * call fails with an `IllegalArgumentException` that gives the count,
    * leaving no data file and no manifest.
    *
    * Crash contract: a manifest entry is written atomically AFTER the
    * repo's data is in place, so a crash mid-commit leaves only staged
    * files, which the next commit clears, or orphan data in uncommitted
    * partitions, which the next commit of that repo replaces — never a
    * half-committed manifest. Commit granularity is per-run: at 10^5
    * repos an interrupted run re-does at most one run's worth of
    * partitions; callers wanting finer units chunk the input upstream.
    */
  def writeResumable(
      spark: SparkSession,
      triples: Dataset[Triple],
      table: String
  ): Seq[Commit] = {
    val done = committedRepos(table)
    val doneBc = if (done.isEmpty) None else Some(spark.sparkContext.broadcast(done))
    val staging = stagingDir(table).resolve(java.util.UUID.randomUUID().toString).toString
    def cleanup() = scala.util.Try { doneBc.foreach(_.destroy()); deleteTree(stagingDir(table)) }
    val commits =
      try {
        val rows = doneBc
          .fold(triples)(bc => triples.filter((t: Triple) => t.repo == null || !bc.value.contains(t.repo)))
          .select((DataColumns :+ "repo").map(col): _*)
          .sortWithinPartitions("repo").queryExecution.toRdd
        mkdir(Paths.get(table))
        publish(table, rows.mapPartitions(stage(staging, _)).collect().toSeq)
      } catch {
        case e: Throwable => cleanup().failed.foreach(e.addSuppressed); throw e
      }
    cleanup()
    if (commits.isEmpty) return Seq.empty

    Files.createDirectories(manifestDir(table))
    commits.map { commit =>
      val json =
        s"""{"repo":${jsonStr(commit.repo)},"rows":${commit.rows},"distinct_subj":${commit.distinctSubj},"ts":${jsonStr(commit.ts)}}"""
      val tmp = manifestDir(table).resolve(s".${enc(commit.repo)}.json.tmp")
      Files.write(tmp, json.getBytes("UTF-8"))
      Files.move(tmp, manifestDir(table).resolve(s"${enc(commit.repo)}.json"),
        StandardCopyOption.ATOMIC_MOVE)
      commit
    }
  }

  /** One repo of one task attempt: its row count, its distinct non-null
    * `drugSubj` strings and its staged `repo=` directory (null for a null
    * or empty repo, which is counted and not written).
    */
  private final case class Staged(repo: String, rows: Long, subjs: Array[String], dir: String)

  /** Triple's columns as a committed file holds them; `repo` is the
    * directory. The commit's rows carry these first, then `repo`.
    */
  private val DataColumns = Encoders.product[Triple].schema.fieldNames.toSeq.filterNot(_ == "repo")
  private val RepoIdx = DataColumns.length

  private lazy val FileSchema: MessageType = Types.buildMessage()
    .addFields(DataColumns.map(c => Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(c)): _*)
    .named("spark_schema")

  /** Near-unique columns, for which a dictionary page is wasted work
    * before parquet falls back to plain encoding.
    */
  private val PlainColumns = Seq("sid", "e1", "e2")

  private val DirPerms = PosixFilePermissions.fromString("rwxr-xr-x")
  private val FilePerms = PosixFilePermissions.fromString("rw-r--r--")

  private def stagingDir(table: String) = Paths.get(table, "_graft_staging")

  /** Creates `dir` (and missing parents) and gives it the table's
    * directory mode, whatever the process umask.
    */
  private def mkdir(dir: Path): Path = {
    if (!Files.isDirectory(dir)) {
      Files.createDirectories(dir)
      Files.setPosixFilePermissions(dir, DirPerms)
    }
    dir
  }

  private def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toVector.reverse.foreach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  private def openWriter(file: Path): ParquetWriter[Group] = {
    val b = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withConf(new PlainParquetConfiguration())
      .withType(FileSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
    PlainColumns.foldLeft(b)((b, c) => b.withDictionaryEncoding(c, false)).build()
  }

  /** Writes one sorted partition, one staged file per repo under
    * `staging/<partition>-<task attempt>/repo=<escaped id>/`, and returns
    * each repo's rows and distinct subjects. Null and empty repos sort first; once the
    * partition holds one, nothing more is written (the commit fails).
    */
  private def stage(staging: String, rows: Iterator[InternalRow]): Iterator[Staged] = {
    val tc = TaskContext.get()
    val attemptDir = Paths.get(staging, s"${tc.partitionId()}-${tc.taskAttemptId()}")
    val fileName = f"part-${tc.partitionId()}%05d-${Paths.get(staging).getFileName}.snappy.parquet"
    val out = mutable.ArrayBuffer.empty[Staged]
    val subjs = mutable.HashSet.empty[UTF8String]
    var started, rejected = false
    var repo: UTF8String = null
    var n = 0L
    var dir: Path = null
    var writer: ParquetWriter[Group] = null

    def finish(): Unit = if (started) {
      if (writer != null) {
        writer.close()
        Files.setPosixFilePermissions(dir.resolve(fileName), FilePerms)
      }
      out += Staged(if (repo == null) null else repo.toString, n, subjs.iterator.map(_.toString).toArray,
        if (writer == null) null else dir.toString)
      writer = null
    }

    try rows.foreach { row =>
      val r = if (row.isNullAt(RepoIdx)) null else row.getUTF8String(RepoIdx)
      if (!started || r != repo) {
        finish()
        started = true
        repo = if (r == null) null else r.clone()
        n = 0L
        subjs.clear()
        rejected ||= r == null || r.numBytes == 0
        if (!rejected) {
          dir = mkdir(attemptDir.resolve(ExternalCatalogUtils.getPartitionPathString("repo", repo.toString)))
          writer = openWriter(dir.resolve(fileName))
        }
      }
      n += 1
      if (!row.isNullAt(0)) {
        val s = row.getUTF8String(0)
        if (!subjs.contains(s)) subjs += s.clone()
      }
      if (writer != null) {
        val g = new SimpleGroup(FileSchema)
        var i = 0
        while (i < RepoIdx) {
          if (!row.isNullAt(i)) g.add(i, Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
          i += 1
        }
        writer.write(g)
      }
    } catch {
      case e: Throwable =>
        if (writer != null) scala.util.Try(writer.close())
        throw e
    }
    finish()
    out.iterator
  }

  private val NullRepo = "triples have a null repo"
  private val EmptyRepo = "triples have an empty repo"

  /** Validates the staged repos, merges each repo's staged files and
    * counters, and moves its files into a fresh `repo=` directory; returns
    * the commits sorted by repo. Fails, publishing nothing, on null or
    * empty repos.
    */
  private def publish(table: String, staged: Seq[Staged]): Seq[Commit] = {
    val nulls = staged.filter(_.repo == null).map(_.rows).sum
    val empties = staged.filter(_.repo == "").map(_.rows).sum
    if (nulls + empties > 0) {
      val counts = Seq(nulls -> NullRepo, empties -> EmptyRepo).collect { case (k, m) if k > 0 => s"$k $m" }
      throw new IllegalArgumentException(s"${counts.mkString(" and ")}; every committed triple needs one")
    }
    staged.groupBy(_.repo).toSeq.sortBy(_._1).map { case (repo, parts) =>
      val target = Paths.get(table, ExternalCatalogUtils.getPartitionPathString("repo", repo))
      deleteTree(target)
      Files.move(Paths.get(parts.head.dir), target)
      parts.tail.foreach { p =>
        val files = Files.list(Paths.get(p.dir))
        try files.iterator().asScala.toVector.foreach(f => Files.move(f, target.resolve(f.getFileName)))
        finally files.close()
      }
      Commit(repo, parts.map(_.rows).sum, parts.flatMap(_.subjs).distinct.length.toLong,
        java.time.Instant.now().toString)
    }
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
