package graft.io

import graft.TestSpark
import graft.core.Triple
import graft.fixtures.DocGen
import graft.pipeline.Pipeline
import graft.streaming.StreamOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The contract of [[LocalCheckpointFileManager]]: Spark's atomic-write
  * semantics without `.crc` files, and checkpoints that move between it
  * and Spark's default manager in both directions.
  */
class CheckpointManagerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val Key = "spark.sql.streaming.checkpointFileManagerClass"
  private val Default = classOf[FileContextBasedCheckpointFileManager].getName
  private val Engine = classOf[LocalCheckpointFileManager].getName

  private def engine(dir: java.nio.file.Path) = new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())
  private def default(dir: java.nio.file.Path) = new FileContextBasedCheckpointFileManager(new Path(dir.toUri), new Configuration())
  private def file(dir: java.nio.file.Path, name: String) = new Path(dir.resolve(name).toUri)

  private def write(fm: CheckpointFileManager, p: Path, body: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  /** File names under `dir`, recursively, relative to it. */
  private def names(dir: java.nio.file.Path): Seq[String] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(dir.relativize(_).toString).toSeq.sorted
    finally walk.close()
  }

  /** Runs `body` with session key `k` set to `v` (unset for None), then
    * restores the key.
    */
  private def withConf[T](k: String, v: Option[String])(body: => T): T = {
    val prior = spark.conf.getOption(k)
    v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    try body finally prior.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }
  private def withManager[T](cls: Option[String])(body: => T): T = withConf(Key, cls)(body)

  test("cancel leaves neither the temp file nor the final file") {
    val dir = Files.createTempDirectory("cfm")
    val out = engine(dir).createAtomic(file(dir, "offsets/0"), overwriteIfPossible = false)
    out.write("v1\n{}".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("the final file appears only on close, and no .crc file is written") {
    val dir = Files.createTempDirectory("cfm")
    val fm = engine(dir)
    val out = fm.createAtomic(file(dir, "offsets/0"), overwriteIfPossible = false)
    out.write("v1\n{}".getBytes(UTF_8))
    out.flush()
    assert(!Files.exists(dir.resolve("offsets/0")), "a reader must never see a partial file")
    val tmp = names(dir)
    assert(tmp.size == 1 && tmp.head.startsWith("offsets/.0.") && tmp.head.endsWith(".tmp"), tmp)
    out.close()
    assert(names(dir) == Seq("offsets/0"))
    assert(read(fm, file(dir, "offsets/0")) == "v1\n{}")
  }

  test("overwriteIfPossible = false refuses an existing file; true replaces it") {
    val dir = Files.createTempDirectory("cfm")
    val (fm, f) = (engine(dir), file(dir, "commits/3"))
    write(fm, f, "old", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, f, "new", overwrite = false))
    assert(read(fm, f) == "old")
    assert(names(dir) == Seq("commits/3"), "the refused temp file must be gone")
    write(fm, f, "newer", overwrite = true)
    assert(read(fm, f) == "newer")
    assert(names(dir) == Seq("commits/3"))
  }

  test("a file the default manager wrote stays readable by it after the engine's manager replaces it") {
    val dir = Files.createTempDirectory("cfm")
    val f = file(dir, "state/0/0/1.delta")
    default(dir).mkdirs(f.getParent)
    write(default(dir), f, "written with a .crc", overwrite = true)
    assert(names(dir).contains("state/0/0/.1.delta.crc"), s"vacuous fixture: ${names(dir)}")
    write(engine(dir), f, "replaced", overwrite = true)
    assert(names(dir) == Seq("state/0/0/1.delta"), "the stale .crc must go with the old bytes")
    assert(read(default(dir), f) == "replaced")
    // a commit file deleted by hand, its .crc left behind, then written anew
    val c = file(dir, "commits/0")
    default(dir).mkdirs(c.getParent)
    write(default(dir), c, "first", overwrite = false)
    Files.delete(dir.resolve("commits/0"))
    write(engine(dir), c, "second", overwrite = false)
    assert(!Files.exists(dir.resolve("commits/.0.crc")))
    assert(read(default(dir), c) == "second")
  }

  test("scoreDocs installs the manager for a streaming input only, and a set key wins") {
    val corpus = DocGen.corpus(spark, 5)
    val models = spark.sparkContext.broadcast(Pipeline.fit(spark, Pipeline.parse(spark, corpus), "gazetteer"))
    val stream = spark.readStream.schema(corpus.schema).parquet(Files.createTempDirectory("cfm").toString)
    withManager(None) {
      Pipeline.scoreDocs(spark, corpus, models)
      assert(spark.conf.getOption(Key).isEmpty, "a batch pass must not touch the session")
      Pipeline.scoreDocs(spark, stream, models)
      assert(spark.conf.getOption(Key).contains(Engine))
    }
    withManager(Some(Default)) {
      Pipeline.scoreDocs(spark, stream, models)
      assert(spark.conf.getOption(Key).contains(Default))
    }
    // a key set on the Hadoop conf (spark.hadoop.*) wins too
    val hadoop = spark.sparkContext.hadoopConfiguration
    withManager(None) {
      hadoop.set(Key, Default)
      try Pipeline.scoreDocs(spark, stream, models) finally hadoop.unset(Key)
      assert(spark.conf.getOption(Key).isEmpty)
    }
    models.destroy()
  }

  // --- kg streams over one parquet file per repo ---

  private lazy val corpus = DocGen.corpus(spark, 40)
  private lazy val models = spark.sparkContext.broadcast(Pipeline.fit(spark, Pipeline.parse(spark, corpus), "hybrid"))
  private lazy val expected = Pipeline.scoreDocs(spark, corpus, models)
    .flatMap(_.triples)(org.apache.spark.sql.Encoders.product[Triple]).collect().sortBy(_.toString).toSeq
  private lazy val repos = corpus.select("repo").distinct().collect().map(_.getString(0)).sorted.toSeq

  /** Streams every repo file now in `src` into `table`, one file per
    * micro-batch, under the manager `cls` (None: the one scoreDocs installs).
    */
  private def drain(src: String, ckpt: String, table: String, cls: Option[String]): Unit = withManager(cls) {
    val q = Pipeline.scoreDocs(spark,
        spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", 1).parquet(src), models)
      .flatMap(_.triples)(org.apache.spark.sql.Encoders.product[Triple])
      .writeStream
      .foreachBatch { (b: Dataset[Triple], _: Long) => Resume.writeResumable(spark, b, table); () }
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Hadoop's `.<name>.crc` checksum siblings under `dir`. */
  private def crcs(dir: String): Seq[String] =
    names(Paths.get(dir)).filter { n => val f = n.split('/').last; f.startsWith(".") && f.endsWith(".crc") }

  /** One repo under `first`, then `between`, then the rest under
    * `second`: the table must equal the batch ground truth.
    */
  private def restartKg(first: Option[String], second: Option[String])(between: String => Unit): String = {
    val base = Files.createTempDirectory("cfmkg").toString
    val (src, ckpt, table) = (s"$base/src", s"$base/ckpt", s"$base/triples")
    assert(repos.length >= 3 && expected.nonEmpty, "fixture must span repos and yield triples")
    graft.tools.StreamCluster.writeRepoFiles(corpus, repos.take(1), src)
    drain(src, ckpt, table, first)
    assert(Resume.committedRepos(table) == Set(repos.head))
    between(ckpt)
    graft.tools.StreamCluster.writeRepoFiles(corpus, repos.tail, src)
    drain(src, ckpt, table, second)
    assert(Resume.read(spark, table).collect().sortBy(_.toString).toSeq == expected)
    assert(Resume.committedRepos(table) == repos.toSet)
    ckpt
  }

  test("kg stream: a leftover offsets/.N.<uuid>.tmp from a killed write is ignored on restart") {
    val ckpt = restartKg(None, None) { ckpt =>
      assert(crcs(ckpt).isEmpty, s"the engine's manager wrote .crc files: ${crcs(ckpt)}")
      // a write killed between temp file and move leaves this behind
      Files.writeString(Paths.get(ckpt, "offsets", s".1.${java.util.UUID.randomUUID}.tmp"), "v1\n{\"trunc")
    }
    assert(names(Paths.get(ckpt, "offsets")).count(_.endsWith(".tmp")) == 1)
  }

  test("kg stream: a checkpoint begun under Spark's default manager resumes under the engine's") {
    restartKg(Some(Default), None) { ckpt =>
      assert(crcs(ckpt).nonEmpty, "vacuous fixture: the default manager wrote no .crc")
    }
  }

  test("kg stream: a checkpoint begun under the engine's manager resumes under Spark's default") {
    restartKg(None, Some(Default)) { ckpt =>
      assert(crcs(ckpt).isEmpty, s"the engine's manager wrote .crc files: ${crcs(ckpt)}")
    }
  }

  test("dedupStream: state written by the default manager is replaced and recovered under the engine's") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new Timestamp(86400000L + 60000L * min)
    val base = Files.createTempDirectory("cfmstate").toString
    val (ckpt, outDir) = (s"$base/checkpoint", s"$base/out")
    val mem = MemoryStream[StreamOps.Event]
    // no watermark-only batches: the last batch of a run is a data batch
    def run(cls: Option[String]): Unit = withManager(cls)(withConf("spark.sql.streaming.noDataMicroBatches.enabled", Some("false")) {
      val q = StreamOps.dedupStream(mem.toDF())
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", outDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    })
    mem.addData(StreamOps.Event(1, ts(0), 1, "click", 1.0))
    run(Some(Default))
    // drop the last batch's commit, and the sink's, so that the restart
    // runs that batch again: it rewrites the batch's state deltas
    // (overwriteIfPossible = true) over the default's files, whose Hadoop
    // .crc siblings are then stale
    val commits = Paths.get(ckpt, "commits")
    val last = names(commits).filter(_.forall(_.isDigit)).map(_.toLong).max
    for (log <- Seq(commits, Paths.get(outDir, "_spark_metadata"))) {
      Files.delete(log.resolve(last.toString))
      Files.delete(log.resolve(s".$last.crc"))
    }
    def stale = names(Paths.get(ckpt, "state")).filter(_.split('/').last.startsWith(s".${last + 1}.delta."))
    assert(stale.nonEmpty, s"vacuous fixture: ${names(Paths.get(ckpt, "state"))}")
    mem.addData(StreamOps.Event(1, ts(1), 1, "click", 1.0), StreamOps.Event(2, ts(1), 2, "view", 2.0))
    run(Some(Engine))
    assert(stale.isEmpty, s"stale .crc left beside replaced deltas: $stale")
    // the default manager reads the replaced deltas back: id 2 stays deduplicated
    mem.addData(StreamOps.Event(2, ts(2), 2, "view", 2.0), StreamOps.Event(3, ts(2), 3, "view", 3.0))
    run(Some(Default))
    val ids = spark.read.parquet(outDir).select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), s"dedup state must survive both restarts, got ${ids.toSeq}")
  }

  test("dedupStream installs the manager in a session that never ran scoreDocs: its checkpoint holds no .crc") {
    val s = spark.newSession()
    assert(s.conf.getOption(Key).isEmpty && spark.sparkContext.hadoopConfiguration.get(Key) == null,
      "vacuous fixture: the fresh session has a manager set")
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    def ts(min: Long) = new Timestamp(86400000L + 60000L * min)
    val base = Files.createTempDirectory("cfmops").toString
    val (ckpt, outDir) = (s"$base/checkpoint", s"$base/out")
    val mem = MemoryStream[StreamOps.Event]
    mem.addData(StreamOps.Event(1, ts(0), 1, "click", 1.0), StreamOps.Event(2, ts(0), 2, "view", 2.0))
    def run(): Unit = {
      val q = StreamOps.dedupStream(mem.toDF())
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", outDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(s.conf.getOption(Key).contains(Engine))
    mem.addData(StreamOps.Event(1, ts(1), 1, "click", 1.0), StreamOps.Event(3, ts(1), 3, "view", 3.0))
    run()
    assert(names(Paths.get(ckpt, "state")).exists(_.endsWith(".delta")), s"vacuous fixture: ${names(Paths.get(ckpt))}")
    assert(crcs(ckpt).isEmpty, s"the default manager's .crc files: ${crcs(ckpt)}")
    val ids = s.read.parquet(outDir).select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), ids.toSeq)
  }
}
