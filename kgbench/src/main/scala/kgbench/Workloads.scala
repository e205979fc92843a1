package kgbench

import graft.core.Triple
import graft.io.Resume
import graft.kg.Canonicalize
import graft.ops.Dedup
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.SentenceResult
import graft.streaming.StreamOps
import java.nio.file.{Files, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

trait Workload {
  /** Fits the models; returns ns (0 when the workload needs none). */
  def fit(): Long = 0L
  /** (Re)writes the inputs from the seed; returns ns. */
  def generate(): Long
  def warmUp(): Unit
  def op(i: Int): Op
  /** Latency samples of the closed loop: per job, or per micro-batch. */
  def latenciesMs(ops: Seq[Op]): Seq[Double] = ops.map(_.wallNs / 1e6)
  def latencyUnit: String = "one per job"
  def traced(t: Tracer, seconds: Int): Seq[(String, Double)]
}

/** Helpers shared by the two KG workloads. */
abstract class KgWorkload(ctx: Ctx) extends Workload {
  protected val spark: SparkSession = ctx.spark
  import spark.implicits._
  protected var models: Broadcast[Pipeline.Models] = _

  override def fit(): Long = ctx.timeNs {
    val train = Pipeline.parse(spark, Inputs.trainDocs(spark, ctx.args.seed)).cache()
    train.count()
    models = spark.sparkContext.broadcast(Pipeline.fit(spark, train, "hybrid"))
    train.unpersist()
  }._2

  /** (rows, order-independent digest) of a triple set. */
  protected def tripleDigest(ts: Dataset[Triple]): (Long, Long) =
    ts.mapPartitions { it =>
      var n, d = 0L
      it.foreach { t => n += 1; d += Digest.triple(t) }
      Iterator.single((n, d))
    }.collect().foldLeft((0L, 0L)) { case ((n, d), (a, b)) => (n + a, d + b) }

  protected def readDocs(path: Path): DataFrame = spark.read.parquet(path.toString)

  /** Micro-F1 (the evaluator's CLASS row) of the mentions `Pipeline.score`
    * finds in `docs`, against the gold embedded in them.
    */
  protected def nerF1(docs: DataFrame): Double = {
    val sents = Pipeline.parse(spark, docs)
    val ms = Pipeline.score(spark, sents, models).flatMap(_.mentions)
    Pipeline.evaluateNER(spark, sents, ms).find(_.kind == "CLASS").get.f1
  }

  /** Micro-F1 (the evaluator's CLASS row) of `triples` as DDI relations,
    * against the gold embedded in `docs`.
    */
  protected def ddiF1(docs: DataFrame, triples: Dataset[Triple]): Double = {
    val rels = triples.map(t => graft.core.Relation(t.sid, t.e1, t.e2, t.interactionPred))
    Pipeline.evaluateDDI(spark, Pipeline.parse(spark, docs), rels).find(_.kind == "CLASS").get.f1
  }

}

/** Outputs pinned for the default seed: any change to what the program
  * computes shows here even where per-seed cross-checks still agree.
  */
object Pinned {
  val Seed = 42L
  /** kg_batch committed triples: (rows, digest). */
  val KgBatch: (Long, Long) = (33906L, 0xd81ac695b6701950L)
  /** neardup_skewed: (clusters, assignment digest). */
  val NearDup: (Long, Long) = (30021L, 5525502926446658324L)
}

/** (mentions, mention digest, triples, triple digest) of a scored pass. */
final case class ScoreDigest(mentions: Long, mentionDigest: Long, triples: Long, tripleDigest: Long)

object KgBatch {
  /** One traced iteration's readings. */
  final case class Iter(bad: Long, manifests: Int, w: SparkWindow, noopNs: Long, writeNs: Long,
      tracedNs: Long, sum: PartStats)
}

/** kg_batch: the paper's pass end to end, one job at a time: scan, sha
  * check, parse, score, resumable commit; the committed table is read
  * back and checked after every job.
  */
final class KgBatch(ctx: Ctx) extends KgWorkload(ctx) {
  import KgBatch.Iter
  import spark.implicits._
  val Docs = 12000L
  val Repos = 8
  private val seed = ctx.args.seed
  private val docsPath = ctx.dir("kg_docs")
  private val rows = Inputs.docsRows(seed, Docs)
  private var ref: ScoreDigest = _

  def generate(): Long = ctx.timeNs {
    KgBench.deleteTree(docsPath)
    Inputs.docsTable(spark, seed, Docs, Repos).repartition(4 * KgBench.Cores).write.parquet(docsPath.toString)
  }._2

  private def scoreDigest(ds: Dataset[SentenceResult]): ScoreDigest =
    ds.mapPartitions { it =>
      var m, md, t, td = 0L
      it.foreach { r =>
        r.mentions.foreach { x => m += 1; md += Digest.mention(x) }
        r.triples.foreach { x => t += 1; td += Digest.triple(x) }
      }
      Iterator.single(ScoreDigest(m, md, t, td))
    }.collect().reduce((a, b) =>
      ScoreDigest(a.mentions + b.mentions, a.mentionDigest + b.mentionDigest, a.triples + b.triples,
        a.tripleDigest + b.tripleDigest))

  def warmUp(): Unit = {
    val docs = readDocs(docsPath)
    ctx.check(docs.count() == rows, s"docs table has ${docs.count()} rows, expected $rows")
    ref = scoreDigest(Pipeline.score(spark, Pipeline.parse(spark, docs), models))
    ctx.note(s"kg_batch: $rows docs, reference ${ref.mentions} mentions, ${ref.triples} triples, " +
      s"triple digest ${Digest.hex(ref.tripleDigest)}")
    if (seed == Pinned.Seed)
      ctx.check((ref.triples, ref.tripleDigest) == Pinned.KgBatch,
        s"default-seed triples ${(ref.triples, Digest.hex(ref.tripleDigest))} != pinned ${Pinned.KgBatch}")
    (1 to KgBench.WarmOps).foreach(k => op(-k))
  }

  /** scan -> sha check -> parse -> score -> commit; returns
    * (sha violations, commits, op wall ns, writeResumable wall ns).
    */
  private def commitPass(table: Path, t: Option[Tracer]): (Long, Seq[Resume.Commit], Long, Long) = {
    def span[T](n: String)(b: => T): T = t.fold(b)(_.span(n)(b))
    val t0 = System.nanoTime()
    val docs = readDocs(docsPath)
    val bad = span("io.scan")(Pipeline.checkSha(docs))
    val triples = Pipeline.score(spark, Pipeline.parse(spark, docs), models).flatMap(_.triples)
    val (commits, writeNs) = ctx.timeNs(span("io.write")(Resume.writeResumable(spark, triples, table.toString)))
    (bad, commits, System.nanoTime() - t0, writeNs)
  }

  private def verify(table: Path, bad: Long, commits: Seq[Resume.Commit]): Unit = {
    ctx.check(bad == 0, s"$bad sha violations")
    ctx.check(commits.length == Repos, s"${commits.length} manifests, expected $Repos")
    ctx.check(commits.map(_.rows).sum == ref.triples, s"manifest rows ${commits.map(_.rows).sum} != ${ref.triples}")
    val back = tripleDigest(Resume.read(spark, table.toString))
    ctx.check(back == (ref.triples, ref.tripleDigest),
      s"read-back ${back._1} triples / ${Digest.hex(back._2)} != reference ${ref.triples} / ${Digest.hex(ref.tripleDigest)}")
  }

  def op(i: Int): Op = {
    val table = ctx.dir(s"kg_out_$i")
    try {
      val (bad, commits, wall, _) = commitPass(table, None)
      verify(table, bad, commits)
      Op(rows, wall)
    } finally KgBench.deleteTree(table)
  }

  def traced(t: Tracer, seconds: Int): Seq[(String, Double)] = {
    val planted = Inputs.planted(seed, Docs)
    val iters = ctx.closedLoop(seconds) { i =>
      val table = ctx.dir(s"kg_traced_$i")
      try t.span("iteration") {
        val noopNs = t.span("pipeline.score_noop") {
          ctx.timeNs(Pipeline.score(spark, Pipeline.parse(spark, readDocs(docsPath)), models)
            .write.format("noop").mode("overwrite").save())._2
        }
        val ((bad, commits, _, writeNs), w) =
          ctx.counters.window(spark.sparkContext)(t.span("op")(commitPass(table, Some(t))))
        verify(table, bad, commits)
        val (stats, tracedNs) = ctx.timeNs(t.span("pipeline.traced_score")(
          TracedScore.run(spark, readDocs(docsPath), models)))
        val parent = t.last("pipeline.traced_score")
        stats.zipWithIndex.foreach { case (s, p) =>
          val id = t.interval(s"task-$p", parent, s.startNs, s.endNs)
          Seq("core.parse" -> s.parseNs, "core.tokenize" -> s.tokenizeNs, "ner.tag" -> s.tagNs,
            "ner.decode" -> s.decodeNs, "ddi.classify" -> s.classifyNs, "kg.canon" -> s.canonNs,
            "bench.digest" -> s.digestNs).foreach { case (n, ns) => t.selfTime(n, id, ns) }
        }
        val sum = stats.reduce(_ + _)
        ctx.check(sum.docs == rows, s"traced pass saw ${sum.docs} docs, expected $rows")
        ctx.check(sum.malformed == planted.malformed, s"${sum.malformed} malformed docs, planted ${planted.malformed}")
        ctx.check(ScoreDigest(sum.mentions, sum.mentionDigest, sum.triples, sum.tripleDigest) == ref,
          s"traced pass output differs from Pipeline.score: $sum vs $ref")
        Iter(bad, commits.length, w, noopNs, writeNs, tracedNs, sum)
      } finally KgBench.deleteTree(table)
    }
    ctx.check(iters.nonEmpty, "no traced iteration completed")
    ctx.check(iters.map(_.w.recordsRead).distinct.length == 1,
      s"docs records read differ between identical jobs: ${iters.map(_.w.recordsRead)}")
    val docs = readDocs(docsPath)
    val ner = nerF1(docs)
    val ddi = ddiF1(docs, Pipeline.score(spark, Pipeline.parse(spark, docs), models).flatMap(_.triples))
    val s = iters.map(_.sum).reduce(_ + _)
    val last = iters.last
    def med(f: Iter => Double) = Stats.median(iters.map(f))
    Seq(
      "io.scan_s" -> Stats.median(t.durations("io.scan").map(_ / 1e9)),
      "io.commit_s" -> med(it => (it.writeNs - it.noopNs) / 1e9),
      "io.scan_passes" -> Stats.scanPasses(last.w.recordsRead, rows).value,
      "io.manifests" -> last.manifests.toDouble,
      "io.sha_violations" -> last.bad.toDouble,
      "core.parse_ns_per_doc" -> s.parseNs.toDouble / s.docs,
      "core.tokenize_ns_per_sent" -> s.tokenizeNs.toDouble / s.sentences,
      "core.sentences" -> last.sum.sentences.toDouble,
      "core.tokens" -> last.sum.tokens.toDouble,
      "core.malformed_docs" -> last.sum.malformed.toDouble,
      "ner.tag_ns_per_token" -> s.tagNs.toDouble / s.tokens,
      "ner.decode_ns_per_sent" -> s.decodeNs.toDouble / s.sentences,
      "ner.mentions" -> last.sum.mentions.toDouble,
      "ner.f1" -> ner,
      "ddi.classify_ns_per_pair" -> s.classifyNs.toDouble / s.pairs,
      "ddi.candidate_pairs" -> last.sum.pairs.toDouble,
      "ddi.relations" -> last.sum.relations.toDouble,
      "ddi.relations_per_pair" -> Stats.relationsPerPair(last.sum.relations, last.sum.pairs).value,
      "ddi.f1" -> ddi,
      "kg.canon_ns_per_triple" -> s.canonNs.toDouble / s.triples,
      "kg.triples" -> last.sum.triples.toDouble,
      "pipeline.score_s" -> med(_.noopNs / 1e9),
      "pipeline.residual_share" -> med(it => Stats.residualShare(it.sum.layerNs, it.tracedNs, KgBench.Cores)),
      "pipeline.trace_overhead" -> med(it => Stats.traceOverhead(it.tracedNs, it.noopNs).value)
    ) ++ last.w.metrics
  }
}

/** kg_stream: the same pass as a stream, one repo file per micro-batch,
  * each committed by `Resume.writeResumable`. One operation is a whole
  * `AvailableNow` pass over the source into a fresh table; latency
  * samples are the micro-batches' trigger times.
  */
final class KgStream(ctx: Ctx) extends KgWorkload(ctx) {
  import spark.implicits._
  val Docs = 1500L
  /** One file, so one micro-batch, per repo: 51 batches leave 10 beyond
    * p80. 51 shares no factor with DocGen's `i % 10` repo rule, so every
    * repo gets docs.
    */
  val Repos = 51
  /** Files the untimed warm-up pass streams: the micro-batch path is
    * still JIT-compiling through its first ~15 batches.
    */
  val WarmFiles = 8
  private val seed = ctx.args.seed
  private val srcDir = ctx.dir("stream_src")
  private val warmDir = ctx.dir("stream_warm")
  private val rows = Inputs.docsRows(seed, Docs)
  private var files = 0
  private var ref: (Long, Long) = _

  def generate(): Long = ctx.timeNs {
    val tmp = ctx.dir("stream_tmp")
    Seq(tmp, srcDir, warmDir).foreach(KgBench.deleteTree)
    Inputs.docsTable(spark, seed, Docs, Repos).withColumn("_file", col("repo"))
      .repartition(col("_file")).write.partitionBy("_file").parquet(tmp.toString)
    // one file per repo: a micro-batch is one repo's commit unit
    Files.createDirectories(srcDir)
    Files.createDirectories(warmDir)
    val walk = Files.walk(tmp)
    val parts =
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toVector.sortBy(_.toString)
      finally walk.close()
    ctx.check(parts.groupBy(_.getParent).values.forall(_.length == 1), "a repo was written to more than one file")
    parts.zipWithIndex.foreach { case (p, k) =>
      if (k < WarmFiles) Files.copy(p, warmDir.resolve(f"$k%03d.parquet"))
      Files.move(p, srcDir.resolve(f"$k%03d.parquet"))
    }
    files = parts.length
    KgBench.deleteTree(tmp)
  }._2

  private def pass(src: Path, out: Path): (Long, Seq[BatchProgress]) = {
    ctx.batches.drain(spark.sparkContext)
    val schema = spark.read.parquet(src.toString).schema
    val t0 = System.nanoTime()
    val q = StreamOps.scoreStream(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src.toString), models)
      .flatMap(_.triples)
      .writeStream
      .foreachBatch { (b: Dataset[Triple], _: Long) =>
        Resume.writeResumable(spark, b, out.resolve("table").toString); ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", out.resolve("ckpt").toString)
      .start()
    q.awaitTermination()
    (System.nanoTime() - t0, ctx.batches.drain(spark.sparkContext))
  }

  private def batchReference(src: Path): (Long, Long) =
    tripleDigest(Pipeline.score(spark, Pipeline.parse(spark, readDocs(src)), models).flatMap(_.triples))

  private def verify(out: Path, expect: (Long, Long), nFiles: Int, bs: Seq[BatchProgress]): Unit = {
    val table = out.resolve("table").toString
    ctx.check(bs.length == nFiles, s"${bs.length} micro-batches for $nFiles files")
    ctx.check(Resume.committedRepos(table).size == nFiles, s"${Resume.committedRepos(table).size} manifests for $nFiles repos")
    val got = tripleDigest(Resume.read(spark, table))
    ctx.check(got == expect, s"stream table ${got._1} / ${Digest.hex(got._2)} != batch ${expect._1} / ${Digest.hex(expect._2)}")
  }

  def warmUp(): Unit = {
    ctx.check(readDocs(srcDir).count() == rows, s"stream source is not the $rows-row docs table")
    ref = batchReference(srcDir)
    ctx.note(s"kg_stream: $rows docs in $files repo files, batch reference ${ref._1} triples ${Digest.hex(ref._2)}")
    val out = ctx.dir("stream_warm_out")
    try {
      val (_, bs) = pass(warmDir, out)
      ctx.check(bs.length == WarmFiles, s"${bs.length} warm-up micro-batches for $WarmFiles files")
    } finally KgBench.deleteTree(out)
  }

  def op(i: Int): Op = {
    val out = ctx.dir(s"stream_out_$i")
    try {
      val (wall, bs) = pass(srcDir, out)
      ctx.note(s"pass $i micro-batch trigger ms, in order: ${bs.map(_.triggerMs).mkString(" ")}")
      verify(out, ref, files, bs)
      Op(rows, wall, bs.map(_.triggerMs.toDouble))
    } finally KgBench.deleteTree(out)
  }

  override def latenciesMs(ops: Seq[Op]): Seq[Double] = ops.flatMap(_.batchMs)
  override def latencyUnit: String = "one per micro-batch, triggerExecution"

  def traced(t: Tracer, seconds: Int): Seq[(String, Double)] = {
    val keep = ctx.dir("stream_out_traced")
    val iters = ctx.closedLoop(seconds) { i =>
      val out = ctx.dir(s"stream_traced_$i")
      val ((_, bs), w) = ctx.counters.window(spark.sparkContext)(t.span("pass")(pass(srcDir, out)))
      verify(out, ref, files, bs)
      KgBench.deleteTree(keep)
      Files.move(out, keep)
      (bs, w)
    }
    ctx.check(iters.nonEmpty, "no traced pass completed")
    val ddi = ddiF1(readDocs(srcDir), Resume.read(spark, keep.resolve("table").toString))
    KgBench.deleteTree(keep)
    val bs = iters.flatMap(_._1)
    val w = iters.last._2
    Seq(
      "streaming.add_batch_ms_p50" -> Stats.median(bs.map(_.addBatchMs.toDouble)),
      "streaming.overhead_ms_p50" -> Stats.median(bs.map(b => (b.triggerMs - b.addBatchMs).toDouble)),
      "streaming.batches" -> iters.last._1.length.toDouble,
      "io.manifests" -> files.toDouble,
      "io.scan_passes" -> Stats.scanPasses(w.recordsRead, rows).value,
      "ddi.f1" -> ddi
    ) ++ w.metrics
  }
}

/** neardup_skewed: `Dedup.nearDupClusters` (default minBands = 1) over a
  * seeded table of planted ~5-doc near-dup clusters plus one hot cluster
  * of about 2% of rows, into a noop sink.
  */
final class NearDupSkewed(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._
  val Docs = 40000L
  private val seed = ctx.args.seed
  private val path = ctx.dir("neardup_docs")
  private var expected: (Long, Long) = _

  private def docs: DataFrame = spark.read.parquet(path.toString)

  def generate(): Long = ctx.timeNs {
    KgBench.deleteTree(path)
    Inputs.nearDupTable(spark, seed, Docs).write.parquet(path.toString)
  }._2

  /** (clusters, assignment digest) of a `(doc_id, cluster_id)` frame. */
  private def clusterDigest(df: DataFrame): (Long, Long) =
    df.select(col("doc_id"), col("cluster_id")).as[(Long, Long)].mapPartitions { it =>
      var roots, d = 0L
      it.foreach { case (id, c) => if (id == c) roots += 1; d += Digest.cluster(id, c) }
      Iterator.single((roots, d))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }

  def warmUp(): Unit = {
    expected = Inputs.expectedClusters(seed, Docs)
    val got = clusterDigest(Dedup.nearDupClusters(spark, docs))
    ctx.note(s"neardup_skewed: $Docs docs, ${got._1} clusters, digest ${Digest.hex(got._2)}")
    ctx.check(got == expected, s"clusters $got != planted $expected")
    if (seed == Pinned.Seed) ctx.check(got == Pinned.NearDup, s"default-seed clusters $got != pinned ${Pinned.NearDup}")
    (1 to KgBench.WarmOps).foreach(k => op(-k))
  }

  def op(i: Int): Op = {
    val (_, wall) = ctx.timeNs(Dedup.nearDupClusters(spark, docs).write.format("noop").mode("overwrite").save())
    Op(Docs, wall)
  }

  def traced(t: Tracer, seconds: Int): Seq[(String, Double)] = {
    val iters = ctx.closedLoop(seconds) { _ =>
      val (_, w) = ctx.counters.window(spark.sparkContext)(t.span("op")(op(0)))
      t.span("ops.minhash")(Dedup.minhashSignatures(docs).write.format("noop").mode("overwrite").save())
      val buckets = Dedup.minhashSignatures(docs)
        .groupBy(col("band"), col("sig"))
        .agg(collect_list(col("doc_id")).as("members"))
        .filter(size(col("members")) > 1)
        .localCheckpoint()
      val stat = buckets.agg(max(size(col("members"))), sum(size(col("members")) - 1)).head()
      val edges = buckets.select(col("members")).as[Seq[Long]].flatMap { ms =>
        val hub = ms.min
        ms.iterator.filter(_ != hub).map(m => (hub, m))
      }.localCheckpoint()
      val (cc, ccw) = ctx.counters.window(spark.sparkContext)(t.span("kg.cc") {
        val c = Canonicalize.connectedComponentsLong(spark, edges)
        c.count()
        c
      })
      val clusters = docs.select(col("doc_id"))
        .join(cc.select(col("node").as("doc_id"), col("comp").as("cluster_id")), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val got = clusterDigest(clusters)
      ctx.check(got == expected, s"traced clusters $got != planted $expected")
      (w, ccw, stat.getInt(0).toLong, stat.getLong(1))
    }
    ctx.check(iters.nonEmpty, "no traced iteration completed")
    val last = iters.last
    Seq(
      "ops.minhash_s" -> Stats.median(t.durations("ops.minhash").map(_ / 1e9)),
      "ops.max_bucket_members" -> last._3.toDouble,
      "ops.star_edges" -> last._4.toDouble,
      "kg.cc_s" -> Stats.median(t.durations("kg.cc").map(_ / 1e9)),
      "kg.cc_jobs" -> last._2.jobs.toDouble,
      "io.scan_passes" -> Stats.scanPasses(last._1.recordsRead, Docs).value
    ) ++ last._1.metrics
  }
}
