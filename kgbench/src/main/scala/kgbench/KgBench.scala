package kgbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** The KG-job benchmark: one closed-loop client (one job or micro-batch
  * at a time) against a `local[<=4]` session, on inputs made from the
  * seed.
  *
  *   kgbench.KgBench --workload kg_batch|kg_stream|neardup_skewed
  *     --seed N --seconds S --trace 0|1 --work-dir DIR --trace-dir DIR
  *
  * Untraced runs (`--trace 0`) print the end-to-end metrics; traced runs
  * (`--trace 1`) print the per-layer metrics. The last stdout line is
  * one JSON object; earlier lines are a readable report.
  */
object KgBench {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, workDir: Path, traceDir: Path)

  /** Unit of every metric the benchmark can print. */
  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "docs_per_s" -> "1/s", "batch_p50_ms" -> "ms", "batch_p80_ms" -> "ms",
    "peak_rss_mb" -> "MB",
    "io.scan_s" -> "s", "io.commit_s" -> "s", "io.scan_passes" -> "ratio", "io.manifests" -> "count",
    "io.sha_violations" -> "count",
    "core.parse_ns_per_doc" -> "ns", "core.tokenize_ns_per_sent" -> "ns", "core.sentences" -> "count",
    "core.tokens" -> "count", "core.malformed_docs" -> "count",
    "ner.tag_ns_per_token" -> "ns", "ner.decode_ns_per_sent" -> "ns", "ner.mentions" -> "count",
    "ner.f1" -> "ratio",
    "ddi.classify_ns_per_pair" -> "ns", "ddi.candidate_pairs" -> "count", "ddi.relations" -> "count",
    "ddi.relations_per_pair" -> "ratio", "ddi.f1" -> "ratio",
    "kg.canon_ns_per_triple" -> "ns", "kg.triples" -> "count", "kg.cc_s" -> "s", "kg.cc_jobs" -> "count",
    "ops.minhash_s" -> "s", "ops.max_bucket_members" -> "count", "ops.star_edges" -> "count",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.overhead_ms_p50" -> "ms", "streaming.batches" -> "count",
    "pipeline.score_s" -> "s", "pipeline.residual_share" -> "ratio", "pipeline.trace_overhead" -> "ratio",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.cpu_util" -> "ratio",
    "setup.session_s" -> "s", "setup.fit_s" -> "s", "setup.gen_s" -> "s",
    "failed_ops_ratio" -> "ratio"
  )

  val EndToEnd: Seq[String] = Seq("setup_s", "docs_per_s", "batch_p50_ms", "batch_p80_ms", "peak_rss_mb")
  val PerLayer: Seq[String] = Units.keys.filterNot(EndToEnd.contains).toSeq.sorted

  /** Times input generation is repeated; its median enters `setup_s`.
    * The model fit runs once, cold, as it does for a user's fresh
    * process (and a second fit would cost ~4 s of each run).
    */
  val SetupReps = 3

  /** Untimed operations after the checked warm-up pass. On a 4-core
    * host with only one, the next job still ran 20-40% slower than the
    * ones after it (kg_batch, neardup_skewed), so it set the median of a
    * short run.
    */
  val WarmOps = 2

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val code =
      try run(args)
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work-dir", "trace-dir")
    require(kv.keySet.subsetOf(known) && argv.length % 2 == 0,
      "usage: --workload W --seed N --seconds S --trace 0|1 --work-dir D --trace-dir D")
    val w = kv.getOrElse("workload", "")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, kv.getOrElse("seed", "42").toLong, kv.getOrElse("seconds", "10").toInt,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv.getOrElse("work-dir", ".bench_build/work")).toAbsolutePath,
      Paths.get(kv.getOrElse("trace-dir", ".bench_build/traces")).toAbsolutePath)
  }

  val Workloads: Seq[String] = Seq("kg_batch", "kg_stream", "neardup_skewed")

  /** Local cores: the host's, at most 4, so hosts stay comparable. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def run(args: Args): Int = {
    deleteTree(args.workDir)
    Files.createDirectories(args.workDir)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"kgbench-${args.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", args.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val batches = new BatchLog
    spark.streams.addListener(batches)
    spark.range(1).count() // the session is ready once it has run a job
    val sessionNs = System.nanoTime() - t0
    val ctx = new Ctx(spark, args, counters, batches)
    try {
      val w: Workload = args.workload match {
        case "kg_batch"       => new KgBatch(ctx)
        case "kg_stream"      => new KgStream(ctx)
        case "neardup_skewed" => new NearDupSkewed(ctx)
      }
      report(ctx, w, sessionNs)
    } finally {
      spark.stop()
      deleteTree(args.workDir)
    }
  }

  private def report(ctx: Ctx, w: Workload, sessionNs: Long): Int = {
    val a = ctx.args
    val fitNs = w.fit()
    val gens = (1 to SetupReps).map { rep =>
      val ns = w.generate()
      ctx.note(f"generation $rep: ${ns / 1e9}%.2f s")
      ns / 1e9
    }
    val fitS = fitNs / 1e9
    val genS = Stats.median(gens)
    val setupS = sessionNs / 1e9 + fitS + genS
    ctx.note(f"setup: session ${sessionNs / 1e9}%.2f s + fit $fitS%.2f s + median generation $genS%.2f s")
    ctx.attempt("warm-up")(w.warmUp())
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!a.trace) {
      val ops = ctx.closedLoop(a.seconds)(i => w.op(i))
      val lat = w.latenciesMs(ops)
      val tput = ops.map(o => Stats.docsPerSecond(o.docs, o.wallNs).value)
      require(ops.nonEmpty && lat.nonEmpty, "no operation completed")
      ctx.note(s"op walls ms, in order: ${ops.map(o => f"${o.wallNs / 1e6}%.0f").mkString(" ")}")
      ctx.note(s"ops=${ops.length} latency samples=${lat.length} (${w.latencyUnit}); " +
        s"p80 has ${Stats.beyond(lat.length, 80)} samples beyond it" +
        (if (Stats.reportable(lat.length, 80)) "" else " (fewer than 10: read as indicative)"))
      metrics ++= Seq(
        "setup_s" -> setupS,
        "docs_per_s" -> Stats.median(tput),
        "batch_p50_ms" -> Stats.percentile(lat, 50),
        "batch_p80_ms" -> Stats.percentile(lat, 80),
        "peak_rss_mb" -> Host.peakRssMb())
    } else {
      PerLayer.foreach(metrics(_) = 0.0)
      metrics ++= Seq("setup.session_s" -> sessionNs / 1e9, "setup.fit_s" -> fitS, "setup.gen_s" -> genS)
      val tracer = new Tracer(s"${a.workload}-seed${a.seed}-${ProcessHandle.current().pid()}")
      metrics ++= w.traced(tracer, a.seconds)
      tracer.write(a.traceDir.resolve(s"${tracer.runId}.jsonl"))
    }
    metrics("failed_ops_ratio") = Stats.failedRatio(ctx.failed, ctx.attempted).value
    val correct = ctx.failed == 0
    printResult(ctx, metrics.toSeq, correct)
    if (correct) 0 else 1
  }

  private def printResult(ctx: Ctx, metrics: Seq[(String, Double)], correct: Boolean): Unit = {
    val a = ctx.args
    ctx.note(s"host: cpus=${Runtime.getRuntime.availableProcessors()} local[$Cores] " +
      f"mem=${Host.memTotalGb()}%.1f GB jdk=${System.getProperty("java.version")} spark=${ctx.spark.version}")
    metrics.foreach { case (k, v) => ctx.note(f"$k%-28s $v%.6g ${Units(k)}") }
    val body = metrics.filter { case (k, _) => if (a.trace) PerLayer.contains(k) else EndToEnd.contains(k) }
      .map { case (k, v) => s""""$k": {"value": ${jsonNum(v)}, "unit": "${Units(k)}"}""" }
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$body}}""")
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
}

/** What one closed-loop operation did. */
final case class Op(docs: Long, wallNs: Long, batchMs: Seq[Double] = Nil)

/** Shared run state: the session, listeners and the op tally. */
final class Ctx(val spark: SparkSession, val args: KgBench.Args, val counters: SparkCounters, val batches: BatchLog) {
  var attempted = 0
  var failed = 0

  private val t0 = System.nanoTime()

  def note(s: String): Unit = println(f"# [${(System.nanoTime() - t0) / 1e9}%6.1f s] $s")

  def dir(name: String): Path = args.workDir.resolve(name)

  /** Runs one operation, counting it; a throw or a failed check counts as
    * failed and yields None.
    */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"FAILED $what: $e")
        e.printStackTrace()
        None
    }
  }

  /** Closed loop: the next operation starts when the previous ends,
    * until `seconds` have passed; at least one runs.
    */
  def closedLoop[T](seconds: Int)(op: Int => T): Seq[T] = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    val out = mutable.ArrayBuffer.empty[T]
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      attempt(s"op $i")(op(i)).foreach(out += _)
      i += 1
    }
    out.toSeq
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new IllegalStateException(s"check failed: $what")

  def timeNs[T](body: => T): (T, Long) = {
    val t = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t)
  }
}
