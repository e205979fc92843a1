package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

object StreamOpsSpec {
  /** A docs-table row with its ingest-time sha, as a MemoryStream element. */
  final case class ShaDoc(repo: String, path: String, commit: String, lang: String,
      content: String, content_sha: String)

  /** A stateful operator over a MemoryStream of `T`, fed two micro-batches. */
  final case class RestartCase[T](
      name: String,
      op: org.apache.spark.sql.Dataset[T] => org.apache.spark.sql.Dataset[_],
      batch1: Seq[T],
      batch2: Seq[T])(implicit val enc: org.apache.spark.sql.Encoder[T])
}

class StreamOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ts(min: Long) = new Timestamp(86400000L + 60000L * min)

  test("windowedCounts: tumbling event-time windows with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.Event]
    mem.addData(
      StreamOps.Event(1, ts(1), 1, "click", 1.0),
      StreamOps.Event(2, ts(3), 2, "click", 2.0),
      StreamOps.Event(3, ts(12), 1, "view", 3.0)
    )
    val q = StreamOps
      .windowedCounts(mem.toDF(), windowSec = 600, lateSec = 300)
      .writeStream.format("memory").queryName("wc")
      .outputMode("append").start()
    q.processAllAvailable()
    mem.addData(StreamOps.Event(4, ts(60), 1, "click", 4.0)) // advances watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wc").collect()
      .map(r => ((r.getTimestamp(0).getTime - 86400000L) / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows.contains((0L, "click", 2L, 3.0)))
    assert(rows.contains((10L, "view", 1L, 3.0)))
  }

  test("scoreStream: streaming KG pass equals the batch pipeline on the same docs") {
    import spark.implicits._
    import graft.pipeline.Pipeline
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.fixtures.DocGen.corpus(spark, 30)
    val train = Pipeline.parse(spark, corpus)
    val models = spark.sparkContext.broadcast(Pipeline.fit(spark, train, "hybrid"))

    val batch = Pipeline.score(spark, train, models).collect()
      .map(r => r.sid -> (r.mentions.toList, r.triples.toList)).toMap

    val docRows = corpus.as[StreamOpsSpec.ShaDoc].collect()
    val mem = MemoryStream[StreamOpsSpec.ShaDoc]
    mem.addData(docRows.take(15).toSeq)
    val q = StreamOps.scoreStream(spark, mem.toDF(), models)
      .writeStream.format("memory").queryName("kg_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    mem.addData(docRows.drop(15).toSeq) // second micro-batch
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("kg_stream").as[Pipeline.SentenceResult].collect()
      .map(r => r.sid -> (r.mentions.toList, r.triples.toList)).toMap
    assert(streamed == batch, s"stream(${streamed.size}) != batch(${batch.size})")
    assert(batch.valuesIterator.map(_._1.size).sum > 0, "fixture produced no mentions")
    models.destroy()
  }

  test("dedupStream: duplicate event ids dropped across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.Event]
    mem.addData(
      StreamOps.Event(1, ts(1), 1, "click", 1.0),
      StreamOps.Event(1, ts(1), 1, "click", 1.0), // dup in-batch
      StreamOps.Event(2, ts(2), 2, "view", 2.0)
    )
    val q = StreamOps.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    mem.addData(StreamOps.Event(1, ts(3), 1, "click", 1.0)) // dup across batches
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L), s"expected exactly one of each id, got ${ids.toSeq}")
  }

  test("dedupStream: a duplicate arriving beyond the watermark delay is re-emitted") {
    // pins the bounded-state contract: dedup is guaranteed only WITHIN
    // the watermark delay; after eviction the id is new again. This is
    // the deliberate tradeoff vs unbounded per-id state (see dedupStream
    // doc) — if it ever changes, this test should be revisited on purpose.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.Event]
    mem.addData(StreamOps.Event(1, ts(0), 1, "click", 1.0))
    val q = StreamOps.dedupStream(mem.toDF(), lateSec = 60)
      .writeStream.format("memory").queryName("dedup_late")
      .outputMode("append").start()
    q.processAllAvailable()
    // advance event time far past the 60s delay so id 1's state evicts...
    mem.addData(StreamOps.Event(2, ts(600), 2, "view", 2.0))
    q.processAllAvailable()
    // ...then the same id arrives again, in-watermark relative to now
    mem.addData(StreamOps.Event(1, ts(601), 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val ones = spark.table("dedup_late").collect().map(_.getLong(0)).count(_ == 1L)
    assert(ones == 2, s"id 1 should be re-emitted after watermark eviction, got $ones")
  }

  test("annDedupStream: near-identical vectors suppressed across micro-batches; far vectors pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def v(base: Float, eps: Float = 0f): Seq[Float] =
      Seq.tabulate(8)(i => base + (if (i == 0) eps else 0f))
    val mem = MemoryStream[StreamOps.EmbRow]
    mem.addData(
      StreamOps.EmbRow(1L, v(1.0f)),
      StreamOps.EmbRow(2L, v(1.0f, 0.001f)), // near-dup of 1 (same batch, higher id)
      StreamOps.EmbRow(3L, v(-1.0f)) // opposite orthant: different bucket
    )
    val q = StreamOps.annDedupStream(spark, mem.toDS(), threshold = 0.999)
      .writeStream.format("memory").queryName("ann_dedup_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    // cross-batch: another near-dup of 1, and a genuinely new direction
    mem.addData(
      StreamOps.EmbRow(4L, v(1.0f, 0.002f)),
      StreamOps.EmbRow(5L, Seq.tabulate(8)(i => if (i % 2 == 0) 1f else -1f)))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("ann_dedup_stream").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L, 5L),
      s"expected first-of-each-direction only, got $ids")
  }

  test("annDedupStream: ring eviction re-admits a dup beyond maxPerBucket (bounded-state contract)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // orthogonal vectors so nothing suppresses; maxPerBucket=2 ring
    // evicts vec 1, then its exact copy is re-admitted — pins the
    // bounded-cache trade the scaladoc states, like the dedupStream twin
    def basis(i: Int, sign: Float = 1f): Seq[Float] =
      Seq.tabulate(8)(d => if (d == i) sign else 0f)
    // Eviction needs >= maxPerBucket admissions in vec 1's OWN bucket,
    // and bucket assignment is a murmur3-derived plane sign we must not
    // guess at — so pin it by construction: bucket the candidate
    // directions with the real batch bucketer and flood only with two
    // that share vec 1's bucket (all mutually orthogonal or antipodal,
    // so none suppresses another).
    val cands = (1 to 7).flatMap(i =>
      Seq((i.toLong * 2, basis(i)), (i.toLong * 2 + 1, basis(i, -1f))))
    val bucketOf = graft.ops.Similarity.lshBuckets(
        ((1L, basis(0)) +: cands).toDF("vec_id", "embedding"), nPlanes = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val flood = cands.filter { case (id, _) => bucketOf(id) == bucketOf(1L) }.take(2)
    assert(flood.size == 2,
      "degenerate plane: fewer than 2 orthogonal directions share vec 1's bucket")
    val mem = MemoryStream[StreamOps.EmbRow]
    val q = StreamOps.annDedupStream(spark, mem.toDS(), threshold = 0.999,
      nPlanes = 1, maxPerBucket = 2) // 1 plane: at most 2 buckets
    val query = q.writeStream.format("memory").queryName("ann_dedup_ring")
      .outputMode("append").start()
    mem.addData(StreamOps.EmbRow(1L, basis(0)))
    query.processAllAvailable()
    mem.addData(flood.map { case (id, v) => StreamOps.EmbRow(id, v) }: _*)
    query.processAllAvailable()
    mem.addData(StreamOps.EmbRow(100L, basis(0))) // exact copy of evicted vec 1
    query.processAllAvailable()
    query.stop()
    val ids = spark.table("ann_dedup_ring").collect().map(_.getLong(0)).toSet
    assert(ids.contains(100L), s"evicted direction must be re-admitted, got $ids")
  }

  test("ivfDedupStream: per-cluster dups suppressed across micro-batches; distinct cells pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def basis(i: Int, eps: Float = 0f): Seq[Float] =
      Seq.tabulate(8)(d => if (d == i) 1f else if (d == (i + 1) % 8) eps else 0f)
    // static centroid snapshot: one sampled point per planted cluster —
    // the offline-index-then-serve split the scaladoc describes
    val centroids = Seq((0, basis(0)), (1, basis(2)), (2, basis(4)))
    val mem = MemoryStream[StreamOps.EmbRow]
    mem.addData(
      StreamOps.EmbRow(1L, basis(0, 0.001f)), // cell 0, first of cluster A
      StreamOps.EmbRow(2L, basis(0, 0.002f)), // near-dup of 1, same cell: suppressed
      StreamOps.EmbRow(3L, basis(2))) // cell 1: passes
    val q = StreamOps.ivfDedupStream(spark, mem.toDS(), centroids, threshold = 0.999)
      .writeStream.format("memory").queryName("ivf_dedup_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    // cross-batch: another cluster-A dup, and the first cell-2 vector
    mem.addData(
      StreamOps.EmbRow(4L, basis(0, 0.003f)),
      StreamOps.EmbRow(5L, basis(4, 0.001f)))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("ivf_dedup_stream").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L, 5L), s"expected first-of-each-cluster only, got $ids")
  }

  test("ivfDedupStream: ring eviction re-admits a dup beyond maxPerCell (bounded-state contract)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def basis(i: Int, sign: Float = 1f): Seq[Float] =
      Seq.tabulate(8)(d => if (d == i) sign else 0f)
    // one centroid only: every vector assigns to cell 0, and the flood
    // vectors (basis(0) + 0.5·basis(i)) are mutually far (cos 0.8 <
    // 0.999) so none suppresses another — deterministic eviction
    def nearC0(i: Int): Seq[Float] =
      Seq.tabulate(8)(d => if (d == 0) 1f else if (d == i) 0.5f else 0f)
    val mem = MemoryStream[StreamOps.EmbRow]
    val q = StreamOps.ivfDedupStream(
      spark, mem.toDS(), Seq((0, basis(0))), threshold = 0.999, maxPerCell = 2)
      .writeStream.format("memory").queryName("ivf_dedup_ring")
      .outputMode("append").start()
    mem.addData(StreamOps.EmbRow(1L, basis(0)))
    q.processAllAvailable()
    mem.addData(StreamOps.EmbRow(2L, nearC0(1)), StreamOps.EmbRow(3L, nearC0(2)))
    q.processAllAvailable()
    mem.addData(StreamOps.EmbRow(100L, basis(0))) // exact copy of evicted vec 1
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("ivf_dedup_ring").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 100L),
      s"evicted vector's copy must be re-admitted after maxPerCell admissions, got $ids")
  }

  test("ivfDedupStream: history-preloaded rings suppress delta dups against the ingested corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def basis(i: Int, eps: Float = 0f): Seq[Float] =
      Seq.tabulate(8)(d => if (d == i) 1f else if (d == (i + 1) % 8) eps else 0f)
    val centroids = Seq((0, basis(0)), (1, basis(2)), (2, basis(4)))
    // the ingested corpus: one vector near centroid 0, one near centroid 1
    val history = Seq((100L, basis(0, 0.001f)), (101L, basis(2, 0.001f)))
      .toDF("vec_id", "embedding")
    val mem = MemoryStream[StreamOps.EmbRow]
    val q = StreamOps.ivfDedupStream(
      spark, mem.toDS(), centroids, threshold = 0.999, historyVecs = Some(history))
      .writeStream.format("memory").queryName("ivf_dedup_hist")
      .outputMode("append").start()
    mem.addData(
      StreamOps.EmbRow(1L, basis(0, 0.002f)), // near history 100 -> suppressed
      StreamOps.EmbRow(2L, basis(2, 0.002f)), // near history 101 -> suppressed
      StreamOps.EmbRow(3L, basis(4))) // cell 2 has no history: admitted
    q.processAllAvailable()
    mem.addData(StreamOps.EmbRow(4L, basis(4, 0.001f))) // dup of the batch-1 admit
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("ivf_dedup_hist").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(3L),
      s"history dups must be suppressed from the FIRST batch, got $ids")
  }

  test("ivfDedupStream: preload REPLAYS the admission rule — dup-laden history stays suppressive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def basis(i: Int, eps: Float = 0f): Seq[Float] =
      Seq.tabulate(8)(d => if (d == i) 1f else if (d == (i + 1) % 8) eps else 0f)
    val centroids = Seq((0, basis(0)))
    // history in id order: v1 (distinct), then v2 and two near-copies.
    // A live stream with maxPerCell=2 admits v1, v2 and SKIPS the
    // copies, leaving ring [v1, v2]; a raw takeRight(2) preload would
    // instead hold the two copies and let a delta near v1 through.
    val history = Seq(
      (1L, basis(0, 0.010f)), // v1
      (2L, basis(1, 0.010f)), // v2 (distinct from v1)
      (3L, basis(1, 0.011f)), // ≈ v2: a live stream skips it
      (4L, basis(1, 0.012f))) // ≈ v2: skipped too
      .toDF("vec_id", "embedding")
    val mem = MemoryStream[StreamOps.EmbRow]
    val q = StreamOps.ivfDedupStream(
      spark, mem.toDS(), centroids, threshold = 0.999, maxPerCell = 2,
      historyVecs = Some(history))
      .writeStream.format("memory").queryName("ivf_dedup_replay")
      .outputMode("append").start()
    mem.addData(StreamOps.EmbRow(10L, basis(0, 0.0101f))) // ≈ v1: must be suppressed
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("ivf_dedup_replay").collect().map(_.getLong(0)).toSeq
    assert(ids.isEmpty,
      s"delta near an ADMITTED history vector must be suppressed, got $ids")
  }

  test("incrementalDedupStream: preloaded fingerprint store + cross-batch admission") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // history store preloaded as initial state
    val history = Seq((100L, "already ingested"), (101L, "old news")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.incrementalDedupStream(
      spark, mem.toDF().toDF("doc_id", "text"), graft.ops.Dedup.digests(history))
      .writeStream.format("memory").queryName("incr_dedup_stream")
      .outputMode("append").start()
    // batch 1: a history dup, a fresh pair (kept + within-batch dup), a unique
    mem.addData(
      (1L, "already ingested"),
      (2L, "fresh content"), (3L, "fresh content"),
      (4L, "unique doc"))
    q.processAllAvailable()
    // batch 2: dup of the batch-1 admit (its survivor IS ingested now) and
    // another history dup
    mem.addData((5L, "fresh content"), (6L, "old news"))
    q.processAllAvailable()
    q.stop()
    val r = spark.table("incr_dedup_stream").collect()
      .map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r == Map(
      1L -> "exact_dup_history",
      2L -> "kept",
      3L -> "exact_dup_delta",
      4L -> "kept",
      5L -> "exact_dup_history",
      6L -> "exact_dup_history"), s"got $r")
  }

  test("incrementalDedupStream: one micro-batch equals the batch op row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val history = Seq((50L, "h one"), (51L, "h two"), (52L, "h one")).toDF("doc_id", "text")
    val delta = Seq(
      (1L, "h one"), (2L, "d new"), (3L, "d new"), (4L, "h two"),
      (5L, "solo"), (6L, "d new"))
    val batch = graft.ops.Dedup.incrementalDedup(
      delta.toDF("doc_id", "text"), graft.ops.Dedup.digests(history))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSet
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.incrementalDedupStream(
      spark, mem.toDF().toDF("doc_id", "text"), graft.ops.Dedup.digests(history))
      .writeStream.format("memory").queryName("incr_dedup_eq")
      .outputMode("append").start()
    mem.addData(delta: _*)
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("incr_dedup_eq").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSet
    assert(stream == batch, s"stream $stream != batch $batch")
  }

  test("paragraphDedupStream: one micro-batch equals the batch op's kept decisions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "intro\n\nshared boilerplate\n\nbody one"),
      (2L, "shared boilerplate\n\nbody two"),
      (3L, "dup\n\ndup\n\nunique"),
      (4L, "shared boilerplate"))
    // batch truth: the keeper contract replayed in plain Scala (the
    // reassembled TEXT can't distinguish an intra-doc duplicate span
    // from its survivor), plus a consistency check that the batch op's
    // n_kept agrees with the replay
    val firstOwner = corpus
      .flatMap { case (id, t) =>
        t.split("\n\n", -1).zipWithIndex.map { case (p, i) => (p, (id, i)) }
      }
      .groupBy(_._1).map { case (p, occ) => p -> occ.map(_._2).min }
    val batchKept = corpus.flatMap { case (id, t) =>
      t.split("\n\n", -1).zipWithIndex.map { case (p, i) =>
        ((id, i), firstOwner(p) == ((id, i)))
      }
    }.toMap
    val batchNKept = graft.ops.Dedup.paragraphDedup(corpus.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    corpus.foreach { case (id, _) =>
      assert(batchNKept(id) == batchKept.count { case ((d, _), k) => d == id && k },
        s"batch op n_kept disagrees with the replay for doc $id")
    }
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.paragraphDedupStream(spark, mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("para_dedup_stream")
      .outputMode("append").start()
    mem.addData(corpus: _*)
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("para_dedup_stream").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getInt(3) == 1)).toMap
    // every batch-kept paragraph is stream-kept and vice versa (the
    // batch survivor rule IS min (doc_id, para_idx) within one batch)
    assert(stream.keySet == batchKept.keySet, s"span sets differ: $stream")
    // batch truth via text can't see kept-but-empty paragraphs; compare
    // on the digest-level decisions instead for non-empty paras
    stream.foreach { case (k, kept) =>
      assert(kept == batchKept(k), s"span $k: stream=$kept batch=${batchKept(k)}")
    }
  }

  test("paragraphDedupStream: preloaded digest store + cross-batch suppression") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val history = Seq((100L, "known banner\n\nold body")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.paragraphDedupStream(
      spark, mem.toDF().toDF("doc_id", "text"),
      initialDigests = Some(graft.ops.Dedup.paragraphDigests(history)))
      .writeStream.format("memory").queryName("para_dedup_incr")
      .outputMode("append").start()
    mem.addData((1L, "known banner\n\nfresh text")) // banner preloaded -> dropped
    q.processAllAvailable()
    mem.addData((2L, "fresh text\n\nnewer still")) // fresh text admitted in batch 1
    q.processAllAvailable()
    q.stop()
    val r = spark.table("para_dedup_incr").collect()
      .map(x => ((x.getLong(0), x.getInt(1)), x.getInt(3))).toMap
    assert(r == Map(
      (1L, 0) -> 0, // known banner: in the preloaded store
      (1L, 1) -> 1, // fresh text: first occurrence ever
      (2L, 0) -> 0, // fresh text again: admitted last batch
      (2L, 1) -> 1), s"got $r")
  }

  test("dupSpansStream: one micro-batch over a preloaded store equals the incremental batch op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 4
    val history = Seq((10L, "a b c d e f")).toDF("doc_id", "text")
    val delta = Seq(
      (20L, "z z a b c d e f"), // last 3 windows hit history; "z z a b" fresh
      (21L, "z z a b c d e f")) // copy of 20: every window flagged
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.dupSpansStream(
      spark, mem.toDF().toDF("doc_id", "text"), k,
      initialDigests = Some(graft.ops.Dedup.windowDigests(history, k)))
      .writeStream.format("memory").queryName("dup_spans_stream")
      .outputMode("append").start()
    mem.addData(delta: _*)
    q.processAllAvailable()
    q.stop()
    val flags = spark.table("dup_spans_stream").collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getInt(2))).toMap
    // every window occurrence of every delta doc is emitted exactly once
    assert(flags.keySet == Set(20L, 21L).flatMap(id => (0 to 4).map(id -> _)),
      s"window event set: ${flags.keySet}")
    // doc 20: starts 2,3,4 match history, 0,1 are fresh keepers;
    // doc 21: everything is a history hit or a doc-20 delta dup
    assert((0 to 4).map(i => flags((20L, i))) == Seq(0, 0, 1, 1, 1), s"doc 20: $flags")
    assert((0 to 4).forall(i => flags((21L, i)) == 1), s"doc 21: $flags")
    // fold the emitted flags into signals: must equal the batch op
    val batch = graft.ops.Dedup.incrementalDupSpans(
      delta.toDF("doc_id", "text"),
      graft.ops.Dedup.windowDigests(history, k), k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    Seq(20L, 21L).foreach { id =>
      val starts = flags.collect { case ((d, s), 1) if d == id => s }.toSeq.sorted
      val mass = starts.foldLeft((0L, 0L)) { case ((prevEnd, m), s) =>
        (s + k.toLong, m + (s + k) - math.max(s.toLong, prevEnd))
      }._2
      assert(batch(id) == ((starts.size.toLong, mass)), s"doc $id: stream-folded signals != batch")
    }
  }

  test("dupSpansStream: earlier-batch admission suppresses later re-occurrences") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 4
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.dupSpansStream(spark, mem.toDF().toDF("doc_id", "text"), k)
      .writeStream.format("memory").queryName("dup_spans_incr")
      .outputMode("append").start()
    mem.addData((1L, "a b c d")) // the single window is admitted
    q.processAllAvailable()
    mem.addData((2L, "a b c d"), (3L, "w x y z")) // 2 re-occurs; 3 is fresh
    q.processAllAvailable()
    q.stop()
    val r = spark.table("dup_spans_incr").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2))).toSet
    assert(r == Set((1L, 0, 0), (2L, 0, 1), (3L, 0, 0)), s"got $r")
  }

  test("nearDupStream: fingerprint-identical docs within the watermark are suppressed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(
      (1L, "the quick brown fox jumps", ts(0)),
      (2L, "the quick brown fox jumps", ts(1)), // identical content, different id
      (3L, "a completely different document body", ts(1)))
    val q = StreamOps.nearDupStream(mem.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("neardup_stream").select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.length == 2 && ids.contains(3L),
      s"one of the identical twins must be dropped, got ${ids.toSeq}")
  }

  test("decontaminateStream: streaming flags equal the batch decontaminate on the same docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq(
      (100L, "what is the capital of france"),
      (101L, "solve for x in the equation")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "my essay asks what is the capital of france twice: what is the capital of france"),
      (2L, "an entirely clean training document about cooking pasta"),
      (3L, "short doc"), // fewer than k tokens: must not crash, must emit 0
      (4L, "students solve for x in the equation and also ask what is the capital of france"))
      .toDF("doc_id", "text")

    val batch = graft.ops.TextOps.decontaminate(docs, bench, k = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap

    val shingles = StreamOps.benchmarkShingles(spark, bench, k = 5)
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, docs.where($"doc_id" === 1).head().getString(1)), (2L, "an entirely clean training document about cooking pasta"))
    val q = StreamOps.decontaminateStream(spark, mem.toDF().toDF("doc_id", "text"), shingles, k = 5)
      .writeStream.format("memory").queryName("decont_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    mem.addData((3L, "short doc"),
      (4L, "students solve for x in the equation and also ask what is the capital of france"))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("decont_stream").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(streamed == batch, s"stream $streamed != batch $batch")
    // The fixture must exercise both outcomes and a multi-shingle hit.
    assert(batch(1L)._2 == 1 && batch(2L) == ((0L, 0)) && batch(3L) == ((0L, 0)))
    assert(batch(4L)._1 >= 2L, s"doc 4 overlaps both benchmark items: ${batch(4L)}")
    shingles.destroy()
  }

  test("piiScrub: the batch operator runs unchanged on a stream (stateless row-local select)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(
      (1L, "ping a@b.io at 555-1234"),
      (2L, "clean row"))
    val q = graft.ops.TextOps.piiScrub(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("pii_stream").collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("pii_total"), r.getAs[String]("redacted"))).toMap
    assert(rows == Map(
      1L -> ((2L, "ping <EMAIL> at <PHONE>")),
      2L -> ((0L, "clean row"))))
  }

  test("filterPolicyStream: streaming policy equals the batch policy on the same docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val distinct20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      (1L, "zh", distinct20), // lang
      (2L, "en", "only five words right here"), // too_short
      (3L, "en", (1 to 95).map(i => s"w$i").mkString(" ")), // too_long
      (4L, "en", Seq.fill(30)("dup").mkString(" ")), // repetitive
      (5L, "en", distinct20 + " the quick brown fox jumps over"), // contaminated
      (6L, "de", distinct20.replace("w", "v"))) // kept
    val docs = rows.toDF("doc_id", "lang", "text")
    val bench = Seq((100L, "xx the quick brown fox jumps over yonder hill")).toDF("doc_id", "text")

    val batch = graft.ops.TextOps.filterPolicy(docs, bench).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getString(3), r.getInt(4))).toMap

    val shingles = StreamOps.benchmarkShingles(spark, bench, k = 5)
    val mem = MemoryStream[(Long, String, String)]
    mem.addData(rows.take(3))
    val q = StreamOps.filterPolicyStream(spark, mem.toDF().toDF("doc_id", "lang", "text"), shingles)
      .writeStream.format("memory").queryName("policy_stream").outputMode("append").start()
    q.processAllAvailable()
    mem.addData(rows.drop(3))
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("policy_stream").as[StreamOps.PolicyOut].collect()
      .map(p => p.doc_id -> (p.lang, p.n_tokens, p.reason, p.keep)).toMap
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(batch.values.map(_._3).toSet ==
      Set("lang", "too_short", "too_long", "repetitive", "contaminated", "kept"))
    shingles.destroy()
  }

  test("decontaminateStream == batch decontaminate on 150 randomized docs (hit counts, not just flags)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(99L)
    val vocab = Vector("a", "b", "c") // 3^5 = 243 possible shingles → dense overlap
    val rows = (1L to 150L).map { i =>
      val n = 1 + rnd.nextInt(40) // tiny vocab → dense 5-gram overlap, repeated shingles per doc
      (i, Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val docs = rows.toDF("doc_id", "text")
    val bench = (900L to 902L).map(i =>
      (i, Vector.fill(25)(vocab(rnd.nextInt(vocab.size))).mkString(" "))).toDF("doc_id", "text")

    val batch = graft.ops.TextOps.decontaminate(docs, bench).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap

    val shingles = StreamOps.benchmarkShingles(spark, bench)
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows)
    val q = StreamOps.decontaminateStream(spark, mem.toDF().toDF("doc_id", "text"), shingles)
      .writeStream.format("memory").queryName("decont_stream_rand").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("decont_stream_rand").as[StreamOps.DecontOut].collect()
      .map(d => d.doc_id -> (d.n_hit_shingles, d.contaminated)).toMap
    assert(streamed == batch)
    // dense overlap must produce real multi-shingle hits AND clean docs
    assert(batch.values.exists(_._1 > 3) && batch.values.exists(_ == ((0L, 0))),
      s"fixture too weak: ${batch.values.toSeq.sortBy(-_._1).take(3)}")
    shingles.destroy()
  }

  test("filterPolicyStream == batch policy on 200 randomized docs (independent reimpl cross-check)") {
    // the stream twin recomputes every signal in plain JVM Scala while
    // the batch op uses Catalyst expressions — agreement on randomized
    // input is a two-implementation property check of the whole policy
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(4242L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val langs = Vector("en", "de", "zh", "fr")
    val rows = (1L to 200L).map { i =>
      val n = 1 + rnd.nextInt(120)
      // small vocab + occasional forced repetition → all rules reachable
      val toks = Vector.fill(n)(vocab(rnd.nextInt(if (rnd.nextInt(5) == 0) 2 else vocab.size)))
      (i, langs(rnd.nextInt(langs.size)), toks.mkString(" "))
    }
    val docs = rows.toDF("doc_id", "lang", "text")
    // benchmark drawn from the same vocab so 5-gram overlap actually occurs
    val bench = (900L to 905L).map(i =>
      (i, Vector.fill(30)(vocab(rnd.nextInt(3))).mkString(" "))).toDF("doc_id", "text")

    val batch = graft.ops.TextOps.filterPolicy(docs, bench).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getInt(4))).toMap

    val shingles = StreamOps.benchmarkShingles(spark, bench, k = 5)
    val mem = MemoryStream[(Long, String, String)]
    mem.addData(rows)
    val q = StreamOps.filterPolicyStream(spark, mem.toDF().toDF("doc_id", "lang", "text"), shingles)
      .writeStream.format("memory").queryName("policy_stream_rand").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("policy_stream_rand").as[StreamOps.PolicyOut].collect()
      .map(p => p.doc_id -> (p.reason, p.keep)).toMap
    assert(streamed == batch,
      s"diverged on ${streamed.count { case (k, v) => batch(k) != v }} docs")
    // the randomized corpus must actually reach every rule
    assert(batch.values.map(_._1).toSet ==
      Set("lang", "too_short", "too_long", "repetitive", "contaminated", "kept"),
      s"rules reached: ${batch.values.map(_._1).toSet}")
    shingles.destroy()
  }

  test("tokenBudgetMixStream: one micro-batch equals the batch mix; budget holds across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 40L).map(i =>
      (i, if (i % 3 == 0) "de" else "en", Seq.fill((i % 7).toInt + 3)("w").mkString(" ")))
    val docs = rows.toDF("doc_id", "lang", "text")
    val budgets = Map("en" -> 60L, "de" -> 25L)

    val batch = graft.ops.Sampling.tokenBudgetMix(docs, budgets, defaultBudget = 10L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet

    // single micro-batch: md5-tiebreak order == the batch window order,
    // so the stream must reproduce the batch output exactly, cum included
    val mem1 = MemoryStream[(Long, String, String)]
    mem1.addData(rows)
    val q1 = StreamOps.tokenBudgetMixStream(spark, mem1.toDF().toDF("doc_id", "lang", "text"),
      budgets, defaultBudget = 10L)
      .writeStream.format("memory").queryName("mix_stream1").outputMode("append").start()
    q1.processAllAvailable(); q1.stop()
    val streamed = spark.table("mix_stream1").as[StreamOps.MixOut].collect()
      .map(m => (m.doc_id, m.lang, m.n_tokens, m.cum_tokens)).toSet
    assert(streamed == batch, s"one-batch stream != batch: ${streamed.diff(batch)} / ${batch.diff(streamed)}")
    assert(batch.size < rows.size, "budgets must actually reject some docs")

    // two micro-batches: every admitted doc started under budget, and the
    // per-domain counter persists across the batch boundary
    val mem2 = MemoryStream[(Long, String, String)]
    mem2.addData(rows.take(10))
    val q2 = StreamOps.tokenBudgetMixStream(spark, mem2.toDF().toDF("doc_id", "lang", "text"),
      budgets, defaultBudget = 10L)
      .writeStream.format("memory").queryName("mix_stream2").outputMode("append").start()
    q2.processAllAvailable()
    mem2.addData(rows.drop(10))
    q2.processAllAvailable(); q2.stop()
    val two = spark.table("mix_stream2").as[StreamOps.MixOut].collect()
    assert(two.forall(m => m.cum_tokens - m.n_tokens < budgets(m.lang)),
      "an admitted doc started at/after its domain budget")
    val enAdmitted = two.filter(_.lang == "en").map(_.n_tokens.toLong).sum
    assert(enAdmitted >= 60L, "en budget not filled despite sufficient supply")
  }

  test("enrichStream: stream rows pick up broadcast dimension attributes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[StreamOps.Event]
    mem.addData(
      StreamOps.Event(10, ts(0), 1, "click", 1.0),
      StreamOps.Event(11, ts(1), 3, "view", 2.0)) // no dim row -> null tier
    val q = StreamOps.enrichStream(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enriched").select("event_id", "tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows == Map(10L -> Some("gold"), 11L -> None))
  }

  test("dedupStream: state store recovers from checkpoint across a query restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ckpt").toString
    val (ckpt, outDir) = (s"$base/checkpoint", s"$base/out")
    val mem = MemoryStream[StreamOps.Event]
    def start() = StreamOps.dedupStream(mem.toDF())
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir)
      .outputMode("append").start()

    mem.addData(StreamOps.Event(1, ts(0), 1, "click", 1.0))
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint: the dedup state must survive, so the
    // duplicate of id 1 (inside the watermark) is still suppressed
    mem.addData(
      StreamOps.Event(1, ts(1), 1, "click", 1.0),
      StreamOps.Event(2, ts(1), 2, "view", 2.0))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(outDir).select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L),
      s"dedup state must survive the restart (id 1 once), got ${ids.toSeq}")
  }

  test("annDedupStream: bucket rings recover from checkpoint across a query restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("annckpt").toString
    val (ckpt, outDir) = (s"$base/checkpoint", s"$base/out")
    def v(base0: Float, eps: Float = 0f): Seq[Float] =
      Seq.tabulate(8)(i => base0 + (if (i == 0) eps else 0f))
    val mem = MemoryStream[StreamOps.EmbRow]
    def start() = StreamOps.annDedupStream(spark, mem.toDS(), threshold = 0.999)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir)
      .outputMode("append").start()

    mem.addData(StreamOps.EmbRow(1L, v(1.0f)))
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint: vec 1's ring entry must survive, so
    // its near-copy stays suppressed while a new direction passes
    mem.addData(StreamOps.EmbRow(2L, v(1.0f, 0.001f)), StreamOps.EmbRow(3L, v(-1.0f)))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(outDir).select("vec_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 3L),
      s"ring state must survive the restart (vec 2 suppressed), got ${ids.toSeq}")
  }

  /** Runs `c` three ways into parquet sinks: both batches through one
    * query, both with the query stopped after batch 1 and restarted on
    * its checkpoint, and batch 2 alone. The restarted run must equal the
    * uninterrupted one, and batch 2 must depend on batch 1's state.
    */
  private def checkRestart[T](c: StreamOpsSpec.RestartCase[T]): Unit = {
    implicit val enc: org.apache.spark.sql.Encoder[T] = c.enc
    implicit val sqlCtx = spark.sqlContext
    // the sink's rows, as sorted strings, after each batch
    def run(batches: Seq[Seq[T]], restart: Boolean): Seq[Seq[String]] = {
      val base = java.nio.file.Files.createTempDirectory("restart").toString
      val (ckpt, outDir) = (s"$base/checkpoint", s"$base/out")
      val mem = MemoryStream[T]
      def start() = c.op(mem.toDS())
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", outDir)
        .outputMode("append").start()
      val q = if (restart) None else Some(start())
      try batches.map { b =>
        mem.addData(b)
        val run = q.getOrElse(start())
        run.processAllAvailable()
        if (restart) run.stop()
        spark.read.parquet(outDir).collect().map(_.toString).sorted.toSeq
      }
      finally q.foreach(_.stop())
    }
    val uninterrupted = run(Seq(c.batch1, c.batch2), restart = false)
    val restarted = run(Seq(c.batch1, c.batch2), restart = true)
    assert(restarted == uninterrupted, s"${c.name}: a restart changed the output")
    val batch2 = uninterrupted(1).diff(uninterrupted(0))
    val fresh = run(Seq(c.batch2), restart = false).last
    assert(batch2.nonEmpty && batch2 != fresh,
      s"${c.name}: batch 2 must depend on batch 1's state ($batch2 vs fresh $fresh)")
  }

  test("ivf, incremental, paragraph and span dedup state recovers from checkpoint across a query restart") {
    import spark.implicits._
    import StreamOpsSpec.RestartCase
    def basis(i: Int, eps: Float = 0f): Seq[Float] =
      Seq.tabulate(8)(d => if (d == i) 1f else if (d == (i + 1) % 8) eps else 0f)
    def docs(ds: org.apache.spark.sql.Dataset[(Long, String)]) = ds.toDF("doc_id", "text")
    val store = Seq((100L, "old news\n\nbanner"), (101L, "a b c")).toDF("doc_id", "text")
    // in every case batch 2 repeats something batch 1 admitted, so a
    // restart that lost the state would emit a different batch 2
    val cases = Seq[RestartCase[_]](
      RestartCase[StreamOps.EmbRow]("ivfDedupStream",
        ds => StreamOps.ivfDedupStream(spark, ds, Seq((0, basis(0)), (1, basis(2))),
          threshold = 0.999, historyVecs = Some(Seq((100L, basis(0, 0.001f))).toDF("vec_id", "embedding"))),
        Seq(StreamOps.EmbRow(1L, basis(2, 0.001f)), StreamOps.EmbRow(2L, basis(0, 0.002f))),
        Seq(StreamOps.EmbRow(3L, basis(2, 0.002f)), StreamOps.EmbRow(4L, basis(4)))),
      RestartCase[(Long, String)]("incrementalDedupStream",
        ds => StreamOps.incrementalDedupStream(spark, docs(ds), graft.ops.Dedup.digests(store)),
        Seq((1L, "fresh"), (2L, "a b c")),
        Seq((3L, "fresh"), (4L, "newer"))),
      RestartCase[(Long, String)]("paragraphDedupStream",
        ds => StreamOps.paragraphDedupStream(spark, docs(ds),
          initialDigests = Some(graft.ops.Dedup.paragraphDigests(store))),
        Seq((1L, "banner\n\nfresh")),
        Seq((2L, "fresh\n\nnewer"))),
      RestartCase[(Long, String)]("dupSpansStream",
        ds => StreamOps.dupSpansStream(spark, docs(ds), 2,
          initialDigests = Some(graft.ops.Dedup.windowDigests(store, 2))),
        Seq((1L, "x y a b")),
        Seq((2L, "x y z"))))
    cases.foreach(c => checkRestart(c))
  }

  test("kg stream e2e: file source -> scoreStream -> resumable sink, mid-stream kill + recovery") {
    import spark.implicits._
    import graft.core.Triple
    import graft.io.Resume
    import graft.pipeline.Pipeline
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._

    val base = Files.createTempDirectory("kgstream").toString
    val (srcDir, ckpt, table) = (s"$base/src", s"$base/ckpt", s"$base/triples")
    Files.createDirectories(Paths.get(srcDir))

    val corpus = graft.fixtures.DocGen.corpus(spark, 40)
    val models = spark.sparkContext.broadcast(
      Pipeline.fit(spark, Pipeline.parse(spark, corpus), "hybrid"))
    // ground truth: the batch pipeline's triples over the same corpus
    val expected = Pipeline.scoreDocs(spark, corpus, models)
      .flatMap(_.triples).collect().sortBy(_.toString).toSeq
    val repos = corpus.select("repo").distinct().as[String].collect().sorted
    assert(repos.length >= 3 && expected.nonEmpty, "fixture must span repos and yield triples")

    // one source file per repo: a micro-batch maps to a repo commit unit
    def addFile(repo: String): Unit = {
      val tmp = Files.createTempDirectory("one").toString
      corpus.filter($"repo" === repo).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(srcDir, s"$repo.parquet"))
    }

    // each micro-batch's commit must evaluate its input once: an upstream
    // map bumps an accumulator, compared against the batch's row count
    val evaluations = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val sink = (b: org.apache.spark.sql.Dataset[Triple], id: Long) => {
      val fired = spark.sparkContext.longAccumulator(s"kg-stream-batch-$id")
      Resume.writeResumable(spark, b.map { t => fired.add(1); t }, table)
      evaluations.add((id, fired.value.longValue, b.count()))
      ()
    }

    def start() = {
      val src = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      StreamOps.scoreStream(spark, src, models)
        .flatMap(_.triples)
        .writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    }

    // phase 1: one repo arrives, then the query is killed
    addFile(repos.head)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    assert(Resume.committedRepos(table) == Set(repos.head),
      "first micro-batch must commit exactly its repo's manifest")

    // phase 2: the rest arrive; restart resumes from the checkpoint
    repos.tail.foreach(addFile)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val got = Resume.read(spark, table).collect().sortBy(_.toString).toSeq
    assert(got == expected, s"stream sink (${got.size}) != batch triples (${expected.size})")
    assert(Resume.committedRepos(table) == expected.map(_.repo).toSet)

    // phase 3: replay EVERYTHING against a fresh checkpoint — the
    // manifest contract makes the sink idempotent even without Spark's
    // own source checkpoint (exactly-once at the commit layer)
    val q3 = {
      val src = spark.readStream.schema(corpus.schema).parquet(srcDir)
      StreamOps.scoreStream(spark, src, models)
        .flatMap(_.triples)
        .writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", s"$base/ckpt2")
        .start()
    }
    q3.processAllAvailable()
    q3.stop()
    assert(Resume.read(spark, table).count() == expected.size.toLong,
      "full replay must be a no-op: every repo already committed")
    assert(!evaluations.isEmpty)
    evaluations.asScala.foreach { case (id, fired, rows) =>
      assert(fired == rows, s"micro-batch $id: upstream map fired $fired times for $rows rows")
    }
    models.destroy()
  }

  test("sessionizeStream: state closes a session after the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.Event]
    // user 1: two events 10 min apart (one session), then silence;
    // a later event from user 2 advances the watermark past the gap
    mem.addData(
      StreamOps.Event(1, ts(0), 1, "a", 0.0),
      StreamOps.Event(2, ts(10), 1, "a", 0.0)
    )
    val q = StreamOps
      .sessionizeStream(spark, mem.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    q.processAllAvailable()
    mem.addData(StreamOps.Event(3, ts(300), 2, "a", 0.0))
    q.processAllAvailable()
    mem.addData(StreamOps.Event(4, ts(600), 2, "a", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.contains((1L, 2L))) // user 1's 2-event session emitted on timeout
  }
}
