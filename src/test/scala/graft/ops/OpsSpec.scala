package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("shingles: distinct word 3-grams in order") {
    val d = docs((1L, "a b c d a b c d"))
    val sh = d.select(Dedup.shingles(col("text")).as("s")).head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d", "c d a", "d a b"))
  }

  test("exact dedup groups identical texts") {
    val d = docs((1L, "same text"), (2L, "same text"), (3L, "other"))
    val r = Dedup.exact(d).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(r == Set((2L, 1L), (1L, 3L))) // (n_docs, keep_id)
  }

  test("incremental dedup: history dup, within-delta dup, and kept — first-match reasons") {
    val history = docs((10L, "already ingested"), (11L, "other history"))
    val delta = docs(
      (20L, "already ingested"), // digest in history
      (21L, "fresh content"), // first of its digest in the delta: kept
      (22L, "fresh content"), // within-delta dup of 21
      (23L, "brand new")) // kept
    val r = Dedup.incrementalDedup(delta, Dedup.digests(history))
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r == Map(
      20L -> "exact_dup_history",
      21L -> "kept",
      22L -> "exact_dup_delta",
      23L -> "kept"), s"got $r")
  }

  test("incremental dedup: history precedence beats within-delta order") {
    // a digest present in history AND duplicated inside the delta must
    // read exact_dup_history on EVERY delta row (the store is
    // authoritative; within-delta survivor selection never applies)
    val history = docs((1L, "both places"))
    val delta = docs((5L, "both places"), (6L, "both places"))
    val r = Dedup.incrementalDedup(delta, Dedup.digests(history))
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r == Map(5L -> "exact_dup_history", 6L -> "exact_dup_history"), s"got $r")
  }

  test("paragraph dedup: global first occurrence survives, docs reassemble in order") {
    val d = docs(
      (1L, "intro\n\nshared boilerplate\n\nbody one"),
      (2L, "shared boilerplate\n\nbody two"), // boilerplate already seen in doc 1
      (3L, "dup\n\ndup\n\nunique"), // intra-doc repeat: keep first only
      (4L, "shared boilerplate")) // its ONLY paragraph seen before -> empty doc
    val r = Dedup.paragraphDedup(d).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r == Map(
      1L -> ((3L, 3L, "intro\n\nshared boilerplate\n\nbody one")),
      2L -> ((2L, 1L, "body two")),
      3L -> ((3L, 2L, "dup\n\nunique")),
      4L -> ((1L, 0L, ""))), s"got $r")
  }

  test("paragraph dedup property: identity on dup-free corpus; every distinct paragraph survives exactly once") {
    // deterministic pseudo-random corpus with planted cross-doc repeats
    val rnd = new scala.util.Random(7)
    val boiler = Seq("nav home about", "copyright footer", "cookie banner text")
    val corpus = (0L until 60L).map { id =>
      val paras = (0 until 1 + rnd.nextInt(4)).map { j =>
        if (rnd.nextInt(3) == 0) boiler(rnd.nextInt(boiler.size))
        else s"p$id-$j ${rnd.nextInt(5)}"
      }
      (id, paras.mkString("\n\n"))
    }
    val out = Dedup.paragraphDedup(docs(corpus: _*)).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    // replay the contract in plain Scala
    val split = corpus.map { case (id, t) => id -> t.split("\n\n", -1).toSeq }.toMap
    val firstOwner = split.toSeq
      .flatMap { case (id, ps) => ps.zipWithIndex.map { case (p, i) => (p, (id, i)) } }
      .groupBy(_._1).map { case (p, occ) => p -> occ.map(_._2).min }
    corpus.foreach { case (id, _) =>
      val ps = split(id)
      val kept = ps.zipWithIndex.filter { case (p, i) => firstOwner(p) == ((id, i)) }
      val (nParas, nKept, text) = out(id)
      assert(nParas == ps.size && nKept == kept.size, s"doc $id counts")
      assert(text == kept.map(_._1).mkString("\n\n"), s"doc $id text")
    }
    // survivor count across the corpus == distinct paragraph count
    assert(out.values.map(_._2).sum == firstOwner.size)
    // dup-free corpus: reassembly is the identity
    val free = (0L until 30L).map(id => (id, s"a$id\n\nb$id\n\nc$id"))
    val idOut = Dedup.paragraphDedup(docs(free: _*)).collect()
      .map(x => x.getLong(0) -> x.getString(3)).toMap
    free.foreach { case (id, t) => assert(idOut(id) == t, s"identity broke for $id") }
  }

  test("dup spans: later window occurrences flagged, merged span mass exact, short docs zeroed") {
    val k = 4
    val d = docs(
      (1L, "a b c d e f"), // all windows first occurrences
      (2L, "a b c d e f"), // verbatim copy: fully duplicated
      (3L, "x y a b c d q r"), // one 4-window ("a b c d") seen in doc 1
      (4L, "s t"), // shorter than k: no windows
      (5L, "m n o p m n o p m n o p")) // intra-doc repeats
    val got = Dedup.duplicatedWindowSpans(d, k).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap

    // plain-Scala contract replay
    val corpus = Seq(
      1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "x y a b c d q r",
      4L -> "s t", 5L -> "m n o p m n o p m n o p")
    val firstOwner = corpus
      .flatMap { case (id, t) =>
        val toks = t.split(" ", -1)
        toks.sliding(k).zipWithIndex.filter(_._1.size == k)
          .map { case (w, i) => (w.mkString(" "), (id, i)) }
      }
      .groupBy(_._1).map { case (w, occ) => w -> occ.map(_._2).min }
    corpus.foreach { case (id, t) =>
      val toks = t.split(" ", -1)
      val flagged = toks.sliding(k).zipWithIndex.filter(_._1.size == k)
        .collect { case (w, i) if firstOwner(w.mkString(" ")) != ((id, i)) => i }.toSeq
      val mass = flagged.foldLeft((0L, 0L)) { case ((prevEnd, m), s) =>
        (s + k.toLong, m + (s + k) - math.max(s.toLong, prevEnd))
      }._2
      val (n, nw, dt, frac) = got(id)
      assert(n == toks.length, s"doc $id n_tokens")
      assert(nw == flagged.size, s"doc $id n_dup_windows: got $nw want ${flagged.size}")
      assert(dt == mass, s"doc $id dup_tokens: got $dt want $mass")
      assert(math.abs(frac - mass.toDouble / toks.length) < 1e-9 || frac ==
        BigDecimal(mass.toDouble / toks.length).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"doc $id dup_frac $frac")
    }
    // the headline facts the replay should confirm
    assert(got(1L)._4 == 0.0 && got(2L)._4 == 1.0, "verbatim copy must read fully duplicated")
    assert(got(3L)._3 == k.toLong, "single shared window contributes exactly k tokens")
    assert(got(4L) == ((2L, 0L, 0L, 0.0)), "short doc must read 0/0/0")
  }

  test("packed keeper election widens Int doc_id columns before shifting (no 32-bit wrap)") {
    import spark.implicits._
    // 5096 - 1000 = 4096 = 2^12: with an IntegerType doc_id column,
    // 1000 << 20 and 5096 << 20 COLLIDE at 32 bits — an unwidened
    // shift makes both rows read as the keeper (the range guard still
    // passes, so the wrap would be silent)
    val d = Seq((1000, "shared boiler"), (5096, "shared boiler")).toDF("doc_id", "text")
    val r = Dedup.paragraphDedup(d).collect()
      .map(x => x.getInt(0) -> ((x.getLong(2), x.getString(3)))).toMap
    assert(r(1000) == ((1L, "shared boiler")))
    assert(r(5096) == ((0L, "")), s"32-bit packed-key collision elected a false keeper: ${r(5096)}")
  }

  test("dup span removal: scrubbed text drops exactly the flagged spans; clean docs round-trip") {
    val k = 4
    val corpus = Seq(
      1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "x y a b c d q r",
      4L -> "s t", 5L -> "m n o p m n o p m n o p")
    val d = docs(corpus: _*)
    val got = Dedup.removeDuplicatedWindows(d, k).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // plain-Scala replay: removed indices = union of [i, i+k) over the
    // windows whose value occurred earlier in packed (doc_id, i) order
    val firstOwner = corpus
      .flatMap { case (id, t) =>
        val toks = t.split(" ", -1)
        toks.sliding(k).zipWithIndex.filter(_._1.size == k)
          .map { case (w, i) => (w.mkString(" "), (id, i)) }
      }
      .groupBy(_._1).map { case (w, o) => w -> o.map(_._2).min }
    corpus.foreach { case (id, t) =>
      val toks = t.split(" ", -1)
      val removed = toks.sliding(k).zipWithIndex.filter(_._1.size == k)
        .collect { case (w, i) if firstOwner(w.mkString(" ")) != ((id, i)) => i }
        .flatMap(i => i until i + k).toSet
      val keptText = toks.zipWithIndex.collect { case (tk, i) if !removed(i) => tk }.mkString(" ")
      val (text, n, rem) = got(id)
      assert(text == keptText, s"doc $id text: got '$text' want '$keptText'")
      assert(n == toks.length && rem == removed.size, s"doc $id counts")
    }
    // headline facts
    assert(got(1L)._1 == "a b c d e f" && got(2L)._1 == "",
      "verbatim copy scrubs to empty, the keeper copy is untouched")
    assert(got(4L)._1 == "s t", "doc shorter than k passes through")
    // the applied removal mass equals the signals op's plan, doc for doc
    val sig = Dedup.duplicatedWindowSpans(d, k).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    got.foreach { case (id, (_, _, rem)) =>
      assert(rem == sig(id), s"doc $id: n_removed $rem != dup_tokens ${sig(id)}")
    }
  }

  test("paragraph near-dup: packed-id collapsed flow, unpacked exactly; boilerplate and near-verbatim cluster") {
    val corpus = Seq(
      (1L, "a b c d e\n\nshared boiler plate text here"),
      (2L, "shared boiler plate text here\n\nz y x w v"),
      (3L, "totally different body of text indeed"),
      // 4/5 paragraph 0: different TEXT, identical distinct-shingle set
      // ({"p q r","q r p","r p q"}) -> identical signatures, all bands
      // match deterministically — a guaranteed NEAR (non-exact) pair
      (4L, "p q r p q r\n\nfiller one two three"),
      (5L, "p q r p q r p q r\n\nother filler words here"))
    val out = Dedup.paragraphNearDupClusters(spark, docs(corpus: _*)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // every (doc, para) appears exactly once
    val expectKeys = corpus
      .flatMap { case (id, t) => t.split("\n\n", -1).indices.map(id -> _) }.toSet
    assert(out.keySet == expectKeys, s"key set: ${out.keySet}")
    // composition contract: identical to the collapsed flow over the
    // manually-packed paragraph frame (deterministic whatever the bands do)
    val packed = corpus.flatMap { case (id, t) =>
      t.split("\n\n", -1).zipWithIndex.map { case (p, i) => (id * 1048576L + i, p) }
    }
    val ref = Dedup.nearDupClustersCollapsed(spark, docs(packed: _*)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case ((id, i), c) =>
      assert(c == ref(id * 1048576L + i), s"($id,$i) diverges from the packed reference")
    }
    // exact cross-doc boilerplate shares a cluster (labelled by the
    // global first occurrence, doc 1 para 1)
    assert(out((1L, 1)) == out((2L, 0)) && out((1L, 1)) == 1L * 1048576L + 1L,
      "shared paragraph must cluster to its first occurrence")
    // the planted near-verbatim pair shares a cluster despite distinct digests
    assert(out((4L, 0)) == out((5L, 0)), "equal-shingle-set paragraphs must cluster")
    // unrelated paragraphs stay singletons labelled by themselves
    assert(out((3L, 0)) == 3L * 1048576L)
  }

  test("incremental dup spans: history digests flag delta windows; prefix history == batch") {
    val k = 4
    val history = docs((10L, "a b c d e f"))
    val delta = docs(
      (20L, "z z a b c d e f"), // last 3 windows hit history; "z z a b" is fresh
      (21L, "z z a b c d e f")) // copy of 20: every window history- or delta-flagged
    val got = Dedup.incrementalDupSpans(delta, Dedup.windowDigests(history, k), k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got.keySet == Set(20L, 21L), "rows only for delta docs")
    // doc 20: windows at 2,3,4 match history -> merged span [2,8) = 6 tokens
    assert(got(20L) == ((8L, 3L, 6L, 0.75)), s"got ${got(20L)}")
    // doc 21: all 5 windows flagged -> the whole 8 tokens
    assert(got(21L) == ((8L, 5L, 8L, 1.0)), s"got ${got(21L)}")
    // when every history id precedes every delta id, the incremental
    // semantics coincide with the batch signals over the union
    val hist2 = docs((1L, "p q r s t u"), (2L, "a b c d e f g"))
    val delta2 = docs((30L, "a b c d e f"), (31L, "p q r s t u"), (32L, "k l m n o p"))
    val inc = Dedup.incrementalDupSpans(delta2, Dedup.windowDigests(hist2, k), k)
      .collect().map(_.toSeq).toSet
    val batch = Dedup.duplicatedWindowSpans(hist2.unionByName(delta2), k)
      .filter(col("doc_id") >= 30L).collect().map(_.toSeq).toSet
    assert(inc == batch, s"prefix-history equivalence: $inc vs $batch")
  }

  test("incremental near-dup: band matches vs the history store flag delta docs") {
    val history = docs((10L, "w1 w2 w3 w4 w5 w6 w7 w8"))
    val delta = docs(
      (20L, "w1 w2 w3 w4 w5 w6 w7 w8"), // identical: all 8 bands match
      (21L, "x1 x2 x3 x4 x5 x6 x7 x8")) // disjoint shingles: 0 bands
    val store = Dedup.minhashSignatures(history).select("band", "sig").distinct()
    val r = Dedup.incrementalNearDup(delta, store)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(r == Set((20L, 8L, 1), (21L, 0L, 0)), s"got $r")
  }

  test("identical docs share all 8 LSH bands; disjoint docs none") {
    val d = docs(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "x1 x2 x3 x4 x5 x6")
    )
    val pairs = Dedup.lshCandidates(d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((1L, 2L)) == 8L)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("ngram jaccard: identical=1.0, disjoint=0.0, partial in between") {
    val d = docs(
      (1L, "a b c d e"),
      (2L, "a b c d e"),
      (3L, "a b c x y z")
    )
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val j = Dedup.ngramJaccard(d, pairs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) == 1.0)
    // doc1 3-grams: {abc,bcd,cde}; doc3: {abc,bcx,cxy,xyz}; inter=1 union=6
    assert(j((1L, 3L)) == 0.1667)
  }

  test("simhash: identical docs equal; shared-vocab docs closer than disjoint") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta zeta"),
      (4L, "qq ww ee rr tt")
    )
    val h = TextOps.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1L) == h(2L))
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)))
  }

  test("cosine: parallel=1, orthogonal=0") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(2.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 3.0f))
    ).toDF("a", "b")
    val c = df.select(round(Similarity.cosine(col("a"), col("b")), 6)).collect().map(_.getDouble(0))
    assert(c(0) == 1.0 && c(1) == 0.0)
  }

  test("bruteForceTopK: exact neighbors, deterministic rank") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(1.0f, 0.05f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 2)
      .collect().sortBy(_.getInt(3)).map(r => r.getLong(1))
    assert(top.toSeq == Seq(3L, 1L)) // closest first
  }

  test("bucketedTopK: same-bucket neighbors found, ranks deterministic") {
    import spark.implicits._
    val emb = (0L until 20L).map { i =>
      (i, Seq.tabulate(4)(d => if (i % 2 == 0) 1.0f + d else -1.0f - d))
    }.toDF("vec_id", "embedding")
    val r = Similarity.bucketedTopK(emb, 2)
    // identical vectors share buckets; every query finds neighbors
    assert(r.count() > 0)
    assert(r.filter(col("cos") === 1.0).count() > 0)
  }

  test("saltedSum equals plain groupBy sum") {
    import spark.implicits._
    val ev = (1L to 100L).map(i =>
      (i, new java.sql.Timestamp(i * 1000), i % 7, if (i % 3 == 0) "click" else "view", i * 0.5)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val salted = Events.saltedSum(ev).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val plain = ev.groupBy(col("event_type"))
      .agg(round(sum(col("value")), 2).as("t"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("sessionize: gap splits sessions") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000)
    val ev = Seq(
      (1L, ts(0), 1L, "a", 0.0),
      (2L, ts(10), 1L, "a", 0.0),  // same session (10 min gap)
      (3L, ts(50), 1L, "a", 0.0),  // 40 min gap > 30 -> new session
      (4L, ts(0), 2L, "a", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.sessionize(ev).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) == ((2L, 2L))) // 2 sessions, max 2 events
    assert(r(2L) == ((1L, 1L)))
  }

  test("bpe token count: contractions, digits and punctuation split off") {
    import spark.implicits._
    val d = Seq(
      (1L, "don't stop believing"), // don | 't | _stop | _believing = 4
      (2L, "abc123 x-y"), // abc | 123 | _x | - | y = 5
      (3L, "plain words here") // 3
    ).toDF("doc_id", "text")
    val r = TextOps.bpeTokenCount(d).collect()
      .map(x => x.getLong(0) -> (x.getInt(1), x.getInt(2))).toMap
    assert(r(1L) == ((4, 3)))
    assert(r(2L) == ((5, 2)))
    assert(r(3L) == ((3, 3)))
  }

  test("deterministic sample: reproducible, monotone in pct, roughly proportional") {
    import spark.implicits._
    val d = (0L until 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val s20a = Sampling.deterministicSample(d, 20).select("doc_id").collect().map(_.getLong(0)).toSet
    val s20b = Sampling.deterministicSample(d, 20).select("doc_id").collect().map(_.getLong(0)).toSet
    val s50 = Sampling.deterministicSample(d, 50).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s20a == s20b, "sample must be reproducible")
    assert(s20a.subsetOf(s50), "pct buckets must nest")
    assert(s20a.size > 120 && s20a.size < 280, s"~20% of 1000 expected, got ${s20a.size}")
    assert(Sampling.deterministicSample(d, 0).count() == 0)
    assert(Sampling.deterministicSample(d, 100).count() == 1000)
  }

  test("stratified sample: per-stratum rates, unlisted strata use default") {
    import spark.implicits._
    val d = (0L until 300L).map(i => (i, Seq("en", "de", "zh")((i % 3).toInt))).toDF("doc_id", "lang")
    val kept = Sampling.stratifiedSample(d, "lang", Map("en" -> 100, "de" -> 0), defaultPct = 0)
      .select("lang").collect().map(_.getString(0))
    assert(kept.toSet == Set("en") && kept.length == 100)
  }

  test("decontaminate: flags docs sharing a 5-gram with the benchmark, counts distinct hits") {
    val bench = docs((100L, "one two three four five six"))
    // bench 5-grams: "one two three four five", "two three four five six"
    val train = docs(
      (1L, "zz one two three four five yy"), // shares the first
      (2L, "one two three four five six tail"), // shares both
      (3L, "totally different words here indeed present"))
    val r = TextOps.decontaminate(train, bench).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getInt(2)))).toMap
    assert(r(1L) == ((1L, 1)))
    assert(r(2L) == ((2L, 1)))
    assert(r(3L) == ((0L, 0)))
  }

  test("contaminationPairs: per-benchmark attribution; flagged set equals decontaminate's") {
    val bench = docs(
      (100L, "one two three four five six"), // grams: "one..five", "two..six"
      (101L, "one two three four five zz")) // shares "one two three four five" with 100
    val train = docs(
      (1L, "zz one two three four five yy"), // hits BOTH bench docs on the shared gram
      (2L, "one two three four five six tail"), // 2 grams vs 100, 1 vs 101
      (3L, "totally different words here indeed present"))
    val pairs = TextOps.contaminationPairs(train, bench).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    // attribution multiplies per benchmark doc; the flag does not
    assert(pairs == Map(
      (1L, 100L) -> 1L, (1L, 101L) -> 1L,
      (2L, 100L) -> 2L, (2L, 101L) -> 1L), s"got $pairs")
    // the distinct flagged doc set must equal decontaminate's
    val flagged = TextOps.decontaminate(train, bench).collect()
      .collect { case r if r.getInt(2) == 1 => r.getLong(0) }.toSet
    assert(pairs.keySet.map(_._1) == flagged, "attribution and flag disagree on the doc set")
  }

  test("decontaminate fallback: shuffle semi-join path equals broadcast path; plans differ as asserted") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 3-symbol vocab for dense 5-gram overlap (5 symbols is too sparse)
    def sentence() = Seq.fill(12)(Seq("a", "b", "c")(rnd.nextInt(3))).mkString(" ")
    val train = (0L until 120L).map(i => (i, sentence())).toDF("doc_id", "text")
    val bench = (0L until 10L).map(i => (i, sentence())).toDF("doc_id", "text")

    def asMap(df: DataFrame) = df.collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getInt(2)))).toMap
    val broad = TextOps.decontaminate(train, bench) // bench shingles << default cap
    // force the fallback: cap below the benchmark's distinct shingle count
    val fell = TextOps.decontaminate(train, bench, maxBroadcastShingles = 3)
    assert(asMap(fell) == asMap(broad))
    assert(asMap(broad).values.exists(_._2 == 1), "vacuous fixture: no contamination hit")
    val broadPlan = broad.queryExecution.executedPlan.toString
    val fellPlan = fell.queryExecution.executedPlan.toString
    assert(broadPlan.contains("BroadcastHashJoin"))
    assert(fellPlan.contains("ShuffledHashJoin"), "fallback must shuffle-join the shingle key")
  }

  test("repetition signals: loops saturate, diverse text stays low, sub-trigram docs drop") {
    val d = docs(
      (1L, "spam spam spam spam spam"), // every bigram/trigram identical
      (2L, "a b c d e f"), // all n-grams distinct
      (4L, "a b a b c"), // "a b" twice of 4 bigrams; trigrams distinct
      (3L, "x y")) // 2 tokens: no trigram, no row
    val r = TextOps.repetitionSignals(d).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2), x.getDouble(3)))).toMap
    assert(r(1L) == ((4L, 1.0, 1.0)))
    assert(r(2L) == ((5L, 0.2, 0.0)))
    assert(r(4L) == ((4L, 0.5, 0.0)))
    assert(!r.contains(3L))
  }

  // Spark's round(x, 4): BigDecimal HALF_UP — the replay the two
  // randomized equivalence tests below use
  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  test("repetition signals: typed n-gram counters == independent mode/dup-mass replay (randomized)") {
    // small vocab → dense n-gram collisions; lengths 0..14 cover the
    // sub-trigram drop contract and single-bigram docs
    val rnd = new scala.util.Random(83)
    val vocab = Array("a", "b", "c", "aa", "bb", "C")
    val rows = (0L until 300L).map { i =>
      (i, Seq.fill(rnd.nextInt(15))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val d = docs(rows: _*)
    val got = TextOps.repetitionSignals(d).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2), x.getDouble(3)))).toMap
    val expected = rows.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      if (toks.length < 3) None
      else {
        val bgs = toks.sliding(2).map(_.mkString(" ")).toSeq
        val tgs = toks.sliding(3).map(_.mkString(" ")).toSeq
        val best = bgs.groupBy(identity).values.map(_.size).max.toLong
        val dup = tgs.groupBy(identity).values.collect { case g if g.size > 1 => g.size }.sum.toLong
        Some(id -> ((bgs.size.toLong, round4(best.toDouble / bgs.size), round4(dup.toDouble / tgs.size))))
      }
    }.toMap
    assert(got == expected)
    assert(got.nonEmpty && got.values.exists(_._3 > 0.0), "vacuous fixture: no dup trigram fired")
  }

  test("ngram jaccard: building the frame runs no job; each paired doc is shingled once") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    val fired = spark.sparkContext.longAccumulator("jaccard-text-rows")
    val touch = org.apache.spark.sql.functions.udf { (t: String) => fired.add(1); t }
    // spark.range, not a local Seq: the optimizer folds projections over
    // local relations on the driver
    val d = spark.range(40).select(col("id").as("doc_id"),
      touch(concat_ws(" ", lit("a b c"), (col("id") % 4).cast("string"), lit("d e"))).as("text"))
    val pairs = spark.range(0, 20, 2).select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val (j, jobs) = org.apache.spark.graft.ListenerDrain.jobsOf(spark.sparkContext)(Dedup.ngramJaccard(d, pairs))
    assert(jobs == 0, s"building ngramJaccard ran $jobs jobs")
    val got = j.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc i and i + 1 differ in one token: of 4 + 4 3-grams only "a b c" is shared
    assert(got == (0L until 20L by 2).map(i => (i, i + 1) -> 0.1429).toMap, got)
    assert(fired.value == 20L, s"text evaluated ${fired.value} times for 20 paired docs")
  }

  test("ngram jaccard: sorted-merge counts == independent set-algebra replay (randomized)") {
    val rnd = new scala.util.Random(29)
    val vocab = Array("x", "y", "z", "w")
    val rows = (0L until 120L).map { i =>
      // lengths 0..9: includes sub-k docs (empty shingle sets → null contract)
      (i, Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val d = docs(rows: _*)
    import spark.implicits._
    val pairRows = (0L until 119L).map(i => (i, i + 1))
    val pairs = pairRows.toDF("doc_a", "doc_b")
    val got = Dedup.ngramJaccard(d, pairs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    def shingleSet(text: String): Set[String] = {
      val toks = text.split(" ", -1)
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val byId = rows.toMap
    val expected = pairRows.map { case (a, b) =>
      val (sa, sb) = (shingleSet(byId(a)), shingleSet(byId(b)))
      val u = (sa ++ sb).size
      ((a, b), if (u == 0) None else Some(round4((sa & sb).size.toDouble / u)))
    }.toMap
    assert(got == expected)
    assert(expected.values.exists(_.isEmpty), "vacuous fixture: no empty-union pair")
    assert(expected.values.flatten.exists(v => v > 0.0 && v < 1.0), "vacuous fixture: no partial overlap")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("minhash signatures: byte-level band parse == independent hex-string conv replay (randomized)") {
    // the typed md5BandMins pass parses each 15-hex-char window from
    // digest BYTES; this replay goes through the hex STRING exactly as
    // the former conv(substring(md5(...), pos, 15), 16, 10) Column form
    // (and the DuckDB oracle) do — both window parities, odd band count
    // included so the unpaired last digest window is covered
    val rnd = new scala.util.Random(47)
    val vocab = Array("m", "n", "o", "p", "qq")
    val rows = (0L until 150L).map { i =>
      (i, Seq.fill(rnd.nextInt(9))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val d = docs(rows: _*)
    for (bands <- Seq(8, 3)) {
      val got = Dedup.minhashSignatures(d, bands = bands).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val expected = rows.flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        if (toks.length < 3) Seq.empty
        else {
          val sh = toks.sliding(3).map(_.mkString(" ")).toSet
          (0 until bands).map { b =>
            val mins = sh.map { s =>
              val hex = md5hex(s + "#" + (b / 2))
              java.lang.Long.parseLong(hex.substring(15 * (b % 2), 15 * (b % 2) + 15), 16)
            }
            (id, b) -> mins.min
          }
        }
      }.toMap
      assert(got == expected, s"bands=$bands")
      assert(expected.nonEmpty)
    }
  }

  test("token budget mix: md5-ordered prefix per lang, straddling doc included") {
    import spark.implicits._
    val rows = (1L to 40L).map(i =>
      (i, Seq.fill(((i % 5) + 1).toInt)("w").mkString(" "), if (i % 2 == 0) "en" else "de"))
    val df = rows.toDF("doc_id", "text", "lang")
    val out = Sampling.tokenBudgetMix(df, Map("en" -> 10L), defaultBudget = 6L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    // driver-side replay of the contract: per lang, md5(doc_id) order,
    // cumulative token sum, keep while the budget is not yet exhausted
    val expected = rows
      .map { case (id, text, lang) => (id, lang, text.split(" ").length) }
      .groupBy(_._2)
      .flatMap { case (lang, ds) =>
        val budget = if (lang == "en") 10L else 6L
        var cum = 0L
        ds.sortBy { case (id, _, _) => (md5hex(id.toString), id) }.flatMap {
          case (id, l, n) =>
            val before = cum; cum += n
            if (before < budget) Some((id, l, n, cum)) else None
        }
      }
      .toSet
    assert(out.toSet == expected)
    assert(out.nonEmpty && out.length < rows.length, "must select a strict nonempty subset")
  }

  test("tokenBudgetMixBucketed equals the single-window definition incl. cum_tokens") {
    import spark.implicits._
    val rows = (0L until 500L).map { i =>
      val lang = Seq("en", "de", "fr", "zh")((i % 4).toInt)
      val n = (math.abs(md5hex(s"len$i").hashCode) % 9) + 1
      (i, Seq.fill(n)("t").mkString(" "), lang)
    }
    val df = rows.toDF("doc_id", "text", "lang")
    val budgets = Map("en" -> 200L, "de" -> 90L)
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    val plain = rowsOf(Sampling.tokenBudgetMix(df, budgets, defaultBudget = 40L))
    val bucketed = rowsOf(Sampling.tokenBudgetMixBucketed(df, budgets, defaultBudget = 40L))
    assert(bucketed == plain)
    assert(plain.nonEmpty && plain.size < rows.size)
  }

  test("nearDupClusters: exact dups cluster to min doc_id, singletons self-cluster") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (5L, base), (9L, base), // identical → same shingles → same cluster
      (7L, "one two three four five six seven eight nine ten"),
      (8L, "totally different words with nothing shared at all here now")
    ).toDF("doc_id", "text")
    val r = Dedup.nearDupClusters(spark, d).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(5L) == 5L && r(9L) == 5L, s"dups must share the min id cluster: $r")
    assert(r(7L) == 7L && r(8L) == 8L, s"singletons cluster to themselves: $r")
  }

  test("simhashNearDup: banded candidates equal the brute-force hamming scan") {
    import spark.implicits._
    // exact dups are hamming 0; disjoint-vocab docs are far apart
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val banded = Dedup.simhashNearDup(d, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // brute force over all pairs with the same fingerprint
    val sh = TextOps.simhash(d, 60).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      h = java.lang.Long.bitCount(sh(a) ^ sh(b)) if h <= 3
    } yield (a, b) -> h).toMap
    assert(banded == brute, s"banded=$banded brute=$brute")
    assert(banded.contains((1L, 4L)) && banded((1L, 4L)) == 0, "exact dup pair missing")
    assert(!banded.keys.exists { case (a, b) => a == 3L || b == 3L }, "disjoint doc paired")
  }

  test("mega-bucket guard: a 100k-identical-doc LSH bucket degrades to star pairs, counter visible") {
    import spark.implicits._
    // 10^5 byte-identical docs (exact dedup NOT run first — the
    // pathological case): every band forms one 100k-member bucket.
    // All-pairs would be 8 x 5·10^9 pair emissions; the guard emits
    // 8 x (100k-1) star pairs against the min-id hub instead.
    val n = 100000L
    val d = spark.range(1, n + 1)
      .select(col("id").as("doc_id"), lit("w1 w2 w3 w4 w5 w6").as("text"))
    val pairs = Dedup.lshCandidates(d, fast = true, maxBucket = 1000)
    val rows = pairs.collect()
    assert(Dedup.megaBucketCount("lsh") == 8L, "all 8 band buckets counted as mega")
    // observe-based counter is action-scoped: a SECOND action (full DAG
    // recompute) must NOT inflate it — the old accumulator plumbing did.
    pairs.count()
    assert(Dedup.megaBucketCount("lsh") == 8L, "second action inflated the counter")
    assert(rows.length == (n - 1).toInt, "one star pair per non-hub member")
    assert(rows.forall(_.getLong(0) == 1L),
      "every pair must hang off the min-id hub (CC preserved)")
    assert(rows.forall(_.getLong(2) == 8L))
    // star vs all-pairs: identical connected components (1 cluster)
    val edges = spark.createDataset(rows.toSeq.map(r =>
      (f"${r.getLong(0)}%019d", f"${r.getLong(1)}%019d")))
    val comps = graft.kg.Canonicalize.connectedComponents(spark, edges)
    assert(comps.select("comp").distinct().count() == 1L)
  }

  test("mega-bucket guard: bucket at or under maxBucket stays exact all-pairs") {
    val d = docs(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "w1 w2 w3 w4 w5 w6")
    )
    // bucket size 3 == maxBucket: no degradation, full 3 pairs
    val pairs = Dedup.lshCandidates(d, maxBucket = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(Dedup.megaBucketCount("lsh") == 0L)
  }

  test("mega-bucket guard: degenerate simhash bucket degrades to star, hamming still filtered") {
    import spark.implicits._
    val n = 20000L
    val d = spark.range(1, n + 1)
      .select(col("id").as("doc_id"),
        lit("alpha beta gamma delta epsilon zeta eta theta").as("text"))
    val pairs = Dedup.simhashNearDup(d, maxHamming = 3, maxBucket = 500)
    val rows = pairs.collect()
    assert(rows.length == (n - 1).toInt, "one star pair per non-hub member")
    assert(rows.forall(r => r.getLong(0) == 1L && r.getInt(2) == 0))
    assert(Dedup.megaBucketCount("simhash") == 4L, "all 4 simhash bands counted")
  }

  test("nearDupClusters default path counts mega buckets, one per bucket, through megaBucketCount") {
    // the window that picks each bucket's hub also sees its size: a
    // planted bucket above DefaultMaxBucket (identical texts, one bucket
    // per band) must be counted once per band bucket, not per member
    val n = Dedup.DefaultMaxBucket + 904L
    val hot = spark.range(1, n + 1)
      .select(col("id").as("doc_id"), lit("w1 w2 w3 w4 w5 w6").as("text"))
    val cold = docs((n + 1, "a b c d e f"), (n + 2, "a b c d e f"), (n + 3, "p q r s t u"))
    // reset the "lsh" registry entry to a known 0 first
    Dedup.lshCandidates(cold).collect()
    assert(Dedup.megaBucketCount("lsh") == 0L)
    val clusters = Dedup.nearDupClusters(spark, hot.union(cold))
    assert(Dedup.megaBucketCount("lsh") == 8L, "all 8 band buckets counted as mega, once each")
    val r = clusters.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.size == n + 3 && (1L to n).forall(r(_) == 1L), "the hot bucket is one cluster")
    assert(r(n + 2) == n + 1 && r(n + 3) == n + 3)
    // a corpus without mega buckets reads 0 on the same path
    Dedup.nearDupClusters(spark, cold).collect()
    assert(Dedup.megaBucketCount("lsh") == 0L)
  }

  test("nearDupClusters star edges == counted-pair edges' components (randomized)") {
    // the round-8 minBands=1 edge generation builds one min-id star per
    // bucket instead of the O(bucket²) pair listing; this replays the
    // OLD pair-based flow (lshCandidates >= 1 + CC + self-cluster join)
    // and asserts identical cluster assignment on a dup-heavy corpus
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val vocab = Array("r", "s", "t", "u", "v")
    def sentence() = Seq.fill(6 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val base = (0 until 30).map(_ => sentence())
    val rows = (0L until 200L).map { i =>
      // heavy duplication + some sub-k docs (self-cluster contract)
      val t = if (i % 17 == 0) "x y" else base(rnd.nextInt(base.length))
      (i, t)
    }
    val d = docs(rows: _*)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = toMap(Dedup.nearDupClusters(spark, d))
    val pairEdges = Dedup.lshCandidates(d)
      .filter(col("n_shared_bands") >= 1)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)]
    val cc = graft.kg.Canonicalize.connectedComponentsLong(spark, pairEdges)
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
    val ref = toMap(
      d.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id"))))
    assert(star == ref)
    assert(star.values.toSet.size < star.size, "vacuous fixture: no multi-doc cluster formed")
  }

  test("nearDupClustersCollapsed == plain clusters, plus exact short-doc dups now cluster") {
    import spark.implicits._
    // 3 exact-dup groups + near-dups + singletons + two identical
    // SHORT docs (< 3 tokens: shingle-less, invisible to plain LSH)
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, base), (2L, base), (3L, base), // exact dups
      (4L, base + " iota"), // near-dup of the group
      (5L, "one two three four five six seven eight"),
      (6L, "one two three four five six seven eight"),
      (7L, "totally different words in here now right"),
      (8L, "tiny doc"), (9L, "tiny doc") // shingle-less exact dups
    ).toDF("doc_id", "text")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = toMap(Dedup.nearDupClusters(spark, d))
    val collapsed = toMap(Dedup.nearDupClustersCollapsed(spark, d))
    // identical on every doc long enough to shingle
    (1L to 7L).foreach(i => assert(collapsed(i) == plain(i),
      s"doc $i: collapsed ${collapsed(i)} != plain ${plain(i)}"))
    // plain cannot see the shingle-less dups; collapsed clusters them
    assert(plain(8L) == 8L && plain(9L) == 9L)
    assert(collapsed(8L) == 8L && collapsed(9L) == 8L,
      s"short exact dups must share the rep cluster: ${collapsed.view.filterKeys(_ >= 8L).toMap}")
    // sanity on the expected structure
    assert(collapsed(2L) == 1L && collapsed(4L) == 1L && collapsed(6L) == 5L && collapsed(7L) == 7L)
  }

  test("LSH mega bucket: fp-group collapse keeps identical-doc pairs at full band support") {
    import spark.implicits._
    // group A: 10 identical docs (ids 10..19); X: id 1 (the SMALLEST id
    // — under the old pure hub-star, X became the hub and every
    // A-internal pair was LOST), sharing most shingles with A so at
    // least one minhash band collides
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tX = tA + " lambda"
    val d = ((10L to 19L).map(i => (i, tA)) :+ (1L, tX)).toDF("doc_id", "text")
    def pairsOf(maxBucket: Int): Map[(Long, Long), Long] =
      Dedup.lshCandidates(d, maxBucket = maxBucket).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = pairsOf(10000)
    assume(full.keys.exists(_._1 == 1L), "setup: X must collide with A in >= 1 band")
    val guarded = pairsOf(4) // bucket size 11 > 4 in every colliding band
    // A's rep (min id 10) pairs with every other A member at FULL
    // support — the old star (hub = 1 = X) emitted none of these
    (11L to 19L).foreach { m =>
      assert(guarded.get((10L, m)).contains(8L),
        s"identical-doc pair (10,$m) must survive at full support: ${guarded.get((10L, m))}")
    }
    // cross-group hub pairs keep their honest (partial) support
    assert(guarded.keys.exists(_._1 == 1L), "hub-to-group star pair missing")
    // components identical to the unguarded run
    def comps(ps: Iterable[(Long, Long)]): Map[Long, Long] =
      graft.kg.UnionFind.minLabels(1L +: (10L to 19L), ps)
    assert(comps(guarded.keys).values.toSet.size == comps(full.keys).values.toSet.size)
  }

  test("simhash mega bucket: hamming-0 collapse + rep pairs preserve components the old star lost") {
    // hand-crafted hamming structure (unit-level on the bucket body —
    // real text can't place two far-apart near-dup groups in one band
    // bucket deterministically): group X = 5 members at hash 0, group
    // Y = 2 members at 0xFF (hamming 8 from X), group Z = 1 member at
    // 0xFE (hamming 1 from Y, 7 from X). maxBucket=4 -> mega.
    val members = Seq(
      (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L),
      (10L, 0xffL), (11L, 0xffL), (20L, 0xfeL))
    val got = Dedup.simhashBucketPairs(members, maxBucket = 4, maxHamming = 3)
      .toSeq.distinct.toSet
    // old pure hub-star output: only X members within hamming 3 of hub 1
    val oldStar = Set((1L, 2L, 0), (1L, 3L, 0), (1L, 4L, 0), (1L, 5L, 0))
    assert(oldStar.subsetOf(got), "degraded output must stay a superset of the old star")
    assert(got.contains((10L, 11L, 0)), "hamming-0 collapse pair (was lost pre-round-5)")
    assert(got.contains((10L, 20L, 1)), "representative pair (was lost pre-round-5)")
    assert(!got.exists { case (a, b, _) => a <= 5L && b >= 10L },
      s"no pair may cross the hamming-7 gap: $got")
    // components == the full O(bucket^2) generation's components
    val full = Dedup.simhashBucketPairs(members, maxBucket = 10000, maxHamming = 3).toSeq
    def comps(pairs: Seq[(Long, Long, Int)]): Set[Set[Long]] =
      graft.kg.UnionFind.minLabels(members.map(_._1), pairs.map(p => (p._1, p._2)))
        .groupBy(_._2).values.map(_.keySet).toSet
    assert(comps(got.toSeq) == comps(full), "degraded components must equal full components")
  }

  test("simhash mega bucket: > maxBucket distinct values skips rep combinations (bounded work)") {
    // 6 singleton groups, pairwise far apart except two near ones;
    // maxBucket=4 < 6 groups: star + collapse only, no rep pairs
    val far = Seq(0L, 0xff00L, 0xff00000L, 0xf0f0f0f0L, 0xaaaa00000000L)
    val members = far.zipWithIndex.map { case (h, i) => ((i + 1).toLong, h) } :+ (9L, 1L)
    val got = Dedup.simhashBucketPairs(members, maxBucket = 4, maxHamming = 3)
      .toSeq.distinct
    // hub = 1 (hash 0): star keeps (1, 9) at hamming 1; the rep pair
    // set is skipped, so output is exactly the star survivors
    assert(got.toSet == Set((1L, 9L, 1)), s"got $got")
    assert(got.size <= members.size, "work must stay O(bucket)")
  }

  test("asofJoin: each click sees the latest purchase at-or-before it, else null") {
    import spark.implicits._
    def t(min: Long) = new java.sql.Timestamp(60000L * min)
    val d = Seq(
      (1L, t(5), 1L, "click", Some(0.0)), // before any purchase -> null
      (2L, t(10), 1L, "purchase", Some(7.0)),
      (3L, t(10), 1L, "click", Some(0.0)), // tie: sees the 10-min purchase (>= semantics)
      (4L, t(20), 1L, "purchase", Some(9.0)),
      (5L, t(25), 1L, "click", Some(0.0)), // sees 9.0, not 7.0
      (6L, t(25), 2L, "click", Some(0.0)), // other user -> null
      (7L, t(30), 1L, "purchase", Option.empty[Double]), // NULL-valued purchase
      (8L, t(35), 1L, "click", Some(0.0)) // sees the t30 ROW -> null value (no fallback to 9.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.asofJoin(d).collect()
      .map(x => x.getLong(0) -> Option(x.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(r(1L).isEmpty)
    assert(r(3L).contains(7.0))
    assert(r(5L).contains(9.0))
    assert(r(6L).isEmpty)
    assert(r(8L).isEmpty, "latest purchase row has NULL value; must not fall back to 9.0")
  }

  test("rangeJoin: same-user pairs within the window, ordered, tie-deduped") {
    import spark.implicits._
    def t(min: Long) = new java.sql.Timestamp(60000L * min)
    val d = Seq(
      (1L, t(0), 1L, "a", 0.0),
      (2L, t(3), 1L, "a", 0.0), // within 5 min of 1
      (3L, t(9), 1L, "a", 0.0), // outside 5 min of both 1 and 2? 9-3=6 > 5
      (4L, t(0), 2L, "a", 0.0), // same ts as 1, other user
      (5L, t(0), 2L, "a", 0.0) // exact tie with 4 -> one pair only
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val pairs = Events.rangeJoin(d, 300).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 1L, 2L), (2L, 4L, 5L)), pairs.toString)
  }

  test("approxDistinctUsers: HLL estimate within 10% of exact") {
    import spark.implicits._
    val d = (0L until 5000L)
      .map(i => (i, new java.sql.Timestamp(i), i % 997, if (i % 2 == 0) "click" else "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    Events.approxDistinctUsers(d).collect().foreach { r =>
      val (approx, exact) = (r.getLong(1), r.getLong(2))
      assert(math.abs(approx - exact).toDouble / exact <= 0.10,
        s"${r.getString(0)}: approx=$approx exact=$exact")
    }
  }

  test("image header parse: PNG IHDR dims + CRC verification") {
    val png = Multimodal.syntheticPng(640, 480, extra = 5)
    val h = Multimodal.parseImageHeader(png)
    assert(h == Multimodal.ImageHeader("png", 640, 480, ok = true, "", dimOffset = 16))
    // flip one IHDR data byte -> CRC must fail loud
    val corrupt = png.clone(); corrupt(17) = (corrupt(17) ^ 1).toByte
    val bad = Multimodal.parseImageHeader(corrupt)
    assert(!bad.ok && bad.err.contains("crc"))
    // truncated before the IHDR chunk completes
    val trunc = Multimodal.parseImageHeader(png.take(20))
    assert(!trunc.ok && trunc.err.contains("truncated"))
    assert(!Multimodal.parseImageHeader("not an image".getBytes("UTF-8")).ok)
  }

  test("image header parse: JPEG marker scan (baseline, progressive, RST, missing SOF)") {
    val jpg = Multimodal.syntheticJpeg(1920, 1080, extra = 31)
    assert(Multimodal.parseImageHeader(jpg) ==
      Multimodal.ImageHeader("jpeg", 1920, 1080, ok = true, "", dimOffset = 29 + 31))
    // progressive (SOF2) + a standalone RST marker before it must still parse
    val prog = jpg.clone()
    val sofAt = 29 + 31 - 5 // start of the FF C0 marker (offset 29+extra is the dim field, marker is 5 before)
    prog(sofAt + 1) = 0xc2.toByte
    val withRst = prog.take(2) ++ Array(0xff.toByte, 0xd0.toByte) ++ prog.drop(2)
    val h = Multimodal.parseImageHeader(withRst)
    // the injected RST shifts every later offset by 2: the parser must
    // report the offset it actually FOUND, not a fixed formula
    assert(h == Multimodal.ImageHeader("jpeg", 1920, 1080, ok = true, "", dimOffset = 29 + 31 + 2))
    // SOI followed directly by EOI: no SOF anywhere
    val noSof = Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)
    val miss = Multimodal.parseImageHeader(noSof)
    assert(!miss.ok && miss.err.contains("without SOF"))
  }

  test("multimodal decode: parsed headers round-trip the fixture formulas") {
    import spark.implicits._
    val ids = (0L to 99L) ++ Seq(479L, 480L, 1000L, 65535L)
    val d = ids.toDF("doc_id")
    val rows = Multimodal.features(spark, d).collect()
    assert(rows.length == ids.length)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) == (if (id % 2 == 0) "png" else "jpeg"), s"format id=$id")
      assert(r.getLong(2) == 16 + id % 480, s"width id=$id")
      assert(r.getLong(3) == 16 + (id * 7) % 360, s"height id=$id")
      assert(r.getLong(4) == (if (id % 2 == 0) 57 else 45) + id % 32, s"len id=$id")
      assert(r.getBoolean(5), s"header_ok id=$id")
      val expHex =
        if (id % 2 == 0) f"${16 + id % 480}%08X${16 + (id * 7) % 360}%08X"
        else f"${16 + (id * 7) % 360}%04X${16 + id % 480}%04X"
      assert(r.getString(6) == expHex, s"dims_hex id=$id")
    }
  }

  test("simhashExpr (row-local, shuffle-free) is bit-identical to the groupBy simhash") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (bits <- Seq(16, 60)) {
      val agg = TextOps.simhash(d, bits).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val local = d.select($"doc_id", TextOps.simhashExpr($"text", bits).as("simhash"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == agg, s"bits=$bits fingerprints differ")
    }
    // and the row-local plan has no shuffle
    val plan = d.select(TextOps.simhashExpr($"text")).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "row-local simhash must not shuffle")
  }

  test("tokenRarity: corpus-frequency profile, exact rational arithmetic") {
    val d = docs((1L, "a a b"), (2L, "a c"))
    // corpus counts: a=3, b=1, c=1
    val out = TextOps.tokenRarity(d, rareMax = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == ((3L, 2.3333, 0.3333))) // (3+3+1)/3, rare: b
    assert(out(2L) == ((2L, 2.0, 0.5)))       // (3+1)/2,   rare: c
  }

  test("boilerplate shingles: cross-document template n-grams flagged") {
    val d = docs(
      (1L, "x y z a"), (2L, "x y z b"), (3L, "x y z c"), // share "x y z"
      (4L, "uu vv"))                                     // too short: no row
    val out = TextOps.boilerplateShingles(d, k = 3, minDocs = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((2L, 1L, 0.5))) // shingles: "x y z"(df 3), "y z a"(df 1)
    assert(out(2L) == ((2L, 1L, 0.5)))
  }

  test("frameSample: deterministic byte-window frames, fan-out bounded by maxFrames") {
    import spark.implicits._
    def md5hex(bytes: Array[Byte]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = bytes.map(b => f"${b & 0xff}%02X").mkString
      md.digest(hex.getBytes("US-ASCII")).map("%02x".format(_)).mkString
    }
    // 100-byte doc -> min(4, 100/32)=3 frames; 10-byte doc -> 1 frame;
    // multibyte doc: 20 two-byte 'ü' + 60 'x' = 100 BYTES (80 chars)
    val d = Seq(
      (1L, "a" * 100, 100L),
      (2L, "b" * 10, 10L),
      (3L, "ü" * 20 + "x" * 60, 80L)).toDF("doc_id", "text", "n_chars")
    val frames = Multimodal.frameSample(spark, Multimodal.asMedia(spark, d)).collect()
      .groupBy(_.doc_id)
    assert(frames(1L).map(f => (f.frame_idx, f.frame_offset)).sorted.toSeq ==
      Seq((0, 0L), (1, 32L), (2, 64L)))
    assert(frames(2L).map(_.frame_idx).toSeq == Seq(0))
    assert(frames(1L).find(_.frame_idx == 0).get.frame_hash ==
      md5hex(("a" * 32).getBytes("UTF-8")))
    // byte (not char) windows: frame 0 of doc 3 is the first 32 BYTES =
    // sixteen 2-byte ü's — would differ if windows were character-based
    assert(frames(3L).map(_.frame_idx).sorted.toSeq == Seq(0, 1, 2))
    assert(frames(3L).find(_.frame_idx == 0).get.frame_hash ==
      md5hex(("ü" * 16).getBytes("UTF-8")))
  }

  test("embeddingNearDup tiled join: pair set equals the cross-join scan; no BNLJ in plan") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // clustered + noise so pairs exist on both sides of the threshold
    val emb = (0L until 120L).map { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      val v =
        if (i % 3 == 0) Array.fill(16)(1.0f + rnd.nextGaussian().toFloat * 0.4f)
        else base
      (i, v.toSeq)
    }.toDF("vec_id", "embedding").cache()

    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // independent brute-force twin (the round-1 formulation)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
    val brute = a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("e_a"), col("e_b")), 4).as("cos"))
      .filter(col("cos") >= 0.45)

    for (blocks <- Seq(1, 3, 8)) {
      val tiled = Dedup.embeddingNearDup(emb, 0.45, blocks)
      assert(pairs(tiled) == pairs(brute), s"blocks=$blocks pair sets differ")
    }
    val plan = Dedup.embeddingNearDup(emb, 0.45).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "tiled near-dup must not cross-join")
    emb.unpersist()
  }

  test("embeddingNearDup size guard: refuses above maxExactRows, exactOk overrides, below runs") {
    import spark.implicits._
    val emb = (0L until 20L).map(i => (i, Seq.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    // above the cap without the override: loud refusal naming the scale path
    val ex = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDup(emb, 0.9, maxExactRows = 10)
    }
    assert(ex.getMessage.contains("annNearDupClusters"))
    assert(ex.getMessage.contains("exactOk"))
    // exactOk = true keeps the verifier usable on a deliberately-capped sample
    val forced = Dedup.embeddingNearDup(emb, 0.9, maxExactRows = 10, exactOk = true)
    assert(forced.count() == 20L * 19 / 2) // identical vectors: every pair qualifies
    // below the cap the guard is silent
    val under = Dedup.embeddingNearDup(emb, 0.9, maxExactRows = 100)
    assert(under.count() == 20L * 19 / 2)
  }

  test("nearDupClusters: doc ids wider than 12 digits stay distinct (lpad width)") {
    // two near-dup docs with 13-digit ids differing only in the last
    // digit: a 12-char pad would truncate both to the same node and
    // corrupt the cluster id; width 19 keeps them distinct
    val big = 1000000000001L
    val d = docs(
      (big, "alpha beta gamma delta epsilon zeta"),
      (big + 1, "alpha beta gamma delta epsilon zeta"),
      (5L, "totally different words entirely here now"))
    val out = Dedup.nearDupClusters(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(big) == big && out(big + 1) == big, s"dup pair must cluster to $big: $out")
    assert(out(5L) == 5L)
  }

  test("filterPolicy: every rule fires, first-failing reason wins, kept docs pass all") {
    import spark.implicits._
    val mk = (n: Int, w: String) => Seq.fill(n)(w).mkString(" ")
    val distinct20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val distinct95 = (1 to 95).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "zh", distinct20), // lang only (length fine)
      (2L, "zh", "short"), // lang AND too_short: lang must win (precedence)
      (3L, "en", "only five words right here"), // too_short
      (4L, "en", distinct95), // too_long
      (5L, "en", mk(30, "dup")), // repetitive (mode bigram 29/29)
      (6L, "en", distinct20 + " the quick brown fox jumps over"), // contaminated (5-gram overlap)
      (7L, "de", distinct20.replace("w", "v")) // kept
    ).toDF("doc_id", "lang", "text")
    val bench = Seq((100L, "xx " + "the quick brown fox jumps over yonder hill")).toDF("doc_id", "text")

    val out = TextOps.filterPolicy(docs, bench).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getInt(4))).toMap
    assert(out == Map(
      1L -> ("lang", 0), 2L -> ("lang", 0), 3L -> ("too_short", 0),
      4L -> ("too_long", 0), 5L -> ("repetitive", 0),
      6L -> ("contaminated", 0), 7L -> ("kept", 1)), out.toString)
  }

  test("piiScrub: typed redaction, per-type counts, boundary-guarded patterns") {
    val d = docs(
      (1L, "mail bob.smith+x@ex-corp.co.uk or root@10.0.0.1 call 555-1234 now"),
      (2L, "no pii whatsoever in this one"),
      (3L, "fake 555-12345 number and version 1.2.3.4.5 string"),
      (4L, "twice a@b.io c@d.ai"))
    val out = TextOps.piiScrub(d).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getAs[Long]("pii_total"),
          r.getAs[String]("redacted"))).toMap

    // doc 1: root@10.0.0.1 is NOT an email (the domain must end in a
    // letter TLD) but its host IS an IPv4 — so the email pass leaves it
    // and the IP pass redacts just the address part
    val (e1, p1, i1, t1, r1) = out(1L)
    assert(e1 == 1L && p1 == 1L && i1 == 1L && t1 == 3L, out(1L).toString)
    assert(r1 == "mail <EMAIL> or root@<IP> call <PHONE> now", r1)
    assert(out(2L) == ((0L, 0L, 0L, 0L, "no pii whatsoever in this one")))
    // doc 3: \b guards — 555-12345 is not a phone, 1.2.3.4.5 is not an
    // IPv4 (the trailing .5 breaks the right boundary of any 4-octet
    // window... only if the regex requires it; verify the exact count)
    val (e3, p3, i3, _, r3) = out(3L)
    assert(e3 == 0L && p3 == 0L, s"boundary guards failed: $r3")
    assert(i3 == 1L && r3 == "fake 555-12345 number and version <IP>.5 string",
      s"IPv4 window match inside a dotted run: $r3")
    val (e4, _, _, t4, r4) = out(4L)
    assert(e4 == 2L && t4 == 2L && r4 == "twice <EMAIL> <EMAIL>")
  }
}
