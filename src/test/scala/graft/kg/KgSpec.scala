package graft.kg

import graft.TestSpark
import graft.core.Triple
import org.scalatest.funsuite.AnyFunSuite

class KgSpec extends AnyFunSuite {

  test("variants: normalization rewrites") {
    assert(Canonicalize.variants("Beta-Blockers").contains("beta blockers"))
    assert(Canonicalize.variants("beta-blockers").contains("betablockers"))
    assert(Canonicalize.variants("warfarin (Coumadin)").contains("warfarin"))
    assert(Canonicalize.variants("anticoagulants").contains("anticoagulant"))
  }

  test("connected components: min-label propagation over a chain") {
    val spark = TestSpark.spark
    import spark.implicits._
    val edges = spark.createDataset(Seq(("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")))
    val cc = Canonicalize.connectedComponents(spark, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc("a") == "a" && cc("b") == "a" && cc("c") == "a")
    assert(cc("d") == "d" && cc("e") == "d")
    assert(cc("f") == "f")
  }

  test("CC distributed loop: diameter-25 chain converges within maxIter=20 (pointer jumping)") {
    // regression (round-4 VERDICT): the pre-round-5 min-label loop needed
    // diameter iterations, silently returned UNCONVERGED (wrong) labels
    // for this graph at maxIter=20 — path doubling converges it in ~6
    val spark = TestSpark.spark
    import spark.implicits._
    val chain = (0 until 25).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val cc = Canonicalize.connectedComponents(
      spark, spark.createDataset(chain), maxIter = 20, localThreshold = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc.size == 26)
    assert(cc.values.forall(_ == "n00"), s"unconverged labels: $cc")
    // the O(log diameter) claim, mechanically: ~log2(25) + slack, far
    // under the 25 rounds plain min-label propagation needs
    assert(Canonicalize.lastIterations > 0 && Canonicalize.lastIterations <= 8,
      s"pointer jumping should converge a diameter-25 chain in <= 8 iterations, " +
        s"took ${Canonicalize.lastIterations}")
  }

  test("CC distributed loop: non-convergence THROWS instead of returning wrong labels") {
    val spark = TestSpark.spark
    import spark.implicits._
    // diameter 40 at maxIter=2: even with path doubling the far end
    // cannot reach the min in 2 rounds — the loop must fail loud
    val chain = (0 until 40).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val e = intercept[IllegalStateException] {
      Canonicalize.connectedComponents(
        spark, spark.createDataset(chain), maxIter = 2, localThreshold = 0)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("CC: driver union-find and distributed propagation agree on a random graph") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = spark.createDataset(
      Seq.fill(120)((s"n${rnd.nextInt(60)}", s"n${rnd.nextInt(60)}"))
    )
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val local = asMap(Canonicalize.connectedComponents(spark, edges))
    val dist = asMap(Canonicalize.connectedComponents(spark, edges, localThreshold = 0))
    assert(local == dist)
  }

  test("CC long-keyed twin == string CC on zero-padded ids, both execution paths") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // includes >12-digit ids so the former lpad-width hazard stays covered
    val ids = Seq.fill(80)(rnd.nextLong(1000000000000000L))
    val raw = Seq.fill(200)((ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
    val eLong = spark.createDataset(raw)
    val eStr = spark.createDataset(raw.map { case (a, b) => (f"$a%019d", f"$b%019d") })
    // threshold default = union-find fast path; 0 = distributed loop
    for (thr <- Seq(Canonicalize.LocalCcThreshold, 0L)) {
      val l = Canonicalize.connectedComponentsLong(spark, eLong, localThreshold = thr)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val s = Canonicalize.connectedComponents(spark, eStr, localThreshold = thr)
        .collect().map(r => (r.getString(0).toLong, r.getString(1).toLong)).toSet
      assert(l == s, s"long vs string CC disagree at threshold $thr")
    }
  }

  test("CC: raw edges with duplicates, self-loops and both directions — local == distributed, few jobs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val base = Seq.fill(150)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
    // every edge twice, half of them reversed as well, plus self-loops
    // (one on an isolated node 500)
    val raw = base ++ base ++ base.take(75).map(_.swap) ++ Seq((3L, 3L), (500L, 500L))
    val eLong = spark.createDataset(raw)
    val eStr = spark.createDataset(raw.map { case (a, b) => (f"$a%019d", f"$b%019d") })
    def longs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def strs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0).toLong, r.getString(1).toLong)).toSet
    val want = UnionFind.minLabels(Nil, raw).toSet
    assert(longs(Canonicalize.connectedComponentsLong(spark, eLong)) == want)
    assert(longs(Canonicalize.connectedComponentsLong(spark, eLong, localThreshold = 0)) == want)
    assert(strs(Canonicalize.connectedComponents(spark, eStr)) == want)
    assert(strs(Canonicalize.connectedComponents(spark, eStr, localThreshold = 0)) == want)
    assert(want((500L, 500L)) && want.map(_._2).size > 2, s"vacuous fixture: $want")

    // the local branch checkpoints, counts and collects the raw rows: 3
    // jobs and no shuffle (under AQE a shuffle map stage is a job of its
    // own, so a symmetrizing distinct or a Dataset.count would add one)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Canonicalize.connectedComponentsLong(spark, eLong)
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
      assert(jobs.get <= 3, s"local-branch CC ran ${jobs.get} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("canonicalMap: hyphen/plural/case variants collapse to one canonical") {
    val spark = TestSpark.spark
    import spark.implicits._
    val surfaces = spark.createDataset(Seq(
      "Beta-Blockers", "beta blockers", "beta blocker", "warfarin", "Warfarin"))
    val m = Canonicalize.canonicalMap(spark, surfaces)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("beta-blockers") == m("beta blockers"))
    assert(m("beta blocker") == m("beta blockers"))
    assert(m("warfarin") == "warfarin")
    // canonical is a real surface, lexicographically smallest
    assert(m("beta-blockers") == "beta blocker")
  }

  test("salted counts equal plain groupBy counts (skew property)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // skewed: 'warfarin' 50x, others a few
    val trips = spark.createDataset(
      (1 to 50).map(i => Triple("warfarin", "int", s"d$i", s"s$i", "e1", "e2", "r0")) ++
        (1 to 5).map(i => Triple("digoxin", "effect", s"d$i", s"t$i", "e1", "e2", "r1"))
    )
    val salted = Triples.saltedCounts(trips, salts = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = Triples.plainCounts(trips)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(plain("warfarin") == 50L)
  }

  test("score resolves entity ids to canonicalized surfaces") {
    val spark = TestSpark.spark
    import spark.implicits._
    val sents = spark.createDataset(Seq(
      graft.core.ParsedSentence("r0", "d0", "s0", "Warfarin interacts with Aspirin.",
        Seq(
          graft.core.GoldSpan("s0.e0", 0, 7, "drug", "Warfarin", "0-7"),
          graft.core.GoldSpan("s0.e1", 24, 30, "brand", "Aspirin", "24-30")),
        Seq(graft.core.GoldPairRef("s0.p0", "s0.e0", "s0.e1", ddi = true, Some("int"))))))
    val canon = Map("warfarin" -> "warfarin", "aspirin" -> "aspirin")
    val models = spark.sparkContext.broadcast(
      graft.pipeline.Pipeline.Models(graft.ner.AllOScorer, KgSpec.IntAlways, canon))
    val t = graft.pipeline.Pipeline.score(spark, sents, models).collect().flatMap(_.triples)
    assert(t.length == 1)
    assert(t.head == Triple("warfarin", "int", "aspirin", "s0", "s0.e0", "s0.e1", "r0"))
  }
}

object KgSpec {

  /** DDI stub: "int" always outscores "none", so every pair is a relation. */
  object IntAlways extends graft.ner.RawScorer {
    val classes: Array[String] = Array("int", "none")
    def scoresRaw(feats: Seq[String]): Array[Double] = Array(100.0, 0.0)
  }
}
