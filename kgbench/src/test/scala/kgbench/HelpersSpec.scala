package kgbench

import graft.core.XmlParse
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile returns a sample at the ceil rank") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 80) == 8.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs.reverse, 80) == 8.0)
    assert(Stats.percentile(Seq(7.0), 80) == 7.0)
  }

  test("a percentile is reportable only with at least ten samples beyond it") {
    def samplesNeeded(p: Double) = Iterator.from(1).find(Stats.reportable(_, p)).get
    assert(samplesNeeded(50) == 20)
    assert(samplesNeeded(80) == 50)
    assert(samplesNeeded(90) == 100)
    assert(Stats.beyond(52, 80) == 10 && Stats.reportable(52, 80))
    assert(Stats.beyond(49, 80) == 9 && !Stats.reportable(49, 80))
    assert(!Stats.reportable(0, 50))
  }

  test("kg_stream's micro-batch count leaves ten samples beyond p80") {
    assert(Stats.reportable(51, 80) && !Stats.reportable(51, 90))
  }

  test("median averages the middle pair of an even count") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("ratios divide by their stated base and refuse an empty one") {
    assert(Stats.docsPerSecond(5000, 2000000000L).value == 2500.0)
    assert(Stats.scanPasses(60000, 20000).value == 3.0)
    assert(Stats.relationsPerPair(30, 120).value == 0.25)
    assert(Stats.cpuUtil(4000000000L, 2000000000L, 4).value == 0.5)
    assert(Stats.traceOverhead(3, 2).value == 1.5)
    assert(Stats.failedRatio(1, 4).value == 0.25)
    assert(math.abs(Stats.residualShare(6, 2, 4) - 0.25) < 1e-12)
    assert(Stats.scanPasses(1, 1).baseName == "docs-table rows")
    intercept[IllegalArgumentException](Stats.relationsPerPair(0, 0))
    intercept[IllegalArgumentException](Stats.docsPerSecond(10, 0))
  }
}

class InputsSpec extends AnyFunSuite {

  test("planted counts are seeded and within their shares") {
    for (seed <- Seq(1L, 42L, 7777L)) {
      val p = Inputs.planted(seed, 20000)
      assert(p == Inputs.planted(seed, 20000))
      assert(p.truncated >= 50 && p.truncated <= 75)
      assert(p.empty >= 25 && p.empty <= 37)
      assert(p.duplicated >= 50 && p.duplicated <= 75)
      assert(p.malformed == p.truncated + p.empty)
      assert(Inputs.docsRows(seed, 20000) == 20000 + 5 + p.total)
    }
    assert((1L to 20L).map(Inputs.planted(_, 20000)).distinct.length > 1, "counts must vary with the seed")
  }

  test("dirty rows are deterministic, and exactly the planted malformed ones fail to parse") {
    val rows = Inputs.dirtyRows(9L, 4000, 8)
    assert(rows == Inputs.dirtyRows(9L, 4000, 8))
    val p = Inputs.planted(9L, 4000)
    assert(rows.length == p.total)
    val failed = rows.count(r => XmlParse.parseDocEither(r.repo, r.content).isLeft)
    assert(failed == p.malformed)
    assert(rows.count(_.content.isEmpty) == p.empty)
    assert(rows.forall(r => r.repo.matches("repo-[0-7]")))
  }

  test("near-dup texts are a pure function of seed and id") {
    val a = (0L until 500L).map(Inputs.nearDupText(5L, _))
    assert(a == (0L until 500L).map(Inputs.nearDupText(5L, _)))
    assert(a != (0L until 500L).map(Inputs.nearDupText(6L, _)))
  }

  test("planted near-dup structure: ~2% hot, ~30% of blocks clustered, members one word apart") {
    val seed = 3L
    val n = 50000L
    val hot = (0L until n).filter(Inputs.isHot(seed, _))
    assert(hot.length > n / 60 && hot.length < n / 40, s"${hot.length} hot docs")
    assert(hot.map(Inputs.nearDupText(seed, _)).distinct.length == 1, "hot docs share one text")
    val blocks = (0L until n / Inputs.ClusterSize).count(Inputs.isClusterBlock(seed, _))
    assert(blocks > n / 5 / 4 && blocks < n / 5 / 3 + n / 100, s"$blocks cluster blocks")
    val b = (0L until n / Inputs.ClusterSize).find(b =>
      Inputs.isClusterBlock(seed, b) && (0 until 5).forall(m => !Inputs.isHot(seed, b * 5 + m))).get
    val words = (0 until 5).map(m => Inputs.nearDupText(seed, b * 5 + m).split(" "))
    words.tail.foreach { w =>
      assert(w.length == words.head.length)
      assert(w.zip(words.head).count { case (x, y) => x != y } == 1)
    }
  }

  test("expected clusters are named by their smallest member") {
    val seed = 3L
    val n = 2000L
    val hm = Inputs.hotMin(seed, n)
    assert(Inputs.isHot(seed, hm) && (0L until hm).forall(!Inputs.isHot(seed, _)))
    for (i <- 0L until n) {
      val c = Inputs.expectedCluster(seed, i, hm)
      assert(c <= i)
      assert(Inputs.expectedCluster(seed, c, hm) == c, s"cluster id $c of $i is not its own root")
    }
  }
}
