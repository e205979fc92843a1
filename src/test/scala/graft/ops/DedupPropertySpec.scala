package graft.ops

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Randomized invariants over the simhash bucket-pair generator
  * ([[Dedup.simhashBucketPairs]]) — generalizes OpsSpec's hand-crafted
  * mega-bucket cases to arbitrary hamming structure:
  *
  *   1. validity — degradation never invents pairs: every emitted
  *      (a, b, h) is ordered, refers to real members, carries the true
  *      hamming distance, and respects maxHamming;
  *   2. superset of the pre-round-5 pure hub-star degradation;
  *   3. component exactness — whenever the bucket's distinct simhash
  *      values fit maxBucket (the realistic mega-bucket regime: mega
  *      mass is byte-identical boilerplate), the connected components
  *      of the degraded pair set equal those of the full O(bucket²)
  *      generation.
  *
  * Also: the md5 band kernel ([[Dedup.Md5BandKernel]]) equals the
  * string-building [[Md5BandMinsOracle]] on generated text.
  *
  * Lives in graft.ops (not PropertySpec) for private[ops] access.
  */
class DedupPropertySpec extends AnyFunSuite {

  private def check(prop: Prop, cases: Int = 300): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(cases)
        .withInitialSeed(Seed(42L)),
      prop)
    assert(res.passed, res.status.toString)
  }

  // hash pool is small and hamming-diverse on purpose: identical values
  // (groups), near values (1-2 bits), and far values all occur often
  private val hashPool: Gen[Long] = Gen.oneOf(
    0L, 1L, 3L, 0x7L, 0xffL, 0xfeL, 0xff01L, 0xff00L, 0xf000000L)

  private val membersGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 24)
    ids <- Gen.pick(n, 1L to 200L)
    hs <- Gen.listOfN(n, hashPool)
  } yield ids.toList.zip(hs)

  private def comps(
      members: List[(Long, Long)], pairs: Seq[(Long, Long, Int)]): Map[Long, Long] =
    graft.kg.UnionFind.minLabels(members.map(_._1), pairs.map(p => (p._1, p._2)))

  test("property: mega-bucket degradation — valid pairs, hub-star superset, exact components when distinct values fit") {
    val gen = for {
      ms <- membersGen
      maxBucket <- Gen.choose(1, 6)
      maxHamming <- Gen.choose(0, 4)
    } yield (ms, maxBucket, maxHamming)

    check(Prop.forAll(gen) { case (ms, maxBucket, maxHamming) =>
      val degraded = Dedup.simhashBucketPairs(ms, maxBucket, maxHamming).toList
      val full = Dedup.simhashBucketPairs(ms, Int.MaxValue, maxHamming).toList
      val hash = ms.toMap

      val valid = degraded.forall { case (a, b, h) =>
        a < b && hash.contains(a) && hash.contains(b) &&
          h == java.lang.Long.bitCount(hash(a) ^ hash(b)) && h <= maxHamming
      }

      val star: Set[(Long, Long)] =
        if (ms.size > maxBucket) {
          val sorted = ms.sortBy(_._1)
          val (hub, hubSh) = sorted.head
          sorted.drop(1).collect {
            case (b, sh) if java.lang.Long.bitCount(hubSh ^ sh) <= maxHamming => (hub, b)
          }.toSet
        } else Set.empty
      val superset = star.subsetOf(degraded.map(p => (p._1, p._2)).toSet)

      val compsOk =
        ms.map(_._2).distinct.size > maxBucket ||
          comps(ms, degraded) == comps(ms, full)

      valid && superset && compsOk
    })
  }

  test("property: LSH mega-bucket degradation — unique valid pairs, old-star superset, components always exact") {
    val gen = for {
      ms <- membersGen // (doc_id, fp) — fp pool doubles as signature fingerprints
      maxBucket <- Gen.choose(1, 6)
    } yield (ms, maxBucket)

    check(Prop.forAll(gen) { case (ms, maxBucket) =>
      val degraded = Dedup.lshBucketPairs(ms, maxBucket).toList
      val ids = ms.map(_._1).toSet
      // (1) ordered, real, and emitted AT MOST ONCE per bucket — a
      // within-bucket duplicate would inflate n_shared_bands downstream
      val valid = degraded.forall { case (a, b) => a < b && ids(a) && ids(b) }
      val unique = degraded.distinct.size == degraded.size
      // (2) superset of the old pure hub-star
      val superset =
        ms.size <= maxBucket || {
          val hub = ms.map(_._1).min
          val star = ids.filter(_ != hub).map(m => (hub, m))
          star.subsetOf(degraded.toSet)
        }
      // (3) LSH degradation preserves components UNCONDITIONALLY (no
      // hamming filter): the whole bucket is one component either way
      val full = Dedup.lshBucketPairs(ms, Int.MaxValue).toList
      def compsOf(pairs: List[(Long, Long)]) =
        comps(ms, pairs.map { case (a, b) => (a, b, 0) })
      val compsOk = compsOf(degraded) == compsOf(full)
      valid && unique && superset && compsOk
    })
  }

  test("property: a doc_id listed twice in a bucket never pairs with itself") {
    // bucket members are a set of (doc_id, value): a doc_id arrives twice
    // only with two values, which the generator plants on purpose
    val gen = for {
      ms <- membersGen
      again <- Gen.someOf(ms)
      hs <- Gen.listOfN(again.size, hashPool)
      maxBucket <- Gen.choose(1, 30)
      maxHamming <- Gen.choose(0, 4)
    } yield ((ms ++ again.map(_._1).zip(hs)).distinct, maxBucket, maxHamming)

    check(Prop.forAll(gen) { case (ms, maxBucket, maxHamming) =>
      val lsh = Dedup.lshBucketPairs(ms, maxBucket).toList
      val sim = Dedup.simhashBucketPairs(ms, maxBucket, maxHamming).toList
      lsh.forall { case (a, b) => a < b } && sim.forall { case (a, b, _) => a < b } &&
        (ms.size > maxBucket || lsh.distinct.size == lsh.size)
    })
  }

  test("property: the allocation-free md5 band kernel equals the string-building oracle") {
    import graft.core.ParseDoc
    import graft.fixtures.DocGen
    val docGenText: Gen[String] = Gen.choose(0L, 100000L).map { i =>
      ParseDoc("r", DocGen.docXml(42L, i)).map(_.text).mkString(" ")
    }
    // "x" * 56 and "é" * 30 are single tokens over 55 UTF-8 bytes, so a
    // window holding one needs two MD5 blocks; U+D800, U+DC00 and the
    // high surrogate U+D83D without its pair are lone surrogates, which
    // encode to '?' in UTF-8
    val pieces = Seq(
      "warfarin", "aspirin", "a", "", "#", "#0", "café", "naïve", "Ångström", "ß", "İ",
      "𝒜", "😀", "😀" * 15, "\ud800", "\udc00", "a\ud83dz", "\ud83d", "x" * 56, "é" * 30,
      "\t", "\n", "\u00a0")
    val sep = Gen.frequency(6 -> Gen.const(" "), 2 -> Gen.const("  "), 1 -> Gen.const("   "), 1 -> Gen.const(""))
    val adversarial: Gen[String] = for {
      n <- Gen.choose(0, 12)
      lead <- Gen.oneOf("", " ", "  ")
      trail <- Gen.oneOf("", " ", "  ")
      parts <- Gen.listOfN(n, Gen.zip(Gen.oneOf(pieces), sep))
    } yield lead + parts.map { case (p, s) => p + s }.mkString + trail
    val gen = for {
      text <- Gen.frequency(
        2 -> docGenText, 6 -> adversarial, 1 -> Gen.oneOf("", " ", "  ", "a", "a b", null))
      bands <- Gen.oneOf(1, 2, 7, 8, 16)
      k <- Gen.oneOf(1, 3, 5)
    } yield (text, bands, k)
    // one kernel per shape, reused across cases as a task reuses it
    // across rows, so stale scratch state would show
    val kernels = scala.collection.mutable.Map.empty[(Int, Int), Dedup.Md5BandKernel]
    check(Prop.forAll(gen) { case (text, bands, k) =>
      val got = kernels.getOrElseUpdate((bands, k), new Dedup.Md5BandKernel(bands, k))(text)
      val want = Md5BandMinsOracle.bandMins(text, bands, k)
      val same =
        if (want == null) got == null
        else got != null && got.sameElements(want)
      assert(same, s"kernel != oracle (bands=$bands, k=$k) on [$text]: " +
        s"${Option(got).map(_.mkString(","))} vs ${Option(want).map(_.mkString(","))}")
      true
    }, cases = 2500)
  }
}
