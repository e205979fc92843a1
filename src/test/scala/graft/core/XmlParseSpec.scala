package graft.core

import org.scalatest.funsuite.AnyFunSuite

class XmlParseSpec extends AnyFunSuite {

  private val doc =
    """<?xml version="1.0" encoding="UTF-8"?>
<document id="D.d0">
    <sentence id="D.d0.s0" text="Warfarin interacts with aspirin.">
        <entity id="D.d0.s0.e0" charOffset="0-7" type="drug" text="Warfarin"/>
        <entity id="D.d0.s0.e1" charOffset="24-30" type="brand" text="aspirin"/>
        <pair id="D.d0.s0.p0" e1="D.d0.s0.e0" e2="D.d0.s0.e1" ddi="true" type="int"/>
    </sentence>
    <sentence id="D.d0.s1" text="Beta blockers &amp; &quot;quotes&quot; here.">
        <entity id="D.d0.s1.e0" charOffset="0-3;5-12" type="group" text="Beta blockers"/>
        <pair id="D.d0.s1.p0" e1="D.d0.s1.e0" e2="D.d0.s0.e0" ddi="false"/>
    </sentence>
    <sentence id="D.d0.s2" text=""/>
</document>
"""

  test("sentences parsed in document order with ids and texts") {
    val sents = ParseDoc("repo-0", doc)
    assert(sents.map(_.sid) == Seq("D.d0.s0", "D.d0.s1", "D.d0.s2"))
    assert(sents.head.text == "Warfarin interacts with aspirin.")
    assert(sents.head.docId == "D.d0")
    assert(sents.head.repo == "repo-0")
  }

  test("XML entities in attributes are decoded") {
    val s1 = ParseDoc("r", doc)(1)
    assert(s1.text == "Beta blockers & \"quotes\" here.")
  }

  test("discontinuous charOffset truncated to first span, raw kept") {
    val e = ParseDoc("r", doc)(1).entities.head
    assert(e.start == 0 && e.end == 3)
    assert(e.rawOffset == "0-3;5-12")
    assert(e.etype == "group")
    assert(e.text == "Beta blockers")
  }

  test("pairs: ddi flag and type (type only when ddi=true)") {
    val sents = ParseDoc("r", doc)
    val p0 = sents(0).pairs.head
    assert(p0.ddi && p0.dtype.contains("int"))
    assert(p0.e1 == "D.d0.s0.e0" && p0.e2 == "D.d0.s0.e1")
    val p1 = sents(1).pairs.head
    assert(!p1.ddi && p1.dtype.isEmpty)
  }

  test("empty-text sentence parses with no annotations") {
    val s2 = ParseDoc("r", doc)(2)
    assert(s2.text == "" && s2.entities.isEmpty && s2.pairs.isEmpty)
  }

  test("malformed XML yields empty, not an exception") {
    assert(ParseDoc("r", "<document><sentence").isEmpty)
    assert(ParseDoc("r", "not xml at all").isEmpty)
  }

  test("external entities are not resolved (untrusted content)") {
    val evil =
      """<?xml version="1.0"?><!DOCTYPE d [<!ENTITY x SYSTEM "file:///etc/passwd">]>
<document id="d"><sentence id="s" text="&x;"/></document>"""
    val parsed = ParseDoc("r", evil)
    assert(parsed.isEmpty || parsed.head.text.isEmpty)
  }

  test("parseCounted: corrupt rows are counted, never fail the scan") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      ("r0", doc),
      ("r0", "<document id='x'><sentence"), // truncated — malformed
      ("r1", null),                         // null content — malformed
      ("r1", ""),                           // empty content — malformed
      ("r1", doc)
    ).toDF("repo", "content")
    val (sents, bad) = graft.pipeline.Pipeline.parseCounted(spark, docs)
    val counted = sents.collect().toSeq
    assert(counted.length == 6) // 3 sentences from each good doc
    assert(bad.value == 3L, s"expected 3 malformed docs, counter says ${bad.value}")
    // the default ingest is the same counting parser, minus the counter
    assert(graft.pipeline.Pipeline.parse(spark, docs).collect().toSeq == counted)
    // and the Either surface distinguishes failure from legitimately-empty
    assert(XmlParse.parseDocEither("r", "not xml").isLeft)
    assert(XmlParse.parseDocEither("r", doc).toOption.get.nonEmpty)
  }
}
