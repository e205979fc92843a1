package graft.fixtures

import graft.core.{DocRow, ParsedSentence}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Deterministic synthetic DDI-corpus generator (FIXTURES.md §2/§4).
  *
  * Emits reference-format XML documents (document ∋ sentence ∋
  * {entity, pair}) as rows of the input-hint docs table
  * (repo, path, commit, lang, content). Every byte is a pure function of
  * (seed, doc index): generation is distributed via `spark.range(n).map`
  * and reproducible at any scale — no external data.
  *
  * Built-in realism knobs (matched to measured reference facts,
  * BASELINE.md):
  *   - hot-drug skew: lexicon entry 0 ("warfarin") is sampled ~20× the
  *     median surface (reference: warfarin ×191 in train);
  *   - 4 entity classes with a drug-heavy distribution;
  *   - 4 interaction classes + "none" pairs dominating (reference:
  *     28,508 false vs 5,000 true);
  *   - quirk docs (fixed ids, always present): discontinuous charOffset,
  *     a `"` sentence (tokenizer offset corruption), an empty-text
  *     sentence, adjacent entities, entity at EOS.
  */
object DocGen {

  final case class Lex(surface: String, etype: String)

  /** 50 surfaces across the 4 classes; index 0 is the hot key. */
  val lexicon: Vector[Lex] = Vector(
    Lex("warfarin", "drug"), Lex("digoxin", "drug"), Lex("phenytoin", "drug"),
    Lex("cimetidine", "drug"), Lex("ketoconazole", "drug"), Lex("rifampin", "drug"),
    Lex("theophylline", "drug"), Lex("cyclosporine", "drug"), Lex("lithium", "drug"),
    Lex("methotrexate", "drug"), Lex("erythromycin", "drug"), Lex("carbamazepine", "drug"),
    Lex("phenobarbital", "drug"), Lex("quinidine", "drug"), Lex("amiodarone", "drug"),
    Lex("verapamil", "drug"), Lex("propranolol", "drug"), Lex("fluoxetine", "drug"),
    Lex("omeprazole", "drug"), Lex("indomethacin", "drug"), Lex("probenecid", "drug"),
    Lex("sulfinpyrazone", "drug"), Lex("heparin", "drug"), Lex("insulin", "drug"),
    Lex("aspirin", "brand"), Lex("coumadin", "brand"), Lex("lanoxin", "brand"),
    Lex("dilantin", "brand"), Lex("tagamet", "brand"), Lex("nizoral", "brand"),
    Lex("prozac", "brand"), Lex("tylenol", "brand"),
    Lex("anticoagulants", "group"), Lex("diuretics", "group"),
    Lex("beta blockers", "group"), Lex("calcium channel blockers", "group"),
    Lex("oral contraceptives", "group"), Lex("corticosteroids", "group"),
    Lex("salicylates", "group"), Lex("barbiturates", "group"),
    Lex("antacids", "group"), Lex("uricosuric agents", "group"),
    Lex("macrolide antibiotics", "group"), Lex("tricyclic antidepressants", "group"),
    Lex("ethanol", "drug_n"), Lex("caffeine", "drug_n"), Lex("nicotine", "drug_n"),
    Lex("mptp", "drug_n"), Lex("grapefruit juice", "drug_n"), Lex("st john wort", "drug_n")
  )

  /** (template with {A}/{B} slots, interaction class or "none").
    * Each class has distinct cue vocabulary so the deterministic MNB
    * classifier has signal; "none" templates describe co-occurrence
    * without interaction.
    */
  val pairTemplates: Vector[(String, String)] = Vector(
    ("{A} may increase the plasma concentration of {B}.", "mechanism"),
    ("{A} reduces the absorption of {B} from the gut.", "mechanism"),
    ("Coadministration of {A} decreases the metabolism of {B}.", "mechanism"),
    ("{A} may enhance the hypoprothrombinemic effect of {B}.", "effect"),
    ("{A} potentiates the sedative action of {B}.", "effect"),
    ("The toxicity of {B} is increased by concurrent {A}.", "effect"),
    ("{A} should not be administered together with {B}.", "advise"),
    ("Caution is advised when {A} is given with {B}.", "advise"),
    ("Patients receiving {A} should avoid {B}.", "advise"),
    ("{A} is known to interact with {B}.", "int"),
    ("An interaction between {A} and {B} has been reported.", "int"),
    ("{A} was measured in patients also taking {B}.", "none"),
    ("{A} and {B} were studied in a randomized trial.", "none"),
    ("No change in {A} levels was observed with {B}.", "none")
  )

  val singleTemplates: Vector[String] = Vector(
    "The pharmacokinetics of {A} were evaluated in healthy volunteers.",
    "Plasma levels of {A} should be monitored regularly.",
    "{A} is extensively metabolized by the liver."
  )

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** Skewed lexicon sample: index 0 with p≈0.28, else uniform. */
  private def pickLex(rnd: Random): Lex =
    if (rnd.nextInt(100) < 28) lexicon(0)
    else lexicon(1 + rnd.nextInt(lexicon.length - 1))

  private def pickDistinctPair(rnd: Random): (Lex, Lex) = {
    val a = pickLex(rnd)
    var b = pickLex(rnd)
    var guard = 0
    while (b.surface == a.surface && guard < 10) { b = pickLex(rnd); guard += 1 }
    if (b.surface == a.surface) (a, lexicon(1 + (lexicon.indexOf(a) % (lexicon.length - 1)))) else (a, b)
  }

  private final case class Ent(start: Int, end: Int, etype: String, text: String)

  /** Render one sentence: returns (text, entities, ddiType or none). */
  private def genSentence(rnd: Random): (String, Vector[Ent], String) = {
    if (rnd.nextInt(10) == 0) {
      // single-entity sentence, no pair
      val a = pickLex(rnd)
      val tpl = singleTemplates(rnd.nextInt(singleTemplates.length))
      val i = tpl.indexOf("{A}")
      val text = tpl.replace("{A}", a.surface)
      (text, Vector(Ent(i, i + a.surface.length - 1, a.etype, a.surface)), "none-nopair")
    } else {
      val (a, b) = pickDistinctPair(rnd)
      val (tpl, cls) = pairTemplates(rnd.nextInt(pairTemplates.length))
      // replace placeholders left-to-right so char offsets account for
      // earlier replacements shifting later ones
      val posA0 = tpl.indexOf("{A}")
      val posB0 = tpl.indexOf("{B}")
      val (ia, ib) =
        if (posA0 < posB0) (posA0, posB0 + a.surface.length - 3)
        else (posA0 + b.surface.length - 3, posB0)
      val text = tpl.replace("{A}", a.surface).replace("{B}", b.surface)
      val ents = Vector(
        Ent(ia, ia + a.surface.length - 1, a.etype, a.surface),
        Ent(ib, ib + b.surface.length - 1, b.etype, b.surface)
      ).sortBy(_.start)
      (text, ents, cls)
    }
  }

  /** One document's XML, purely from (seed, i). */
  def docXml(seed: Long, i: Long): String = {
    val rnd = new Random(seed * 1000003L + i)
    val docId = s"DDI-Synth.d$i"
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    sb ++= s"""<document id="$docId">\n"""
    val nSents = 2 + rnd.nextInt(5)
    var k = 0
    while (k < nSents) {
      val sid = s"$docId.s$k"
      val (text, ents, cls) = genSentence(rnd)
      sb ++= s"""    <sentence id="$sid" text="${esc(text)}">\n"""
      ents.zipWithIndex.foreach { case (e, j) =>
        sb ++= s"""        <entity id="$sid.e$j" charOffset="${e.start}-${e.end}" type="${e.etype}" text="${esc(e.text)}"/>\n"""
      }
      if (ents.length == 2 && cls != "none-nopair") {
        val ddi = if (cls == "none") "false" else "true"
        val typeAttr = if (cls == "none") "" else s""" type="$cls""""
        sb ++= s"""        <pair id="$sid.p0" e1="$sid.e0" e2="$sid.e1" ddi="$ddi"$typeAttr/>\n"""
      }
      sb ++= "    </sentence>\n"
      k += 1
    }
    sb ++= "</document>\n"
    sb.result()
  }

  /** Hand-crafted quirk documents (always ids q0..q4, FIXTURES.md §2). */
  def quirkDocs: Seq[DocRow] = {
    val d0 = {
      // discontinuous charOffset (first-span truncation) + adjacent entities
      val text = "Oral anticoagulants and aspirin interact strongly."
      s"""<?xml version="1.0" encoding="UTF-8"?>
<document id="DDI-Synth.q0">
    <sentence id="DDI-Synth.q0.s0" text="${esc(text)}">
        <entity id="DDI-Synth.q0.s0.e0" charOffset="0-3;5-18" type="group" text="Oral anticoagulants"/>
        <entity id="DDI-Synth.q0.s0.e1" charOffset="24-30" type="brand" text="aspirin"/>
        <pair id="DDI-Synth.q0.s0.p0" e1="DDI-Synth.q0.s0.e0" e2="DDI-Synth.q0.s0.e1" ddi="true" type="int"/>
    </sentence>
</document>
"""
    }
    val d1 = {
      // a double-quote sentence: tokenizer rewrites " -> ``/'' (find=-1 path)
      val text = "The \"loading dose\" of warfarin should be reduced."
      s"""<?xml version="1.0" encoding="UTF-8"?>
<document id="DDI-Synth.q1">
    <sentence id="DDI-Synth.q1.s0" text="${esc(text)}">
        <entity id="DDI-Synth.q1.s0.e0" charOffset="22-29" type="drug" text="warfarin"/>
    </sentence>
</document>
"""
    }
    val d2 =
      // empty-text sentence (71 exist in the real corpus)
      """<?xml version="1.0" encoding="UTF-8"?>
<document id="DDI-Synth.q2">
    <sentence id="DDI-Synth.q2.s0" text=""/>
    <sentence id="DDI-Synth.q2.s1" text="Digoxin toxicity may occur.">
        <entity id="DDI-Synth.q2.s1.e0" charOffset="0-6" type="drug" text="Digoxin"/>
    </sentence>
</document>
"""
    val d3 = {
      // entity at end of sentence (EOS flush path) — no trailing period
      val text = "Concurrent therapy requires monitoring of digoxin"
      s"""<?xml version="1.0" encoding="UTF-8"?>
<document id="DDI-Synth.q3">
    <sentence id="DDI-Synth.q3.s0" text="${esc(text)}">
        <entity id="DDI-Synth.q3.s0.e0" charOffset="42-48" type="drug" text="digoxin"/>
    </sentence>
</document>
"""
    }
    val d4 = {
      // multi-token entity whose gold text spacing differs from
      // space-joined token forms (double space in original)
      val text = "Patients taking beta  blockers need dose adjustment."
      s"""<?xml version="1.0" encoding="UTF-8"?>
<document id="DDI-Synth.q4">
    <sentence id="DDI-Synth.q4.s0" text="${esc(text)}">
        <entity id="DDI-Synth.q4.s0.e0" charOffset="16-29" type="group" text="beta  blockers"/>
    </sentence>
</document>
"""
    }
    Seq(d0, d1, d2, d3, d4).zipWithIndex.map { case (xml, i) =>
      mkRow(s"q$i", xml, 0)
    }
  }

  private def sha40(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def mkRow(id: String, xml: String, repoIdx: Long): DocRow =
    DocRow(
      repo = s"repo-$repoIdx",
      path = s"docs/DDI-Synth.d$id.xml",
      commit = sha40(id + xml.length),
      lang = "xml",
      content = xml
    )

  /** Distributed deterministic corpus: `n` generated docs + the 5 quirk
    * docs, as the input-hint table with the sha256 invariant column.
    * Repo assignment is mildly skewed (~30% in repo-0) to exercise the
    * partitioned write.
    */
  def corpus(spark: SparkSession, n: Long, seed: Long = 42L, nRepos: Int = 8): DataFrame = {
    import spark.implicits._
    val gen = spark
      .range(n)
      .map { i =>
        val xml = docXml(seed, i)
        val repoIdx = if (i % 10 < 3) 0L else i % nRepos
        mkRow(i.toString, xml, repoIdx)
      }
    val quirks = spark.createDataset(quirkDocs)
    graft.pipeline.Pipeline.withSha(gen.union(quirks).toDF())
  }

  /** (train, eval) split of parsed sentences: eval iff `|docId.hashCode| % 4 == 0`. */
  def trainEval(sents: Dataset[ParsedSentence]): (Dataset[ParsedSentence], Dataset[ParsedSentence]) = {
    def isEval(s: ParsedSentence) = math.abs(s.docId.hashCode) % 4 == 0
    (sents.filter(s => !isEval(s)), sents.filter(s => isEval(s)))
  }
}
