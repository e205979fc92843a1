package graft.core

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import java.io.StringReader
import scala.collection.mutable.ArrayBuffer

/** Streaming parser for the reference XML document format (SURVEY S1-S4).
  *
  * Reference semantics reproduced exactly:
  *   - iterate every `<sentence>` in document order, read `id` + `text`
  *     attributes (ml/extract-features.py:104-117);
  *   - for each `<entity>`: keep only the FIRST span of a discontinuous
  *     charOffset ("a-b;c-d" -> a..b, ml/extract-features.py:113-115) but
  *     retain the raw attribute for evaluator keys (ml/evaluator.py:40);
  *   - for each `<pair>`: e1, e2, ddi, and type (present iff ddi="true")
  *     (ml/evaluator.py:64-74).
  *
  * StAX pull parsing (not DOM) so a 100 TB corpus never materializes DOM
  * trees; the factory is per-thread (StAX factories are not thread-safe).
  */
object XmlParse {

  private val factory = new ThreadLocal[XMLInputFactory] {
    override def initialValue(): XMLInputFactory = {
      val f = XMLInputFactory.newInstance()
      // Hardening: the corpus is untrusted content; never resolve
      // external entities or DTDs.
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      f.setProperty(XMLInputFactory.IS_COALESCING, true)
      f
    }
  }

  private def attr(r: XMLStreamReader, name: String): Option[String] = {
    var i = 0
    val n = r.getAttributeCount
    while (i < n) {
      if (r.getAttributeLocalName(i) == name) return Some(r.getAttributeValue(i))
      i += 1
    }
    None
  }

  /** Parse one document's XML `content` into its sentences.
    *
    * @param repo    partition-key column carried through for output layout
    * @param content full XML text of one `<document>`
    * @return Right(sentences in document order), or Left(error) for
    *         malformed XML (null and empty content included), so a bad
    *         row never fails the job (at 10^12 files some rows WILL be
    *         garbage). Only `Pipeline.parseCounted` returns a count of
    *         them, in an at-least-once accumulator: `Pipeline.parse`
    *         drops it, and `Pipeline.scoreDocs` skips bad rows without
    *         counting them. An exact count waits on the funnel of
    *         ROADMAP direction 1.
    */
  def parseDocEither(repo: String, content: String): Either[String, Seq[ParsedSentence]] = {
    val out = ArrayBuffer.empty[ParsedSentence]
    var reader: XMLStreamReader = null
    try {
      reader = factory.get().createXMLStreamReader(new StringReader(content))
      var docId = ""
      var sid = ""
      var text = ""
      var inSentence = false
      val ents = ArrayBuffer.empty[GoldSpan]
      val pairs = ArrayBuffer.empty[GoldPairRef]
      while (reader.hasNext) {
        reader.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            reader.getLocalName match {
              case "document" =>
                docId = attr(reader, "id").getOrElse("")
              case "sentence" =>
                inSentence = true
                sid = attr(reader, "id").getOrElse("")
                text = attr(reader, "text").getOrElse("")
                ents.clear(); pairs.clear()
              case "entity" if inSentence =>
                val off = attr(reader, "charOffset").getOrElse("")
                // first-span truncation, ml/extract-features.py:115
                val first = off.split(";")(0).split("-")
                val (s, e) =
                  if (first.length >= 2)
                    (safeInt(first(0)), safeInt(first(1)))
                  else (-1, -1)
                ents += GoldSpan(
                  entityId = attr(reader, "id").getOrElse(""),
                  start = s,
                  end = e,
                  etype = attr(reader, "type").getOrElse(""),
                  text = attr(reader, "text").getOrElse(""),
                  rawOffset = off
                )
              case "pair" if inSentence =>
                val ddi = attr(reader, "ddi").contains("true")
                pairs += GoldPairRef(
                  pairId = attr(reader, "id").getOrElse(""),
                  e1 = attr(reader, "e1").getOrElse(""),
                  e2 = attr(reader, "e2").getOrElse(""),
                  ddi = ddi,
                  dtype = if (ddi) attr(reader, "type") else None
                )
              case _ =>
            }
          case XMLStreamConstants.END_ELEMENT =>
            if (reader.getLocalName == "sentence" && inSentence) {
              out += ParsedSentence(repo, docId, sid, text, ents.toVector, pairs.toVector)
              inSentence = false
            }
          case _ =>
        }
      }
      Right(out.toVector)
    } catch {
      case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      if (reader != null) try reader.close() catch { case _: Exception => }
    }
  }

  private def safeInt(s: String): Int =
    try s.trim.toInt
    catch { case _: NumberFormatException => -1 }
}
