package graft.core

/** `XmlParse.parseDocEither` with a malformed document read as no
  * sentences: the specs' one-document parse.
  */
object ParseDoc {
  def apply(repo: String, content: String): Seq[ParsedSentence] =
    XmlParse.parseDocEither(repo, content).getOrElse(Vector.empty)
}
