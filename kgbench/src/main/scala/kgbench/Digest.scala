package kgbench

import graft.core.{Mention, Triple}

/** Order-independent 64-bit digests of output sets: the wrapping sum of
  * a mixed FNV-1a hash per row, so partition order never matters and a
  * duplicated row changes the digest.
  */
object Digest {

  def hash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      i += 1
    }
    // splitmix64 finalizer: spreads FNV's weak low bits before summing
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  def triple(t: Triple): Long =
    hash(Seq(t.drugSubj, t.interactionPred, t.drugObj, t.sid, t.e1, t.e2, t.repo).mkString("\u0001"))

  def mention(m: Mention): Long =
    hash(Seq(m.sid, m.start.toString, m.end.toString, m.text, m.etype).mkString("\u0001"))

  def cluster(docId: Long, clusterId: Long): Long = hash(s"$docId\u0001$clusterId")

  def hex(d: Long): String = f"$d%016x"
}
