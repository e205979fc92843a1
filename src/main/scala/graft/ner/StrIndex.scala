package graft.ner

/** Open-addressing `String -> dense id` table (ids `0 until size`, in
  * first-insertion order): the interned lookup behind the tagger's and
  * the DDI scorer's weight rows. A probe hashes the chars once and
  * compares at most a few keys, with no boxing and no trie walk, and a
  * lookup can key on a char range of a longer string, so suffix probes
  * allocate nothing. Built once per model, never mutated after.
  */
final class StrIndex(keys0: Iterator[String]) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
  private var mask = 15
  private var slots = Array.fill(16)(-1)

  keys0.foreach(add)

  /** The interned keys, by id. */
  val keys: Array[String] = buf.toArray

  def size: Int = keys.length

  /** Id of `s`, or -1. */
  def get(s: String): Int = find(s, 0, s.length, s.hashCode)

  /** Id of `s.substring(from, until)`, or -1, without building it. */
  def get(s: String, from: Int, until: Int): Int =
    if (from == 0 && until == s.length) get(s)
    else {
      var h = 0
      var i = from
      while (i < until) { h = 31 * h + s.charAt(i); i += 1 }
      find(s, from, until, h)
    }

  private def spread(h: Int): Int = {
    val x = h * 0x9E3779B9
    x ^ (x >>> 16)
  }

  private def find(s: String, from: Int, until: Int, h: Int): Int = {
    val len = until - from
    var p = spread(h) & mask
    while (true) {
      val id = slots(p)
      if (id < 0) return -1
      val k = buf(id)
      if (k.length == len && k.regionMatches(0, s, from, len)) return id
      p = (p + 1) & mask
    }
    -1
  }

  private def add(s: String): Unit =
    if (get(s) < 0) {
      if (2 * (buf.length + 1) > slots.length) {
        slots = Array.fill(2 * slots.length)(-1)
        mask = slots.length - 1
        buf.indices.foreach(place)
      }
      buf += s
      place(buf.length - 1)
    }

  private def place(id: Int): Unit = {
    var p = spread(buf(id).hashCode) & mask
    while (slots(p) >= 0) p = (p + 1) & mask
    slots(p) = id
  }
}

/** Open-addressing `Long -> Int` table (absent = -1); the gazetteer
  * trie's edges, keyed `(node << 32) | wordId`.
  */
final class LongIntMap {
  private var keys = new Array[Long](16)
  private var vals = Array.fill(16)(-1)
  private var used = 0

  private def slot(k: Long, ks: Array[Long], vs: Array[Int]): Int = {
    val x = (k ^ (k >>> 29)) * 0x9E3779B97F4A7C15L
    var p = (x ^ (x >>> 32)).toInt & (ks.length - 1)
    while (vs(p) >= 0 && ks(p) != k) p = (p + 1) & (ks.length - 1)
    p
  }

  def get(k: Long): Int = vals(slot(k, keys, vals))

  def put(k: Long, v: Int): Unit = {
    require(v >= 0, "values are non-negative")
    if (2 * (used + 1) > keys.length) {
      val (ok, ov) = (keys, vals)
      keys = new Array[Long](2 * ok.length)
      vals = Array.fill(2 * ok.length)(-1)
      var i = 0
      while (i < ok.length) {
        if (ov(i) >= 0) { val p = slot(ok(i), keys, vals); keys(p) = ok(i); vals(p) = ov(i) }
        i += 1
      }
    }
    val p = slot(k, keys, vals)
    if (vals(p) < 0) used += 1
    keys(p) = k
    vals(p) = v
  }
}
