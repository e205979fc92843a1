package graft.ops

/** The string-building md5 band-minimum loop that [[Dedup.Md5BandKernel]]
  * replaced, kept as the differential oracle: DedupPropertySpec compares
  * the kernel against this object on generated text. It splits the text
  * on single spaces, builds each distinct k-token window as a String,
  * appends "#" + b/2 with a StringBuilder and parses bands 2·(b/2) and
  * 2·(b/2) + 1 from the md5 digest bytes.
  */
object Md5BandMinsOracle {

  private def distinctShingles(toks: Array[String], k: Int): java.util.HashSet[String] = {
    val seen = new java.util.HashSet[String](math.max(16, toks.length * 2))
    var i = 0
    while (i <= toks.length - k) {
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }

  /** The `bands` minimums of `text`, or null when it is null or has
    * fewer than `k` tokens.
    */
  def bandMins(text: String, bands: Int, k: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val nDigests = (bands + 1) / 2
    // null text == no shingles (shingleRows' convention): absent
    val toks = if (text == null) null else text.split(" ", -1)
    if (toks == null || toks.length < k) null
    else {
      val mins = Array.fill(bands)(Long.MaxValue)
      val it = distinctShingles(toks, k).iterator()
      while (it.hasNext) {
        val sb = new java.lang.StringBuilder(it.next())
        val baseLen = sb.length
        var bi = 0
        while (bi < nDigests) {
          sb.setLength(baseLen)
          sb.append('#').append(bi)
          md.reset()
          val d = md.digest(
            sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var v0 = 0L
          var x = 0
          while (x < 7) { v0 = (v0 << 8) | (d(x) & 0xffL); x += 1 }
          v0 = (v0 << 4) | ((d(7) >> 4) & 0xfL)
          val b0 = 2 * bi
          if (v0 < mins(b0)) mins(b0) = v0
          val b1 = b0 + 1
          if (b1 < bands) {
            var v1 = d(7) & 0xfL
            x = 8
            while (x < 15) { v1 = (v1 << 8) | (d(x) & 0xffL); x += 1 }
            if (v1 < mins(b1)) mins(b1) = v1
          }
          bi += 1
        }
      }
      mins
    }
  }
}
