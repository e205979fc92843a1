package kgbench

/** Order statistics and ratios the benchmark reports. */
object Stats {

  /** Fewest samples that must lie beyond a reported percentile. */
  val MinBeyond = 10

  /** Nearest-rank index (0-based) of percentile `p` in `n` sorted samples. */
  def rankIndex(n: Int, p: Double): Int = {
    require(n > 0, "no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    math.max(0, math.ceil(p / 100.0 * n).toInt - 1)
  }

  /** Samples strictly beyond percentile `p`'s nearest-rank position. */
  def beyond(n: Int, p: Double): Int = n - rankIndex(n, p) - 1

  /** Nearest-rank percentile: always one of the samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    xs.sorted.apply(rankIndex(xs.length, p))

  /** Whether `p` has at least [[MinBeyond]] samples beyond it. */
  def reportable(n: Int, p: Double): Boolean = n > 0 && beyond(n, p) >= MinBeyond

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** A ratio that keeps its base, so a report can say what it divides by. */
  final case class Ratio(num: Double, base: Double, baseName: String) {
    require(base > 0, s"ratio base '$baseName' must be positive, got $base")
    def value: Double = num / base
  }

  /** Input docs per second of wall time from scan to last commit. */
  def docsPerSecond(docs: Long, wallNs: Long): Ratio =
    Ratio(docs.toDouble, wallNs / 1e9, "wall seconds, scan to last commit")

  /** Docs-table records read by all tasks over the table's row count. */
  def scanPasses(recordsRead: Long, tableRows: Long): Ratio =
    Ratio(recordsRead.toDouble, tableRows.toDouble, "docs-table rows")

  /** Relations kept over the candidate pairs classified. */
  def relationsPerPair(relations: Long, pairs: Long): Ratio =
    Ratio(relations.toDouble, pairs.toDouble, "candidate pairs")

  /** Executor CPU over wall time times the local cores. */
  def cpuUtil(cpuNs: Long, wallNs: Long, cores: Int): Ratio =
    Ratio(cpuNs.toDouble, wallNs.toDouble * cores, "wall x cores")

  /** Share of the traced pass's slot time (wall x cores) that no layer
    * span covers: row encoding, scan decoding, scheduling, idle slots.
    */
  def residualShare(layerNs: Long, wallNs: Long, cores: Int): Double =
    1.0 - Ratio(layerNs.toDouble, wallNs.toDouble * cores, "traced wall x cores").value

  /** Traced scoring wall over the untraced noop-sink scoring wall. */
  def traceOverhead(tracedNs: Long, untracedNs: Long): Ratio =
    Ratio(tracedNs.toDouble, untracedNs.toDouble, "untraced noop-sink score wall")

  /** Failed operations over attempted operations. */
  def failedRatio(failed: Int, attempted: Int): Ratio =
    Ratio(failed.toDouble, attempted.toDouble, "attempted operations")
}
