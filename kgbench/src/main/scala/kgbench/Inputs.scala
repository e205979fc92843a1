package kgbench

import graft.core.DocRow
import graft.fixtures.DocGen
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded inputs. Every value is a pure function of the seed and a row
  * index, so one seed always gives the same tables.
  */
object Inputs {

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def rand(seed: Long, salt: Long): scala.util.Random = new scala.util.Random(mix(seed, salt))

  // ---- docs table: DocGen corpus plus planted dirty rows ----------------

  /** Dirty rows planted beside DocGen's `n` generated docs. */
  final case class Planted(truncated: Int, empty: Int, duplicated: Int) {
    /** Rows the StAX parse must reject. */
    def malformed: Int = truncated + empty
    def total: Int = truncated + empty + duplicated
  }

  /** About 0.25% truncated, 0.1% empty and 0.25% duplicated rows. */
  def planted(seed: Long, n: Long): Planted = {
    val r = rand(seed, 1)
    val q = math.max(2, (n / 400).toInt)
    Planted(q + r.nextInt(q / 2 + 1), q / 2 + r.nextInt(q / 4 + 1), q + r.nextInt(q / 2 + 1))
  }

  /** DocGen's repo rule: about 30% of rows in repo-0. */
  def repoOf(i: Long, nRepos: Int): String = s"repo-${if (i % 10 < 3) 0L else i % nRepos}"

  /** The planted rows. Truncated docs are cut inside the root element,
    * so they can never parse; duplicated rows copy generated docs, repo
    * and all.
    */
  def dirtyRows(seed: Long, n: Long, nRepos: Int): Seq[DocRow] = {
    val p = planted(seed, n)
    val r = rand(seed, 2)
    def row(tag: String, i: Long, content: String) =
      DocRow(repoOf(i, nRepos), s"docs/DDI-Synth.$tag$i.xml", f"${mix(seed, i)}%016x", "xml", content)
    val truncated = (0 until p.truncated).map { j =>
      val i = n + j
      val xml = DocGen.docXml(seed, i)
      val open = xml.indexOf("<sentence")
      val close = xml.lastIndexOf("</document>")
      row("t", i, xml.substring(0, open + r.nextInt(close - open)))
    }
    val empty = (0 until p.empty).map(j => row("e", n + p.truncated + j, ""))
    val dups = (0 until p.duplicated).map { _ =>
      val i = (r.nextLong() & Long.MaxValue) % n
      DocRow(repoOf(i, nRepos), s"docs/DDI-Synth.d$i.xml", "dup", "xml", DocGen.docXml(seed, i))
    }
    truncated ++ empty ++ dups
  }

  /** The docs table `(repo, path, commit, lang, content, content_sha)`:
    * `n` DocGen docs, DocGen's 5 quirk docs and the planted rows.
    */
  def docsTable(spark: SparkSession, seed: Long, n: Long, nRepos: Int): DataFrame = {
    import spark.implicits._
    DocGen.corpus(spark, n, seed, nRepos)
      .unionByName(Pipeline.withSha(spark.createDataset(dirtyRows(seed, n, nRepos)).toDF()))
  }

  /** Rows in [[docsTable]]. */
  def docsRows(seed: Long, n: Long): Long = n + DocGen.quirkDocs.length + planted(seed, n).total

  /** Training corpus for the models, seeded apart from the scored docs. */
  def trainDocs(spark: SparkSession, seed: Long): DataFrame =
    DocGen.corpus(spark, 500, mix(seed, 3))

  // ---- near-dup table ------------------------------------------------------

  /** Docs per planted near-dup cluster (fewer when a member is hot). */
  val ClusterSize = 5

  /** Doc `i` belongs to the hot cluster, about 2% of rows. */
  def isHot(seed: Long, i: Long): Boolean = java.lang.Long.remainderUnsigned(mix(seed ^ 0x5eedL, i), 50) == 0

  /** Block `b` (docs `5b..5b+4`) is a planted cluster, 30% of blocks. */
  def isClusterBlock(seed: Long, b: Long): Boolean = java.lang.Long.remainderUnsigned(mix(seed ^ 0xb10cL, b), 10) < 3

  private val Vocab = 60000
  private def word(x: Int): String = "w" + Integer.toString(x, 36)

  /** 50 to 79 words drawn from a 60k-word vocabulary: two unrelated
    * texts share no 3-word shingle in practice, so LSH links only
    * planted near-dups.
    */
  private def baseWords(r: scala.util.Random): Array[String] =
    Array.fill(50 + r.nextInt(30))(word(r.nextInt(Vocab)))

  /** The text of doc `i`. Hot docs are one identical text; members of a
    * planted cluster are its base text with one word replaced; every
    * other doc is an independent text.
    */
  def nearDupText(seed: Long, i: Long): String =
    if (isHot(seed, i)) baseWords(rand(seed, -1)).mkString(" ")
    else {
      val b = i / ClusterSize
      if (isClusterBlock(seed, b)) {
        val ws = baseWords(rand(seed, -2 - b))
        val m = (i % ClusterSize).toInt
        if (m > 0) {
          val pos = (m * 7 + (b % 5).toInt) % ws.length
          ws(pos) = "v" + m + ws(pos)
        }
        ws.mkString(" ")
      } else baseWords(rand(seed, i)).mkString(" ")
    }

  /** The cluster the planted structure puts doc `i` in, named by its
    * smallest doc id: `hotMin` for hot docs, the smallest non-hot id of
    * the block for planted clusters, and `i` itself otherwise.
    */
  def expectedCluster(seed: Long, i: Long, hotMin: Long): Long =
    if (isHot(seed, i)) hotMin
    else {
      val b = i / ClusterSize
      if (isClusterBlock(seed, b))
        (b * ClusterSize until i).find(j => !isHot(seed, j)).getOrElse(i)
      else i
    }

  def hotMin(seed: Long, n: Long): Long = (0L until n).find(isHot(seed, _)).getOrElse(-1L)

  /** The near-dup table `(doc_id, text)`. */
  def nearDupTable(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map(i => (i.longValue, nearDupText(seed, i))).toDF("doc_id", "text")
  }

  /** (cluster count, assignment digest) the planted structure implies:
    * a plain loop over the ids, no Spark job.
    */
  def expectedClusters(seed: Long, n: Long): (Long, Long) = {
    val hm = hotMin(seed, n)
    var roots, d = 0L
    var i = 0L
    while (i < n) {
      val c = expectedCluster(seed, i, hm)
      if (c == i) roots += 1
      d += Digest.cluster(i, c)
      i += 1
    }
    (roots, d)
  }

}
