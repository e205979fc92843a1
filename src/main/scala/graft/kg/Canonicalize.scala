package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Alias canonicalization (SURVEY J4): connected components over
  * normalized drug surface forms via iterative min-label propagation.
  *
  * The reference has no counterpart (its evaluator keys on raw surface
  * text, ml/evaluator.py:40); the north star adds it. Graph shape: every
  * surface links to each of its normalization variants, so surfaces
  * sharing any variant land in one component; the canonical name is the
  * lexicographically smallest member (deterministic).
  *
  * Scale posture: label propagation is the textbook Spark CC — each
  * iteration is one shuffle on the node key; lineage is truncated with
  * `localCheckpoint` every iteration so 20 iterations don't build a
  * 20-deep recursive plan; convergence is checked with a changed-count
  * aggregate. Since round 5 the loop also POINTER-JUMPS (comp(comp(u))
  * via a self-join of the label frame), so convergence is O(log
  * diameter) — a chain-shaped dup graph of diameter d converges in
  * ~log2(d) rounds instead of d — and a non-converged exit THROWS
  * instead of returning silently-wrong labels. (Large-star/small-star
  * alternation reaches the same bound but rewrites the full edge
  * multigraph twice per round; jumping shuffles only the one-row-per-
  * node label frame and keeps the edge frame fixed and checkpointed.)
  * Component diameter for alias graphs is tiny (variants of one name),
  * so those converge in < 5 iterations in practice.
  */
object Canonicalize {

  /** Normalization variants of a drug surface. Each maps the surface
    * toward a canonical spelling; all are deterministic string rewrites.
    */
  def variants(surface: String): Seq[String] = {
    val lc = surface.toLowerCase(java.util.Locale.ROOT).trim
    val noParen = lc.replaceAll("\\s*\\([^)]*\\)", "").trim
    val base = if (noParen.nonEmpty) noParen else lc
    val squashed = base.replaceAll("[^a-z0-9]+", " ").trim.replaceAll("\\s+", " ")
    val noHyphen = base.replace("-", "").replaceAll("\\s+", " ").trim
    val depluraled =
      if (squashed.length > 3 && squashed.endsWith("s") && !squashed.endsWith("ss"))
        squashed.dropRight(1)
      else squashed
    Seq(lc, base, squashed, noHyphen, depluraled).filter(_.nonEmpty).distinct
  }

  /** Symmetric-edge budget below which CC runs as driver-side
    * union-find: an iterative distributed loop on a tiny graph is pure
    * scheduling overhead (measured 3.6s for 150 nodes — 6 iterations x
    * 3 jobs), while union-find is O(E a(E)) in microseconds. The local
    * branch is taken when 2 × (raw edge rows) <= the threshold — an
    * upper bound on the symmetric, deduplicated edge count, known from
    * one count of the checkpointed input without symmetrizing it; the
    * union-find then runs on the raw rows (duplicates, self-loops and
    * both directions included), so the local branch never shuffles.
    * Both paths produce identical (node, min-label) output
    * (property-tested).
    */
  val LocalCcThreshold: Long = 1000000L

  /** Iterations the most recent distributed CC loop took on this
    * driver (-1 before any run; union-find fast path does not set it).
    * Debug/spec observability for the O(log diameter) convergence
    * claim — the loop itself runs driver-side, so a plain volatile is
    * race-free per call and "last call wins" across concurrent CCs.
    */
  @volatile private[kg] var lastIterations: Int = -1

  /** Connected components by min-label propagation.
    *
    * @param edges undirected edges (src, dst); self-loops fine
    * @return (node, component) where component = min node id reachable
    */
  def connectedComponents(
      spark: SparkSession,
      edges: Dataset[(String, String)],
      maxIter: Int = 20,
      localThreshold: Long = LocalCcThreshold
  ): DataFrame = {
    import spark.implicits._
    ccImpl[String](spark, edges.toDF("src", "dst"), maxIter, localThreshold)
  }

  /** Long-keyed twin of [[connectedComponents]] for numeric node ids
    * (the near-dup doc graph): identical algorithm and min-label
    * contract — numeric min on longs equals lexicographic min on the
    * zero-padded strings the string path (and the DuckDB oracle's
    * replay) uses — but the label-propagation shuffles carry 8-byte
    * longs instead of 19-char padded strings, roughly 2.4× less key
    * volume at dup-graph scale, and the union-find fast path skips ~2
    * string allocations per edge.
    */
  def connectedComponentsLong(
      spark: SparkSession,
      edges: Dataset[(Long, Long)],
      maxIter: Int = 20,
      localThreshold: Long = LocalCcThreshold
  ): DataFrame = {
    import spark.implicits._
    ccImpl[Long](spark, edges.toDF("src", "dst"), maxIter, localThreshold)
  }

  private def ccImpl[T: Ordering](
      spark: SparkSession,
      edgesDf: DataFrame,
      maxIter: Int,
      localThreshold: Long
  )(implicit enc: org.apache.spark.sql.Encoder[(T, T)]): DataFrame = {
    import spark.implicits._
    // The raw edges are checkpointed BEFORE the branch decision so the
    // (possibly expensive) upstream edge computation runs exactly once —
    // a lazy count here was measured to recompute the whole LSH
    // candidate pipeline twice (sf1 q26: 69s vs 53s). Materialized under
    // NORMAL confs so the union-find fast path keeps compact partitions.
    // Union-find takes duplicates, self-loops and either direction as
    // they come, so the local branch collects the raw rows; only the
    // distributed loop symmetrizes and deduplicates (2 × rows bounds the
    // symmetric edge count, so the local branch never handles more than
    // `localThreshold` symmetric edges).
    val raw = edgesDf.localCheckpoint()
    // a row count of the checkpoint's RDD is one job; Dataset.count
    // plans an aggregate whose shuffle map stage AQE runs as a second
    val nRows = raw.queryExecution.toRdd.count()
    if (2 * nRows <= localThreshold) {
      return localUnionFind[T](spark, raw.as[(T, T)].collect())
    }

    // Distributed branch: AQE partition coalescing is DISABLED for the
    // loop (and restored after) — each iteration's label aggregate is
    // tiny (one row per node), which AQE would coalesce to 1-2
    // partitions, near-serializing the next multi-million-row
    // join/agg. Measured on the sf1 dup graph (7.6M edges, long keys):
    // 53-60s with coalescing vs 47-48s without; the effect bites
    // HARDER the narrower the keys (narrower keys = fewer shuffle
    // bytes = more aggressive under-partitioning). The guard also
    // covers the symmetric edge frame's materialization below. first-in
    // saves / last-out restores per session: overlapping CC calls must
    // not restore each other's intermediate "false"; unrelated queries
    // planned while a CC runs see coalescing off — harmless for
    // correctness.
    ccConfEnter(spark)
    try {
      // symmetrized, spread to full shuffle width on `src` (the raw
      // checkpoint's possibly AQE-coalesced partitioning would cap every
      // iteration's map-side width) and deduplicated in the same
      // exchange: hash partitioning on src satisfies the distinct's
      // (src, dst) clustering, so this is one shuffle of the edge set
      val sym = raw
        .union(raw.select($"dst".as("src"), $"src".as("dst")))
        .repartition(spark.sessionState.conf.numShufflePartitions, $"src")
        .distinct()
        .localCheckpoint()

      var labels = sym
        .select($"src".as("node"))
        .union(sym.select($"dst".as("node")))
        .distinct()
        .withColumn("comp", $"node")
        .localCheckpoint()

      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        val msgs = sym
          .join(labels.withColumnRenamed("node", "src"), "src")
          .select($"dst".as("node"), $"comp")
        // pointer jumping (path doubling): comp(comp(u)) — label
        // "distance to the component min" halves every iteration, so the
        // loop converges in O(log diameter) instead of O(diameter)
        // rounds (a diameter-25 chain converges in 6 iterations, not
        // 25). The join is on the LABEL frame (one row per node), not
        // the edge multigraph — the cheap side of the loop. It is total:
        // every comp value is a node id (initial comp = node; updates
        // take mins of node-id sets), so comp always resolves in
        // `labels` and the jump branch keeps exactly one row per node —
        // which also makes the plain `labels` union branch redundant
        // (jump(u) <= comp(u) by the comp(x) <= x invariant).
        val jump = labels.as("a")
          .join(labels.as("b"), col("a.comp") === col("b.node"))
          .select(col("a.node").as("node"), col("b.comp").as("comp"))
        val next = jump
          .union(msgs)
          .groupBy($"node")
          .agg(min($"comp").as("comp"))
          .localCheckpoint()
        val changed = next
          .join(labels.withColumnRenamed("comp", "old"), "node")
          .filter($"comp" =!= $"old")
          .limit(1)
          .count()
        labels = next
        converged = changed == 0
        iter += 1
      }
      // A silently-unconverged result is a WRONG answer (labels are
      // mins over a bounded neighborhood, not the component): fail loud.
      // With path doubling, maxIter = 20 covers diameter ~2^20, so this
      // only fires on a genuinely pathological graph or a too-small
      // caller-supplied maxIter.
      if (!converged)
        throw new IllegalStateException(
          s"connected components did not converge after $maxIter iterations " +
            s"($nRows edge rows); labels would be incorrect — raise maxIter")
      // operational breadcrumb: iteration count is the O(log diameter)
      // claim made observable (driver-side log, once per CC call)
      lastIterations = iter
      org.slf4j.LoggerFactory.getLogger("graft.kg.Canonicalize")
        .info(s"connected components converged after $iter iterations ($nRows edge rows)")
      labels
    } finally ccConfExit(spark)
  }

  // Scoping note: the cleaner isolation — planning the loop on a CLONED
  // session so concurrent queries keep AQE coalescing — is not reachable
  // through public API: SparkSession.cloneSession()/Dataset.ofRows are
  // private[sql], newSession() resets SQL conf instead of copying it,
  // and a DataFrame always plans against the session it was built on.
  // Hence the per-session save/set/restore below; concurrent unrelated
  // queries on the SAME session lose coalescing for the loop's duration
  // (perf-only, documented above).
  private val CoalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
  private val ccConfLock = new Object
  // per-SESSION depth + saved value (conf is session state — a second
  // session's CC must save/set its own conf, not ride the first's);
  // weak keys so stopped sessions don't pin
  private val ccConfState =
    new java.util.WeakHashMap[SparkSession, (Int, Option[String])]()
  private def ccConfEnter(spark: SparkSession): Unit = ccConfLock.synchronized {
    val (depth, saved) = Option(ccConfState.get(spark)).getOrElse((0, None))
    val nextSaved =
      if (depth == 0) {
        val s = spark.conf.getOption(CoalesceKey)
        spark.conf.set(CoalesceKey, "false")
        s
      } else saved
    ccConfState.put(spark, (depth + 1, nextSaved))
  }
  private def ccConfExit(spark: SparkSession): Unit = ccConfLock.synchronized {
    val (depth, saved) = Option(ccConfState.get(spark)).getOrElse((1, None))
    if (depth <= 1) {
      ccConfState.remove(spark)
      saved.fold(spark.conf.unset(CoalesceKey))(spark.conf.set(CoalesceKey, _))
    } else ccConfState.put(spark, (depth - 1, saved))
  }

  /** Small-graph fast path: [[UnionFind.minLabels]] on the collected
    * raw edge rows (identical contract to the distributed loop:
    * lexicographic min for strings, numeric min for longs).
    */
  private def localUnionFind[T: Ordering](
      spark: SparkSession,
      edges: Array[(T, T)]
  )(implicit enc: org.apache.spark.sql.Encoder[(T, T)]): DataFrame =
    spark.createDataset(UnionFind.minLabels(Nil, edges).toSeq)
      .toDF("node", "comp")

  /** One surface's edges in the surface↔variant bipartite graph: its
    * lower-cased, trimmed form to each `v:`-tagged variant, plus a
    * self-loop so every surface is a node.
    */
  private def surfaceEdges(s: String): Seq[(String, String)] = {
    val lc = s.toLowerCase(java.util.Locale.ROOT).trim
    variants(s).map(v => (lc, "v:" + v)) :+ ((lc, lc))
  }

  /** Map each distinct surface to its canonical name: build the
    * surface↔variant bipartite edge set, run CC, then canonical =
    * min surface (not variant) per component — variants that are not
    * themselves surfaces are dropped from the output domain.
    */
  def canonicalMap(
      spark: SparkSession,
      surfaces: Dataset[String]
  ): DataFrame = {
    import spark.implicits._
    val surf = surfaces.distinct().cache()
    val edges = surf.flatMap(surfaceEdges)
    val cc = connectedComponents(spark, edges)
    // canonical = lexicographically smallest REAL surface in the component
    val real = cc.filter(!$"node".startsWith("v:"))
    val canon = real
      .groupBy($"comp")
      .agg(min($"node").as("canonical"))
    val out = real
      .join(canon, "comp")
      .select($"node".as("surface"), $"canonical")
    // unpersisting BEFORE `out` materializes is deliberate and safe:
    // everything downstream hangs off the localCheckpointed CC result
    // (connectedComponents truncates lineage), so `out` never re-reads
    // `surf`. Do not "fix" this by moving the unpersist after an action.
    surf.unpersist()
    out
  }

  /** [[canonicalMap]] on the driver, for a surface set that fits there
    * (a training vocabulary): the same edges through
    * [[UnionFind.minLabels]], and the same canonical — the smallest real
    * surface of the component in Spark SQL's string order (UTF-8 bytes,
    * which `min` uses), not Scala's UTF-16 order.
    */
  def canonicalMapLocal(surfaces: Iterable[String]): Map[String, String] = {
    val real = UnionFind.minLabels(Nil, surfaces.iterator.flatMap(surfaceEdges))
      .filter { case (node, _) => !node.startsWith("v:") }
    val canonical = real.groupMapReduce(_._2)(_._1) { (a, b) =>
      if (UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) <= 0) a else b
    }
    real.map { case (node, comp) => node -> canonical(comp) }
  }
}
