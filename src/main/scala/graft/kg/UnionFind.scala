package graft.kg

/** Driver-side union-find with path compression, labeling every node by
  * the Ordering-minimum of its component — the sequential twin of the
  * distributed min-label CC loop in [[Canonicalize]].
  *
  * One implementation instead of the per-call-site copies that had
  * accumulated (Canonicalize's small-graph fast path, the MegaDrill
  * measurement tool, the dedup specs): the find loop and the
  * min-labeling are exactly the kind of code where divergent copies rot.
  * Driver-side by design — callers are bounded (small graphs, training
  * surface vocabularies, collected pair sets, spec fixtures); the
  * distributed path stays in
  * [[Canonicalize.connectedComponents]].
  */
object UnionFind {

  /** (node -> Ordering-min of its component) over `nodes` plus every
    * endpoint in `edges`; nodes touched by no edge label themselves.
    */
  def minLabels[T](nodes: Iterable[T], edges: IterableOnce[(T, T)])(
      implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent.getOrElse(cur, cur)
        parent(cur) = root
        cur = next
      }
      root
    }
    nodes.foreach(n => parent.getOrElseUpdate(n, n))
    edges.iterator.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[T, T]
    parent.keys.foreach { n =>
      val r = find(n)
      val cur = minOfRoot.get(r)
      if (cur.isEmpty || ord.lt(n, cur.get)) minOfRoot(r) = n
    }
    parent.keys.map(n => n -> minOfRoot(find(n))).toMap
  }
}
