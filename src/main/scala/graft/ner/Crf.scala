package graft.ner

/** Linear-chain CRF — capability parity with the reference's A6 model
  * (ml/src/models/CRF.py:26-43: pycrfsuite `l2sgd` trainer on `crf1d`
  * features, `feature.minfreq=1`, `c2=0.1`).
  *
  * Architecture split (the Spark-first shape): the model is fitted ONCE,
  * driver-side, on the collected training token stream (bounded by the
  * training corpus, ~10^5 tokens — never the scoring corpus), then the
  * weights broadcast and Viterbi decoding runs distributed inside
  * `mapPartitions` like every other MentionScorer.
  *
  * Reference quirks reproduced:
  *   - training chunks the FLAT token stream into 100-token
  *     pseudo-sequences, discarding real sentence boundaries
  *     (CRF.py:28-29 `batched(xseq, 100)`; train.py:20-21 flattens the
  *     sentences first);
  *   - prediction is per real sentence (predict.py:12-14);
  *   - state features are the raw binary feature strings (crf1d), plus
  *     first-order label-transition weights;
  *   - objective = Σ loglik − c2·||w||², optimized by SGD with the
  *     Pegasos-style η = 1/(λ(t0+t)) schedule crfsuite's l2sgd uses
  *     (λ = 2·c2/N). Exact numeric parity with crfsuite's calibrated
  *     schedule is NOT claimed — the resulting F1 is reported honestly
  *     in BASELINE.md instead.
  */
object Crf {

  final case class CrfParams(
      labels: Array[String],
      state: Map[String, Array[Double]],
      trans: Array[Array[Double]]
  ) extends Serializable

  /** Reference entry shape: flat (features, tag) token stream in corpus
    * order, chunked into 100-token pseudo-sequences (CRF.py:28-29).
    */
  def fitTokenStream(
      stream: Seq[(Seq[String], String)],
      c2: Double = 0.1,
      epochs: Int = 30,
      chunk: Int = 100,
      init: Option[CrfParams] = None
  ): CrfParams = {
    val seqs = stream.grouped(chunk).map { g =>
      (g.map(_._1).toIndexedSeq, g.map(_._2).toIndexedSeq)
    }.toIndexedSeq
    fit(seqs, c2, epochs, init)
  }

  /** `init` warm-starts the weights (iterative parameter mixing,
    * McDonald et al. 2010: each mixing round re-fits partition-locally
    * FROM the previous round's average). Labels and features are the
    * union of the data's and the init's, so a feature a partition never
    * sees keeps its init weight (modulo this fit's L2 decay) instead of
    * being dropped. `None` = cold start, bit-identical to the previous
    * behavior.
    */
  def fit(
      seqs: IndexedSeq[(IndexedSeq[Seq[String]], IndexedSeq[String])],
      c2: Double = 0.1,
      epochs: Int = 30,
      init: Option[CrfParams] = None
  ): CrfParams = {
    // c2 = 0 makes lambda = 0, so the 1/(lambda*(t0+t)) step size is NaN
    // and every weight silently becomes NaN — fail loudly instead
    require(c2 > 0.0, s"c2 must be > 0 (l2sgd step size is 1/(lambda*t)); got $c2")
    val labels = (seqs.flatMap(_._2) ++ init.toSeq.flatMap(_.labels))
      .distinct.sorted.toArray
    val labIdx = labels.zipWithIndex.toMap
    val nLab = labels.length
    val featIdx = scala.collection.mutable.HashMap.empty[String, Int]
    init.foreach(_.state.keysIterator.toSeq.sorted
      .foreach(f => featIdx.getOrElseUpdate(f, featIdx.size)))
    seqs.foreach(_._1.foreach(_.foreach(f => featIdx.getOrElseUpdate(f, featIdx.size))))
    val nFeat = featIdx.size

    // w = scale * v (scale trick: L2 decay touches one scalar per step,
    // not every weight)
    val vState = Array.fill(nFeat, nLab)(0.0)
    val vTrans = Array.fill(nLab, nLab)(0.0)
    var scale = 1.0
    init.foreach { p =>
      val remap = p.labels.map(labIdx)
      p.state.foreach { case (f, w) =>
        val row = vState(featIdx(f))
        var i = 0
        while (i < w.length) { row(remap(i)) = w(i); i += 1 }
      }
      var a = 0
      while (a < p.labels.length) {
        var b = 0
        while (b < p.labels.length) {
          vTrans(remap(a))(remap(b)) = p.trans(a)(b); b += 1
        }
        a += 1
      }
    }
    val lambda = 2.0 * c2 / math.max(1, seqs.length)
    val eta0 = 0.1
    val t0 = 1.0 / (lambda * eta0)
    var t = 0L

    def logsumexp(a: Array[Double]): Double = {
      var m = a(0); var i = 1
      while (i < a.length) { if (a(i) > m) m = a(i); i += 1 }
      if (m.isNegInfinity) return m
      var s = 0.0; i = 0
      while (i < a.length) { s += math.exp(a(i) - m); i += 1 }
      m + math.log(s)
    }

    for (_ <- 0 until epochs; (xs, ys) <- seqs) {
      val T = xs.length
      val eta = 1.0 / (lambda * (t0 + t))
      t += 1

      // effective scores (include current scale)
      val feats = xs.map(_.map(featIdx).toArray)
      val psi = Array.tabulate(T, nLab) { (i, l) =>
        var s = 0.0; val fa = feats(i); var j = 0
        while (j < fa.length) { s += vState(fa(j))(l); j += 1 }
        s * scale
      }
      val tr = Array.tabulate(nLab, nLab)((a, b) => vTrans(a)(b) * scale)

      // forward-backward in log space
      val alpha = Array.fill(T, nLab)(0.0)
      val beta = Array.fill(T, nLab)(0.0)
      val tmp = new Array[Double](nLab)
      var l = 0
      while (l < nLab) { alpha(0)(l) = psi(0)(l); l += 1 }
      var i = 1
      while (i < T) {
        var b = 0
        while (b < nLab) {
          var a = 0
          while (a < nLab) { tmp(a) = alpha(i - 1)(a) + tr(a)(b); a += 1 }
          alpha(i)(b) = psi(i)(b) + logsumexp(tmp)
          b += 1
        }
        i += 1
      }
      i = T - 2
      while (i >= 0) {
        var a = 0
        while (a < nLab) {
          var b = 0
          while (b < nLab) { tmp(b) = tr(a)(b) + psi(i + 1)(b) + beta(i + 1)(b); b += 1 }
          beta(i)(a) = logsumexp(tmp)
          a += 1
        }
        i -= 1
      }
      val logZ = logsumexp(alpha(T - 1))

      // decay, then add the sparse gradient at the NEW scale
      scale *= (1.0 - eta * lambda)
      if (scale < 1e-9) { // renormalize to avoid underflow
        var f = 0
        while (f < nFeat) {
          var k = 0
          while (k < nLab) { vState(f)(k) *= scale; k += 1 }
          f += 1
        }
        var a = 0
        while (a < nLab) {
          var b = 0
          while (b < nLab) { vTrans(a)(b) *= scale; b += 1 }
          a += 1
        }
        scale = 1.0
      }
      val inc = eta / scale

      i = 0
      while (i < T) {
        val gold = labIdx(ys(i))
        val fa = feats(i)
        // empirical − expected (node marginals)
        var k = 0
        while (k < nLab) {
          val m = math.exp(alpha(i)(k) + beta(i)(k) - logZ)
          val g = (if (k == gold) 1.0 else 0.0) - m
          if (g != 0.0) {
            var j = 0
            while (j < fa.length) { vState(fa(j))(k) += inc * g; j += 1 }
          }
          k += 1
        }
        if (i > 0) {
          val prevGold = labIdx(ys(i - 1))
          var a = 0
          while (a < nLab) {
            var b = 0
            while (b < nLab) {
              val m = math.exp(alpha(i - 1)(a) + tr(a)(b) + psi(i)(b) + beta(i)(b) - logZ)
              val g = (if (a == prevGold && b == gold) 1.0 else 0.0) - m
              vTrans(a)(b) += inc * g
              b += 1
            }
            a += 1
          }
        }
        i += 1
      }
    }

    val stateOut = featIdx.iterator.map { case (f, fi) =>
      f -> Array.tabulate(nLab)(l => vState(fi)(l) * scale)
    }.toMap
    val transOut = Array.tabulate(nLab, nLab)((a, b) => vTrans(a)(b) * scale)
    CrfParams(labels, stateOut, transOut)
  }

  /** Parameter averaging over independently-fitted CRFs — the standard
    * distributed training strategy for structured linear models
    * (partition-local SGD, average the weight vectors; public literature:
    * McDonald et al. 2010, distributed structured perceptron). Labels
    * and feature vocabularies are unioned; a weight absent from a local
    * model averages as 0.
    */
  def average(ps: Seq[CrfParams]): CrfParams = {
    // zero models (an entirely empty training set) averages to the empty
    // model — same degenerate output as fit on an empty stream
    if (ps.isEmpty) return fit(IndexedSeq.empty)
    val labels = ps.flatMap(_.labels).distinct.sorted.toArray
    val idx = labels.zipWithIndex.toMap
    val n = labels.length
    val inv = 1.0 / ps.length
    val trans = Array.fill(n, n)(0.0)
    val state = scala.collection.mutable.HashMap.empty[String, Array[Double]]
    ps.foreach { p =>
      val remap = p.labels.map(idx)
      var a = 0
      while (a < p.labels.length) {
        var b = 0
        while (b < p.labels.length) {
          trans(remap(a))(remap(b)) += p.trans(a)(b) * inv
          b += 1
        }
        a += 1
      }
      p.state.foreach { case (f, w) =>
        val acc = state.getOrElseUpdate(f, new Array[Double](n))
        var l = 0
        while (l < w.length) { acc(remap(l)) += w(l) * inv; l += 1 }
      }
    }
    CrfParams(labels, state.toMap, trans)
  }

  /** First-order Viterbi decode; unseen features contribute nothing
    * (crfsuite ignores unknown attributes at tag time). Ties break to the
    * lower label index — deterministic.
    */
  def viterbi(params: CrfParams, xs: IndexedSeq[Seq[String]]): IndexedSeq[String] = {
    val nLab = params.labels.length
    val T = xs.length
    if (T == 0) return IndexedSeq.empty
    // a model fitted on zero tokens has no labels: degrade to all-O
    // (the CustomModel floor) instead of crashing the executor task
    if (nLab == 0) return xs.map(_ => "O")
    val psi = Array.tabulate(T, nLab) { (i, l) =>
      var s = 0.0
      xs(i).foreach { f =>
        params.state.get(f) match {
          case Some(w) => s += w(l)
          case None    =>
        }
      }
      s
    }
    val delta = Array.fill(T, nLab)(0.0)
    val back = Array.fill(T, nLab)(0)
    var l = 0
    while (l < nLab) { delta(0)(l) = psi(0)(l); l += 1 }
    var i = 1
    while (i < T) {
      var b = 0
      while (b < nLab) {
        var bestA = 0
        var bestS = delta(i - 1)(0) + params.trans(0)(b)
        var a = 1
        while (a < nLab) {
          val s = delta(i - 1)(a) + params.trans(a)(b)
          if (s > bestS) { bestS = s; bestA = a }
          a += 1
        }
        delta(i)(b) = bestS + psi(i)(b)
        back(i)(b) = bestA
        b += 1
      }
      i += 1
    }
    var best = 0
    l = 1
    while (l < nLab) { if (delta(T - 1)(l) > delta(T - 1)(best)) best = l; l += 1 }
    val out = new Array[String](T)
    i = T - 1
    while (i >= 0) {
      out(i) = params.labels(best)
      if (i > 0) best = back(i)(best)
      i -= 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
}

/** Token tagger backed by broadcast CRF parameters: per-sentence Viterbi
  * over the same W1 window features the other scorers use.
  *
  * Ablation tried and NOT adopted (DebugCrf, reference corpus): merging
  * the gazetteer over the CRF HybridScorer-style trades P for R — devel
  * typed F1 drops 78.9 → 78.0 (test: 79.5 vs 79.6 — within noise). The CRF already
  * memorizes training surfaces via its `form=` state features, so the
  * gazetteer only adds its false positives. Don't retry.
  */
final class CrfScorer(
    private[graft] val params: Crf.CrfParams,
    gazFeat: Option[GazetteerScorer] = None
) extends MentionScorer {
  def tagSentence(toks: IndexedSeq[graft.core.Tok]): IndexedSeq[String] =
    Crf.viterbi(params,
      Features.withGaz(Features.extractFeatures(toks), toks, gazFeat))
}
