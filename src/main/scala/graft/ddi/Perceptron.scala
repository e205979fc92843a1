package graft.ddi

import graft.ner.{RawScorer, StrIndex}

/** Multiclass averaged perceptron (Collins 2002, "Discriminative
  * Training Methods for HMMs") — the round-3 DDI pair classifier.
  * Chosen over the MNB after a measured devel comparison (typed F1
  * 0.604 vs the MNB arm's 0.537, BASELINE.md; the python ablation twin
  * read 0.630 vs 0.544): the discriminative update down-weights the
  * noisy mid-window unigrams the generative bag could only survive by
  * truncation, and makes mid bigrams usable (they overfit under MNB).
  *
  * Determinism: fixed example order (callers sort), fixed epochs,
  * first-maximum tie-break — byte-stable across runs and partitionings.
  */
object Perceptron {

  /** Averaged weights; scoring is a sparse dot product per class.
    * `classes` sorted ascending like [[graft.ner.MnbParams]].
    */
  final case class PerceptronParams(
      classes: Array[String],
      weights: Map[String, Array[Double]]
  ) extends RawScorer {

    /** [[weights]] interned: feature -> row of one flat array. Derived
      * once per model instance; broadcasts keep the map format.
      */
    @transient private lazy val index = new StrIndex(weights.keysIterator)
    @transient private lazy val rows: Array[Double] = {
      val nc = classes.length
      val w = new Array[Double](index.size * nc)
      index.keys.indices.foreach(r => System.arraycopy(weights(index.keys(r)), 0, w, r * nc, nc))
      w
    }

    /** Sum of the features' weight rows, in feature order; an unseen
      * feature contributes nothing.
      */
    def scoresRaw(feats: Seq[String]): Array[Double] = {
      val nc = classes.length
      val s = new Array[Double](nc)
      val ix = index
      val w = rows
      val it = feats.iterator
      while (it.hasNext) {
        val r = ix.get(it.next())
        if (r >= 0) {
          val o = r * nc
          var i = 0
          while (i < nc) { s(i) += w(o + i); i += 1 }
        }
      }
      s
    }
  }

  /** Fit on an ordered example stream. `positiveCost` scales the update
    * when the TRUE label is not `reject` — the standard cost-sensitive
    * counter to the ~87% none-class imbalance of the DDI pair stream.
    * `classCost` multiplies the cost further for specific true classes
    * (cost-sensitive multiclass, e.g. an extra factor for a rare class);
    * empty = all 1.0, behavior unchanged. The averaged weights are
    * w_final = w - acc/t with t advancing once per example across all
    * epochs (Collins' lazy-average trick).
    *
    * `init` warm-starts the raw weights (iterative parameter mixing,
    * McDonald et al. 2010 — the averaging accumulator starts fresh, so
    * the returned average is over THIS fit's trajectory from the init
    * point; a feature never updated here keeps its init weight).
    * `None` = cold start, bit-identical to the previous behavior.
    */
  def fit(
      examples: IndexedSeq[(Seq[String], String)],
      epochs: Int = 5,
      positiveCost: Double = 2.0,
      reject: String = "none",
      classCost: Map[String, Double] = Map.empty,
      init: Option[PerceptronParams] = None
  ): PerceptronParams = {
    val classes = (examples.map(_._2) ++ init.toSeq.flatMap(_.classes))
      .distinct.sorted.toArray
    if (classes.isEmpty) return PerceptronParams(classes, Map.empty)
    val ci = classes.zipWithIndex.toMap
    val nc = classes.length
    val costOf = Array.tabulate(nc)(i =>
      (if (classes(i) != reject) positiveCost else 1.0) *
        classCost.getOrElse(classes(i), 1.0))
    val w = scala.collection.mutable.HashMap.empty[String, Array[Double]]
    val acc = scala.collection.mutable.HashMap.empty[String, Array[Double]]
    init.foreach { p =>
      val remap = p.classes.map(ci)
      p.weights.foreach { case (f, ww) =>
        val row = w.getOrElseUpdate(f, new Array[Double](nc))
        var i = 0
        while (i < ww.length) { row(remap(i)) = ww(i); i += 1 }
      }
    }
    var t = 1L
    val data = examples.map { case (fs, lab) => (fs, ci(lab)) }
    var e = 0
    while (e < epochs) {
      data.foreach { case (fs, y) =>
        val s = new Array[Double](nc)
        fs.foreach { f =>
          w.get(f) match {
            case Some(ww) =>
              var i = 0
              while (i < nc) { s(i) += ww(i); i += 1 }
            case None =>
          }
        }
        var yhat = 0
        var i = 1
        while (i < nc) { if (s(i) > s(yhat)) yhat = i; i += 1 }
        if (yhat != y) {
          val c = costOf(y)
          fs.foreach { f =>
            val ww = w.getOrElseUpdate(f, new Array[Double](nc))
            val aa = acc.getOrElseUpdate(f, new Array[Double](nc))
            ww(y) += c; ww(yhat) -= c
            aa(y) += c * t; aa(yhat) -= c * t
          }
        }
        t += 1
      }
      e += 1
    }
    val avg = w.iterator.map { case (f, ww) =>
      // init-seeded features that were never updated have no acc entry:
      // their average IS the (unchanged) init weight
      acc.get(f) match {
        case Some(aa) => f -> Array.tabulate(nc)(i => ww(i) - aa(i) / t)
        case None     => f -> ww.clone()
      }
    }.toMap
    PerceptronParams(classes, avg)
  }

  /** Unbounded-training-scale path: partition-local fits + parameter
    * averaging (same strategy and literature as the distributed CRF,
    * `ner/Crf.scala` — McDonald et al. 2010). Class arrays are unioned;
    * a weight absent from a local model averages as 0.
    */
  def average(ps: Seq[PerceptronParams]): PerceptronParams = {
    if (ps.isEmpty) return PerceptronParams(Array.empty, Map.empty)
    val classes = ps.flatMap(_.classes).distinct.sorted.toArray
    val idx = classes.zipWithIndex.toMap
    val nc = classes.length
    val inv = 1.0 / ps.length
    val out = scala.collection.mutable.HashMap.empty[String, Array[Double]]
    ps.foreach { p =>
      val remap = p.classes.map(idx)
      p.weights.foreach { case (f, ww) =>
        val acc = out.getOrElseUpdate(f, new Array[Double](nc))
        var i = 0
        while (i < ww.length) { acc(remap(i)) += ww(i) * inv; i += 1 }
      }
    }
    PerceptronParams(classes, out.toMap)
  }
}
