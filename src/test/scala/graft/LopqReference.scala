package graft

import graft.core.{CellHistogram, CellMath, VectorOps}
import graft.engine.{LopqModel, LopqPca}

/** An independent, driver-only reference of the LOPQ arithmetic the engine
  * runs in [[graft.engine.SlimLopqModel]]: the full-model predict / project
  * / subquantizer-distance code (ref `lopq/lopq/model.py:447-602`), kept
  * here unchanged so the specs pin the one production implementation —
  * under both rotation sources — against a second, separately written
  * copy of the same math. Plus a driver-side reference of the serve
  * semantics built on it. */
final class LopqReference(model: LopqModel) {
  import model._

  /** Nearest coarse centroid per split (ref `model.py:predict_coarse`). */
  def predictCoarse(x: Array[Float]): (Int, Int) = {
    val s = VectorOps.splits(x, numCoarseSplits)
    (VectorOps.argminL2(s(0), coarse(0)), VectorOps.argminL2(s(1), coarse(1)))
  }

  /** Project to the local rotated residual frame of the given coarse cell:
    * per split, `R[c] · (x_split − C[c] − mu[c])` (ref `model.py:project`). */
  def project(x: Array[Float], coarseCodes: (Int, Int)): Array[Array[Float]] = {
    val s = VectorOps.splits(x, numCoarseSplits)
    Array.tabulate(numCoarseSplits) { split =>
      val c = if (split == 0) coarseCodes._1 else coarseCodes._2
      val r = VectorOps.subtract(VectorOps.subtract(s(split), coarse(split)(c)), mus(split)(c))
      VectorOps.matVec(rotations(split)(c), r)
    }
  }

  /** Fine (product-quantizer) codes given coarse codes
    * (ref `model.py:predict_fine`). */
  def predictFine(x: Array[Float], coarseCodes: (Int, Int)): Array[Short] = {
    val px = project(x, coarseCodes)
    val out = new Array[Short](m)
    var split = 0
    while (split < numCoarseSplits) {
      val subs = VectorOps.splits(px(split), numFineSplits)
      var f = 0
      while (f < numFineSplits) {
        out(split * numFineSplits + f) =
          VectorOps.argminL2(subs(f), subquantizers(split)(f)).toShort
        f += 1
      }
      split += 1
    }
    out
  }

  /** Full code: ((coarse0, coarse1), fine) (ref `model.py:predict`). */
  def predict(x: Array[Float]): ((Int, Int), Array[Short]) = {
    val cc = predictCoarse(x)
    (cc, predictFine(x, cc))
  }

  /** ADC subquantizer distance tables for a query in the local frame of
    * `coarseCodes`: tables(m)(s) = ‖px_sub(m) − subC(m)(s)‖² (ref
    * `model.py:get_subquantizer_distances`). */
  def subquantizerDistances(x: Array[Float], coarseCodes: (Int, Int)): Array[Array[Double]] = {
    val px = project(x, coarseCodes)
    val out = new Array[Array[Double]](m)
    var split = 0
    while (split < numCoarseSplits) {
      val subs = VectorOps.splits(px(split), numFineSplits)
      var f = 0
      while (f < numFineSplits) {
        out(split * numFineSplits + f) =
          VectorOps.distancesSq(subs(f), subquantizers(split)(f))
        f += 1
      }
      split += 1
    }
    out
  }

  /** Squared distances of each half-query to every coarse centroid of each
    * split — the multisequence input (ref `lopq/lopq/search.py:34-43`). */
  def coarseDistances(x: Array[Float]): (Array[Double], Array[Double]) = {
    val s = VectorOps.splits(x, numCoarseSplits)
    (VectorOps.distancesSq(s(0), coarse(0)), VectorOps.distancesSq(s(1), coarse(1)))
  }

  /** The serve semantics on the driver: the quota walk over `hist`, ADC
    * distances summed in `m` order from [[subquantizerDistances]], the ADC
    * top-`rerankK` by `(adc, id)`, exact-L2 rerank against `vectors`, top-`k`
    * by `(exact, id)`. `codes` rows are `(id, cell_id, fine)`. Returns
    * `(id, adc_dist, exact_dist)` — the engine's serve columns. */
  def search(codes: Seq[(Long, Int, Array[Short])], vectors: Map[Long, Array[Float]],
      hist: CellHistogram, pca: Option[LopqPca], query: Array[Float], quota: Int,
      k: Int, rerankK: Int): Seq[(Long, Double, Double)] = {
    val aq = pca.map(_.apply(query)).getOrElse(query)
    val (d0, d1) = coarseDistances(aq)
    val cells = hist.selectCells(v, d0, d1, quota).toSet
    val tables = cells.iterator
      .map(c => c -> subquantizerDistances(aq, CellMath.unpackCell(c, v))).toMap
    val byDist = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    codes.filter(r => cells(r._2))
      .map { case (id, cell, fine) =>
        val t = tables(cell)
        var acc = 0.0
        var mi = 0
        while (mi < m) { acc += t(mi)(fine(mi).toInt); mi += 1 }
        (id, acc)
      }
      .sortBy { case (id, adc) => (adc, id) }(byDist).take(rerankK)
      .map { case (id, adc) => (id, adc, math.sqrt(VectorOps.l2Sq(query, vectors(id)))) }
      .sortBy { case (id, _, exact) => (exact, id) }(byDist).take(k)
  }
}
