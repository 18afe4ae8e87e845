package graft.engine

/** Locally-Optimized Product Quantization model — the complete parameter set
  * of the reference's ANN engine (`lopq/lopq/model.py:447-541`), as an
  * immutable, broadcast-friendly case class.
  *
  * Shapes (D = full dimension, V = coarse clusters per split, M = total
  * subquantizers, S = clusters per subquantizer):
  *   - `coarse`:  [2][V][D/2]        coarse centroids per split
  *   - `rotations`: [2][V][D/2][D/2] per-cluster local rotation (rows =
  *     permuted eigenvectors, ref `model.py:196-204`)
  *   - `mus`: [2][V][D/2]            per-cluster mean residual
  *   - `subquantizers`: [2][M/2][S][D/M] product-quantizer centroids
  *
  * The predict/project/ADC math lives once, in [[SlimLopqModel]] ([[slim]]);
  * this class adds the rotation tensor and [[reconstruct]].
  */
case class LopqModel(
    coarse: Array[Array[Array[Float]]],
    rotations: Array[Array[Array[Array[Float]]]],
    mus: Array[Array[Array[Float]]],
    subquantizers: Array[Array[Array[Array[Float]]]]) extends Serializable {

  val numCoarseSplits: Int = coarse.length          // always 2
  val v: Int = coarse(0).length
  val halfDim: Int = coarse(0)(0).length
  val dim: Int = halfDim * numCoarseSplits
  val numFineSplits: Int = subquantizers(0).length  // M/2
  val m: Int = numFineSplits * numCoarseSplits
  val subquantizerClusters: Int = subquantizers(0)(0).length
  val subDim: Int = dim / m

  /** The rotation-free part of this model over the SAME arrays — the one
    * implementation of coarse/fine prediction, projection and ADC tables.
    * Callers pass the resident tensor as the slice source
    * (`model.slim.adcTables(x, cc, model.rotations(_)(_))`). Transient, so
    * serializing the model sends no array twice. */
  @transient lazy val slim: SlimLopqModel = SlimLopqModel(coarse, mus, subquantizers)

  /** Decode codes back to an approximate vector (ref `model.py:reconstruct`):
    * per split, `Rᵀ · sx + mu + C[c]` where sx concatenates the fine
    * centroids. Used by tests for code-stability properties. */
  def reconstruct(coarseCodes: (Int, Int), fine: Array[Short]): Array[Float] = {
    val out = new Array[Float](dim)
    var split = 0
    while (split < numCoarseSplits) {
      val c = if (split == 0) coarseCodes._1 else coarseCodes._2
      val sx = new Array[Float](halfDim)
      var f = 0
      while (f < numFineSplits) {
        val cent = subquantizers(split)(f)(fine(split * numFineSplits + f))
        System.arraycopy(cent, 0, sx, f * subDim, subDim)
        f += 1
      }
      // Rᵀ·sx: rows of R are eigenvectors, so Rᵀ·sx = Σ_k sx(k)·row_k
      val r = new Array[Float](halfDim)
      var k = 0
      while (k < halfDim) {
        val row = rotations(split)(c)(k); val w = sx(k).toDouble
        var i = 0
        while (i < halfDim) { r(i) = (r(i) + w * row(i)).toFloat; i += 1 }
        k += 1
      }
      var i = 0
      while (i < halfDim) {
        out(split * halfDim + i) = r(i) + mus(split)(c)(i) + coarse(split)(c)(i)
        i += 1
      }
      split += 1
    }
    out
  }
}
