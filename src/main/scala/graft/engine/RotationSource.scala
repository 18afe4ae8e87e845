package graft.engine

import org.apache.spark.sql.SparkSession

/** Where a serve or encode reads the LOPQ rotation slices from — the ONLY
  * thing that differs between an index handle holding the full model and
  * one holding the [[SlimLopqModel]]. Every predict/ADC step downstream is
  * the same code; a slice is `R[split][cluster]`, a (D/2)×(D/2) matrix. */
sealed trait RotationSource extends Serializable {
  /** The slices for the given `(split, cluster)` keys. */
  def slices(keys: Seq[(Int, Int)]): Map[(Int, Int), Array[Array[Float]]]
}

object RotationSource {

  /** The whole tensor is already in memory (a trained or fully loaded
    * [[LopqModel]]): indexing, no I/O. */
  final case class Resident(tensor: Array[Array[Array[Array[Float]]]]) extends RotationSource {
    def slices(keys: Seq[(Int, Int)]): Map[(Int, Int), Array[Array[Float]]] =
      keys.iterator.map { case k @ (s, c) => k -> tensor(s)(c) }.toMap
  }

  /** A pruned read of the persisted model store under `dir`, through the
    * bounded per-(session, dir) slice LRU
    * ([[LopqIndexStore.rotationSlices]]): O(keys·(D/2)²) moved, independent
    * of V. The tensor is never resident. */
  final case class Fetched(@transient spark: SparkSession, dir: String) extends RotationSource {
    def slices(keys: Seq[(Int, Int)]): Map[(Int, Int), Array[Array[Float]]] =
      LopqIndexStore.rotationSlices(spark, dir, keys)
  }

  /** The two slice keys of every cell in `cells`, deduplicated. */
  def keysOf(cells: Iterable[Int], v: Int): Seq[(Int, Int)] =
    cells.iterator.flatMap { cell =>
      val (c0, c1) = graft.core.CellMath.unpackCell(cell, v)
      Iterator((0, c0), (1, c1))
    }.toSeq.distinct
}
