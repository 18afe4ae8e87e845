package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge

/** Vector math over `ARRAY<FLOAT|DOUBLE>` columns. The per-pair fold
  * primitives (dot product, squared L2) are the native codegen
  * expressions in [[Expressions.scala]], built directly through
  * [[GraftBridge]] so they run on any session — registered or not;
  * everything else composes Spark built-ins. All folds are sequential
  * left-to-right in double precision — bit-compatible with the DuckDB
  * oracle's list folds, and with the `Hof` variants kept below for the
  * equivalence spec.
  *
  * Reference semantics: exact L2 rerank distance
  * (`searcher/searcher_lopqhbase.py:887,998`), L2 normalize
  * (`featurizer/featsio.py:13-22`), ADC lookup-sum
  * (`lopq/lopq/search.py:166-177`, tables `lopq/lopq/model.py:673-704`).
  */
object VectorFunctions {
  private def ex(c: Column) = GraftBridge.expression(c)

  /** Σ a_i * b_i in double precision (codegen'd loop, [[DotProductExpr]]). */
  def dotProduct(a: Column, b: Column): Column =
    GraftBridge.column(DotProductExpr(ex(a), ex(b)))

  /** Interpreted higher-order-function form of [[dotProduct]] — identical
    * numerics. */
  def dotProductHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def l2NormSq(a: Column): Column = dotProduct(a, a)

  def l2Norm(a: Column): Column = sqrt(l2NormSq(a))

  /** Exact squared L2 distance between two vectors (codegen'd loop). */
  def l2DistanceSq(a: Column, b: Column): Column =
    GraftBridge.column(L2DistSqExpr(ex(a), ex(b)))

  /** Interpreted higher-order-function form of [[l2DistanceSq]]. */
  def l2DistanceSqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (acc, x) => acc + x)

  def l2Distance(a: Column, b: Column): Column = sqrt(l2DistanceSq(a, b))

  def cosineSimilarity(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** 1 - cosine similarity (the "distance" used for near-dup thresholds). */
  def cosineDistance(a: Column, b: Column): Column =
    lit(1.0) - cosineSimilarity(a, b)

  /** L2-normalized copy of the vector (double elements). */
  def l2Normalize(a: Column): Column = {
    val n = l2Norm(a)
    transform(a, x => x.cast("double") / n)
  }

  /** ADC distance: Σ_m tables[m][fine[m]] where `tables` is an
    * ARRAY<ARRAY<DOUBLE>> column (usually a broadcast literal built per query
    * on the driver) and `fine` the per-row code array. Pure built-ins →
    * codegen'd lookup-sum, the Spark analogue of
    * `lopq/lopq/search.py:166-177`. */
  def adcDistance(fine: Column, tables: Column): Column =
    aggregate(
      zip_with(tables, fine, (tab, code) => element_at(tab, code.cast("int") + 1)),
      lit(0.0),
      (acc, x) => acc + x)

  /** Literal ARRAY<ARRAY<DOUBLE>> column from driver-side tables. */
  def tablesLit(tables: Array[Array[Double]]): Column =
    array(tables.map(t => array(t.map(lit): _*)): _*)

  /** Projection-mode ADC distance (codegen'd): `px` is the cell-local query
    * projection (ARRAY<FLOAT>, D floats), `fine` the per-row code array
    * (ARRAY<SMALLINT>), `codebook` the flat subquantizer constant
    * ([[graft.engine.SlimLopqModel.flatSubquantizers]]) carried once as a
    * reference object. Bit-identical to the table lookup-sum
    * ([[adcDistance]]) — see [[graft.functions.AdcProjectionExpr]]. */
  def adcProjectionDistance(px: Column, fine: Column, codebook: Array[Float],
      m: Int, subDim: Int): Column =
    GraftBridge.column(AdcProjectionExpr(ex(px), ex(fine), codebook, m, subDim))
}
