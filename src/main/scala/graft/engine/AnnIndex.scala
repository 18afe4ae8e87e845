package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The searcher plugin surface (SURVEY §2.10; ref `GenericSearcher`
  * abstract `searcher/generic_searcher.py:416-425`: `init_searcher` /
  * `train_index` / `search_from_feats`). Implementations answer top-k
  * queries as `(id, dist)` DataFrames; the engine picks one by name from
  * [[AnnIndexes]] exactly like the reference's conf-driven registry
  * (`searcher/__init__.py` get_searcher). */
trait AnnIndex {
  def name: String
  /** Number of indexed vectors. */
  def count: Long
  /** Exact or approximate top-k neighbors of `query`: `(id, dist)` ranked
    * ascending, ties broken by id. */
  def search(query: Array[Float], k: Int): DataFrame
}

/** Exact brute-force scan — the correctness baseline (ref
  * `lopq/lopq/eval.py:7-38`). One codegen'd distance per row, then
  * `TakeOrderedAndProject`; no index build. Guarded: refuses above
  * `spark.graft.allpairs.maxRows` so the eval baseline can't silently
  * become a production plan (use [[LopqSlimAnnIndex]] at scale). */
final class BruteForceIndex(vectors: DataFrame, idCol: String, vecCol: String)
  extends AnnIndex {
  val name = "brute"
  lazy val count: Long = graft.core.AllPairsGuard.check(vectors,
    "brute-force AnnIndex", "the 'lopq' AnnIndex (persisted pruned-cell ANN)")
  def search(query: Array[Float], k: Int): DataFrame = {
    count // trip the guard before scheduling a full-scan query
    val qLit = array(query.map(lit): _*)
    vectors
      .select(col(idCol).as("id"),
        sqrt(VectorFunctions.l2DistanceSq(qLit, col(vecCol))).as("dist"))
      .orderBy(col("dist"), col("id"))
      .limit(k)
  }
}

/** The LOPQ ANN engine behind the plugin trait: persisted partition-pruned
  * codes + ADC + exact rerank (ref `searcher_lopqhbase.py:862-912`) through
  * [[LopqSearcher.searchSlim]]. Registered as `lopq` over a full-model
  * handle ([[LopqIndex.serving]], resident rotation tensor) and as
  * `lopq_slim` over a [[LopqIndexStore.loadSlim]] handle (the
  * release-MAGNITUDE shape: per-query slice fetch, see [[SlimLopqModel]]).
  * A facade user switches searchers by name, exactly like flipping the
  * reference's searcher conf. */
final class LopqSlimAnnIndex(val name: String, index: LopqSlimIndex, vectors: DataFrame,
    idCol: String, vecCol: String, quota: Int, rerankK: Int) extends AnnIndex {
  def count: Long = index.cellCounts.total
  def search(query: Array[Float], k: Int): DataFrame =
    LopqSearcher.searchSlim(index, vectors, idCol, vecCol, query, quota, k, rerankK)
      .select(col("id"), col("exact_dist").as("dist"))
}

/** Plugin registry (conf name → constructor), mirroring the reference's
  * `get_searcher` dispatch. */
object AnnIndexes {
  def brute(vectors: DataFrame, idCol: String, vecCol: String): AnnIndex =
    new BruteForceIndex(vectors, idCol, vecCol)
  def lopq(index: LopqIndex, vectors: DataFrame, idCol: String, vecCol: String,
      quota: Int = 200, rerankK: Int = 50): AnnIndex =
    new LopqSlimAnnIndex("lopq", index.serving, vectors, idCol, vecCol, quota, rerankK)
  def lopqSlim(index: LopqSlimIndex, vectors: DataFrame, idCol: String,
      vecCol: String, quota: Int = 200, rerankK: Int = 50): AnnIndex =
    new LopqSlimAnnIndex("lopq_slim", index, vectors, idCol, vecCol, quota, rerankK)
}
