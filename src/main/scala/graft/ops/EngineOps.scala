package graft.ops

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CellMath, VectorOps}
import graft.engine.{LopqIndex, LopqIndexStore, LopqParams, LopqPca, LopqSearcher, LopqSlimIndex, LopqTrainer}
import graft.functions.VectorFunctions._

/** The LOPQ ANN engine surface as catalog queries: train → encode →
  * PERSIST → search end-to-end (SURVEY §3.3 + §3.1), plus the retrieval
  * eval harness (`lopq/lopq/eval.py`), PCA projection, and incremental
  * index maintenance.
  *
  * Correctness gate: the model itself (KMeans) is not SQL-expressible, but
  * everything downstream of the trained model IS — so after the index is
  * built, the visited-cell lists, per-cell ADC tables, and projected
  * subvectors are dumped as parquet artifacts and the DuckDB oracle SQL for
  * q34/q35/q43/q44/q45 is GENERATED AT RUNTIME against them (hard
  * hash-match in `CORRECTNESS_r{N}.json`, replacing round 2's `no_oracle`).
  */
object EngineOps {
  import Tables.{apply => t}

  /** Small-but-real model shape for the test corpus (64-d, 500–2000 rows):
    * V=8 coarse cells per split, M=4 subquantizers, 16 clusters each
    * (ref library defaults V=8 M=4, `lopq/lopq/model.py:448`, with S
    * scaled to the corpus instead of 256). */
  private val P = LopqParams(v = 8, m = 4, subClusters = 16, seed = 42L, kmeansMaxIter = 10)
  private val Quota = 200
  private val TopK = 10
  private val RerankK = 50
  private val NumQueries = 5
  private val PcaDims = 16

  /** Bump when the on-disk encode/codes semantics change: prevents an index
    * persisted by older code from silently serving a newer session. */
  private val FormatVersion = "3"

  /** Durable index root — env-overridable; `<working dir>/target/` keeps
    * everything inside the launch tree without hardcoding a checkout
    * path (ADVICE r15). */
  def indexRoot: String =
    sys.env.getOrElse("GRAFT_INDEX_ROOT",
      System.getProperty("user.dir",
        System.getProperty("java.io.tmpdir", "/tmp")) + "/target/graft-index")

  def indexDir(sfDir: String): String =
    s"$indexRoot/${new java.io.File(sfDir).getName}"

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  // ------------------------------------------------------------ index

  /** One persisted index per sfDir: load-if-valid else train+build, exactly
    * the reference's "load pickled model else train" startup
    * (`searcher_lopqhbase.py:104-223`). A fresh session SERVES WITHOUT
    * RETRAINING — round 2 retrained per session (58 s at sf0.1). */
  private val indexCache = TrieMap.empty[(SparkSession, String), LopqIndex]

  /** The slim serve HANDLE for the per-sfDir index, session-cached like
    * [[indexCache]] — the q69/q70/q71/q73 serve paths previously re-ran
    * `loadSlim` per call, paying the histogram-heal `codes.count()` +
    * counts-collect jobs each time and (worse) discarding the slice/ADC
    * broadcasts [[graft.engine.LopqSearcher.annJoin]] memoizes ON the
    * handle — a resident bulk service holds one handle, so the bench was
    * measuring handle churn, not the join (~0.4 s/call at sf0.1). Safe to
    * cache: this dir is only mutated through [[refreshIndex]] (which
    * evicts) — the incremental/stream queries append to their own `_incr`/
    * `_stream` clones, never this one. */
  private val slimCache = TrieMap.empty[(SparkSession, String), LopqSlimIndex]

  private[graft] def slimIndex(s: SparkSession, d: String): LopqSlimIndex =
    slimCache.getOrElseUpdate((s, d), LopqIndexStore.loadSlim(s, indexDir(d)).get)

  /** Force a reload from disk on next access — the API `refresh` endpoint
    * (ref `api/api.py:307-384`: re-scan updates since the high-watermark).
    * Also the eviction path for ALL per-(session, dir) caches — index
    * handle, trained PCA, oracle-artifact memo — so a superseded index dir
    * doesn't pin DataFrames or stale projections forever (VERDICT r4:
    * pcaCache/oracleReady previously had no eviction path). */
  def refreshIndex(s: SparkSession, d: String): LopqIndex = {
    indexCache.remove((s, d))
    slimCache.remove((s, d))
    pcaCache.remove((s, d))
    oracleReady.remove((s, d))
    // the store's own model cache too: an index dir rebuilt OUT of this JVM
    // would otherwise keep appendUpdate encoding with the superseded model
    // (wrong cells, dedup defeated) while searches serve the new one
    LopqIndexStore.evictModel(indexDir(d))
    index(s, d)
  }

  def index(s: SparkSession, d: String): LopqIndex =
    indexCache.getOrElseUpdate((s, d), {
      val dir = indexDir(d)
      val e = t(s, d, "embeddings")
      val n = e.count()
      LopqIndexStore.loadIfValid(s, dir, P, n)
        .filter(_ => fmtOk(dir))
        .getOrElse {
          val dim = e.select(size(col("embedding"))).head().getInt(0)
          val model = LopqTrainer.train(e, "embedding", P)
          val codes = LopqSearcher.encode(e, "vec_id", "embedding", model)
          val built = LopqIndexStore.build(s, dir, model, None, codes, P, n, dim)
          markFmt(dir)
          built
        }
    })

  private def fmtOk(dir: String): Boolean = {
    val p = java.nio.file.Paths.get(s"$dir/FORMAT")
    java.nio.file.Files.exists(p) && java.nio.file.Files.readString(p).trim == FormatVersion
  }
  private def markFmt(dir: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/FORMAT"), FormatVersion)

  private def queryVectors(s: SparkSession, d: String): Array[(Long, Array[Float])] =
    t(s, d, "embeddings").where(col("vec_id") < NumQueries)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** The batched-join query set (q70): 20× the per-query set, exercised
    * through ONE set-oriented plan instead of a driver loop. */
  private val NumJoinQueries = 100

  /** q73 dedup-pass constants: quota covers the whole grid (recall-1.0
    * regime — the gate is exactness vs the all-pairs oracle), k sized so
    * every cosine-near-dup partner of a probe sits inside its exact-L2
    * top-k (measured max partners: 3 at sf0.01, 6 at sf0.1). The RERANK
    * prefix covers the probe's WHOLE candidate pool: the prefix is cut by
    * APPROXIMATE (ADC) distance, so any bound on it is a recall knob, not
    * a correctness knob — r8's fixed 128 was 26 % of sf0.01's pool and
    * happened to be exact there, but at sf0.1 (2.6 % of the pool) it left
    * 85 of 920 true pairs behind, and even 1/8 of the pool left 39 (this
    * tiny gate model's ADC error ranks some exact-rank-≤6 partners below
    * that — caught by the r9 sf0.1 self-check). A production dedup keeps
    * the rerank exact the same way and bounds the POOL instead: finer
    * models (V≫8) and real quotas shrink candidates-per-probe, and q35
    * measures the recall of bounded ADC prefixes where they are the
    * right trade. */
  private[graft] val DedupQuota = 1000000
  private[graft] val DedupK = 64

  /** q100/q101 curation constants: per-cell sample quota (small vs the
    * test corpus' ~8–30 members/cell so the cutoff pre-filter genuinely
    * prunes) and the kept-hardest fraction of the prototypicality prune. */
  private val ClusterSampleQuota = 5
  private val ProtoKeepFrac = 0.7
  private[graft] def dedupRerankK(corpusRows: Long): Int =
    math.max(128, corpusRows.min(Int.MaxValue).toInt)

  /** Shared tail of the q73/q93 dedup passes and [[graft.GraftApi]]'s
    * `dedupCorpus` facade: candidate `(q_id, id)` rows from an ANN join →
    * canonical `(id_a < id_b)` pairs → cosine-verified against the raw
    * vectors at `simThreshold` (default
    * [[VectorQueries.NearDupSimThreshold]]). */
  private[graft] def verifiedDedupPairs(e: DataFrame, ann: DataFrame,
      simThreshold: Double = VectorQueries.NearDupSimThreshold): DataFrame = {
    val cand = ann
      .where(col("id") =!= col("q_id"))
      .select(least(col("q_id"), col("id")).as("id_a"),
        greatest(col("q_id"), col("id")).as("id_b"))
      .distinct()
    val en = e.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    val a = en.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("nrm").as("na"))
    val b = en.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("nrm").as("nb"))
    val sim = dotProduct(col("va"), col("vb")) / (col("na") * col("nb"))
    cand.join(a, "id_a").join(b, "id_b")
      .where(sim >= simThreshold)
      .select(col("id_a"), col("id_b"), round(sim, 6).as("cos_sim"))
      .orderBy("id_a", "id_b")
  }

  private def joinQueryVectors(s: SparkSession, d: String): Array[(Long, Array[Float])] =
    t(s, d, "embeddings").where(col("vec_id") < NumJoinQueries)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Offline warm-up for Bench: index build + oracle artifacts, so the
    * timed q34/q35 measure only the online search path. */
  def prewarm(s: SparkSession, d: String): Unit = ensureOracle(s, d)

  // --------------------------------------------- runtime oracle artifacts

  /** Generated-at-runtime DuckDB oracle SQL, keyed by query name. Populated
    * when the engine queries run (Verify runs all queries BEFORE dumping
    * `oracle_sql.json`, so the stash is complete by then). */
  private val oracleStash = TrieMap.empty[String, String]
  private[ops] def stashed(name: String): Option[String] = oracleStash.get(name)

  private def sqlList(xs: Array[Double]): String = xs.mkString("[", ", ", "]")

  /** `Σ (aᵢ−bᵢ)²` with the exact fold order of `graft_l2sq` (sequential
    * left-to-right double adds) — DuckDB side. */
  private def l2sqSql(a: String, b: String): String = {
    val diff = s"list_transform(list_zip($a, $b), z -> z[1] - z[2])"
    s"list_dot_product($diff, $diff)"
  }

  /** Dump visited-cell lists + per-cell ADC tables + projected subvectors
    * for the fixed query set, and stash the oracle SQL that recomputes
    * q34/q35/q43/q44/q45 from them in DuckDB. Memoized per (session, dir);
    * everything after the trained model is plain relational algebra. */
  private val oracleReady = TrieMap.empty[(SparkSession, String), Unit]

  private def ensureOracle(s: SparkSession, d: String): Unit =
    oracleReady.getOrElseUpdate((s, d), {
      import s.implicits._
      val h = index(s, d)
      val dir = h.dir
      val odir = s"$dir/oracle"

      // visited cells + ADC tables per query (driver-side model math — the
      // same values the serve broadcasts to executors), dumped for the
      // fixed per-query set AND the larger batched-join set (q70)
      def dumpQuerySet(qs: Array[(Long, Array[Float])], visitedDir: String,
          tabDir: String): Unit = {
        val slim = h.model.slim
        def cellsOf(vec: Array[Float]): Seq[Int] = {
          val (d0, d1) = slim.coarseDistances(vec)
          LopqSearcher.selectCellsFrom(slim.v, d0, d1, Quota, h.cellCounts)
        }
        val visited = qs.flatMap { case (qid, vec) => cellsOf(vec).map(c => (qid, c)) }
        val adctab = qs.flatMap { case (qid, vec) =>
          cellsOf(vec).flatMap { cell =>
            val tabs = slim.adcTables(vec, CellMath.unpackCell(cell, slim.v),
              h.model.rotations(_)(_))
            for (m <- tabs.indices; sc <- tabs(m).indices)
              yield (qid, cell, m, sc, tabs(m)(sc))
          }
        }
        visited.toSeq.toDF("q_id", "cell_id").repartition(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$odir/$visitedDir")
        adctab.toSeq.toDF("q_id", "cell_id", "sub", "code", "dist").repartition(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$odir/$tabDir")
      }
      dumpQuerySet(queryVectors(s, d), "visited", "adctab")
      dumpQuerySet(joinQueryVectors(s, d), "visited_join", "adctab_join")

      // projected subvectors + subquantizer centroids (for q45 distortion)
      val modelB = s.sparkContext.broadcast(h.model)
      t(s, d, "embeddings").select("vec_id", "embedding")
        .as[(Long, Seq[Float])]
        .flatMap { case (id, emb) =>
          val m = modelB.value
          val x = emb.toArray
          val (c0, c1) = m.slim.predictCoarse(x)
          val fine = m.slim.predictFineWith(x, (c0, c1), m.rotations(_)(_))
          (0 until m.numCoarseSplits).flatMap { split =>
            val subs = VectorOps.splits(m.slim.projectHalfWith(x, split,
              if (split == 0) c0 else c1, m.rotations(_)(_)), m.numFineSplits)
            (0 until m.numFineSplits).map { f =>
              (id, split, f, subs(f).map(_.toDouble).toSeq,
                fine(split * m.numFineSplits + f).toInt)
            }
          }
        }
        .toDF("id", "split", "fidx", "subvec", "code").repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$odir/proj")
      val cent = for {
        split <- 0 until h.model.numCoarseSplits
        f <- 0 until h.model.numFineSplits
        sc <- h.model.subquantizers(split)(f).indices
      } yield (split, f, sc, h.model.subquantizers(split)(f)(sc).map(_.toDouble).toSeq)
      cent.toDF("split", "fidx", "code", "centroid").repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$odir/subq")

      // coarse codebooks + per-cluster mean residuals (for q101's
      // distance-to-refined-mean score)
      val coarseDump = for {
        split <- 0 until h.model.numCoarseSplits
        c <- 0 until h.model.v
      } yield (split, c, h.model.coarse(split)(c).map(_.toDouble).toSeq,
        h.model.mus(split)(c).map(_.toDouble).toSeq)
      coarseDump.toDF("split", "cidx", "centroid", "mu").repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$odir/coarse")

      // top-2 coarse assignment of every embedding (the model's own
      // multi-probe output, the q43-codes precedent — DuckDB cannot rank
      // float centroid distances bit-identically, so the assignment is
      // dumped and the q104 pair semantics re-derived in SQL over it)
      LopqIndexStore.assignCellsMulti(s, dir,
          t(s, d, "embeddings"), "vec_id", "embedding")
        .repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$odir/cells2")

      val codesGlob = s"$dir/codes/*/*.parquet"
      val v = h.model.v

      // shared CTE prefix: candidates → ADC (explicit 4-term sum = the
      // fold order of adcDistance) → rerank prefix → exact-L2 ranking;
      // parameterized by the artifact set (per-query q34/q35 vs batched
      // join q70 — the SQL is identical, only the query set differs). Each
      // (query, cell) pair's four tables are one row of dense per-sub lists
      // indexed by the fine code, and the rerank prefix is cut before the
      // embeddings joins: one equi-join per candidate instead of four, which
      // keeps the sf0.01 oracle within a few GB
      def annCtesFor(visitedDir: String, tabDir: String) =
        s"""WITH codes AS (
           |  SELECT id, coarse0, coarse1, fine, (coarse0 * $v + coarse1) AS cell_id
           |  FROM read_parquet('$codesGlob')),
           |visited AS (SELECT * FROM read_parquet('$odir/$visitedDir/*.parquet')),
           |tab AS (
           |  SELECT q_id, cell_id,
           |         list(dist ORDER BY code) FILTER (WHERE sub = 0) AS d0,
           |         list(dist ORDER BY code) FILTER (WHERE sub = 1) AS d1,
           |         list(dist ORDER BY code) FILTER (WHERE sub = 2) AS d2,
           |         list(dist ORDER BY code) FILTER (WHERE sub = 3) AS d3
           |  FROM read_parquet('$odir/$tabDir/*.parquet') GROUP BY q_id, cell_id),
           |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |cand AS (
           |  SELECT vis.q_id, c.id, c.cell_id,
           |         t.d0[c.fine[1] + 1] + t.d1[c.fine[2] + 1] + t.d2[c.fine[3] + 1] +
           |           t.d3[c.fine[4] + 1] AS adc_dist
           |  FROM visited vis
           |  JOIN tab t ON t.q_id = vis.q_id AND t.cell_id = vis.cell_id
           |  JOIN codes c ON c.cell_id = vis.cell_id),
           |approx AS (
           |  SELECT q_id, id, adc_dist FROM cand
           |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, id) <= $RerankK),
           |rr AS (
           |  SELECT a.q_id, a.id, a.adc_dist,
           |         sqrt(${l2sqSql("q.v", "n.v")}) AS exact_dist
           |  FROM approx a
           |  JOIN e q ON q.vec_id = a.q_id
           |  JOIN e n ON n.vec_id = a.id),
           |ranked AS (
           |  SELECT q_id, id AS n_id, adc_dist, exact_dist,
           |         row_number() OVER (PARTITION BY q_id ORDER BY exact_dist, id)::BIGINT AS rank
           |  FROM rr)""".stripMargin

      val annCtes = annCtesFor("visited", "adctab")

      oracleStash("q34_lopq_ann") =
        s"""$annCtes
           |SELECT q_id, rank, n_id, round(adc_dist, 6) AS adc_dist,
           |       round(exact_dist, 6) AS exact_dist
           |FROM ranked WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

      // the batched similarity JOIN answers the same semantics for the
      // 100-query set in ONE plan — its oracle is the identical SQL over
      // the join artifact set
      oracleStash("q70_ann_join") =
        s"""${annCtesFor("visited_join", "adctab_join")}
           |SELECT q_id, rank, n_id, round(adc_dist, 6) AS adc_dist,
           |       round(exact_dist, 6) AS exact_dist
           |FROM ranked WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin
      // the slim serve path answers the SAME queries — one oracle, two
      // physical paths (full-model broadcast vs per-query rotation slices)
      oracleStash("q69_lopq_ann_slim") = oracleStash("q34_lopq_ann")
      // ...and the STREAMED batch answers the q70 queries through the same
      // join semantics, one micro-batch at a time — same oracle again
      oracleStash("q71_stream_ann") = oracleStash("q70_ann_join")
      // ...and the BULK API response (q74): the q70 join semantics folded
      // into one camelCase JSON document per query, exactly q47's shaping
      // (micro-unit distances so the JSON text is engine-portable)
      oracleStash("q74_api_bulk") =
        s"""${annCtesFor("visited_join", "adctab_join")},
           |topk AS (
           |  SELECT q_id, n_id, rank,
           |         floor(exact_dist * 1e6 + 0.5)::BIGINT AS micro
           |  FROM ranked WHERE rank <= $TopK),
           |agg AS (SELECT q_id, list(n_id ORDER BY rank) AS ids,
           |               list(micro ORDER BY rank) AS micros
           |        FROM topk GROUP BY q_id)
           |SELECT q_id, to_json(struct_pack(queryId := q_id, similarIds := ids,
           |                                 distancesMicro := micros))::VARCHAR AS response
           |FROM agg ORDER BY q_id""".stripMargin

      oracleStash("q35_lopq_recall") =
        s"""$annCtes,
           |ann AS (SELECT q_id, n_id, 1 AS hit FROM ranked WHERE rank <= $TopK),
           |brute AS (
           |  SELECT q.vec_id AS q_id, n.vec_id AS n_id
           |  FROM e q JOIN e n ON q.vec_id < $NumQueries
           |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
           |    ORDER BY sqrt(${l2sqSql("q.v", "n.v")}), n.vec_id) <= $TopK)
           |SELECT b.q_id, (sum(coalesce(a.hit, 0))::DOUBLE / $TopK) AS recall
           |FROM brute b LEFT JOIN ann a ON a.q_id = b.q_id AND a.n_id = b.n_id
           |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin

      oracleStash("q43_incremental_index") =
        s"""SELECT id, coarse0::BIGINT AS coarse0, coarse1::BIGINT AS coarse1,
           |       array_to_string(fine, ',') AS fine_str,
           |       (coarse0 * $v + coarse1)::BIGINT AS cell_id
           |FROM read_parquet('$codesGlob') ORDER BY id""".stripMargin

      // q65 rebuilds the same codes through the streaming maintenance path,
      // so the one-shot codes table is its oracle too
      oracleStash("q65_stream_maintained_index") =
        s"""SELECT id, coarse0::BIGINT AS coarse0, coarse1::BIGINT AS coarse1,
           |       array_to_string(fine, ',') AS fine_str,
           |       (coarse0 * $v + coarse1)::BIGINT AS cell_id
           |FROM read_parquet('$codesGlob') ORDER BY id""".stripMargin

      oracleStash("q44_cell_histogram") =
        s"""SELECT (coarse0 * $v + coarse1)::BIGINT AS cell_id, count(*) AS cnt
           |FROM read_parquet('$codesGlob') GROUP BY 1 ORDER BY cell_id""".stripMargin

      // q94: within-cell near-dup pairs — the persisted codes ARE the
      // cluster assignment, so the oracle is plain SQL over them + the
      // same cosine/threshold as the q32 all-pairs oracle
      val cosPair = {
        def dot(a: String, b: String) = s"list_dot_product($a, $b)"
        s"${dot("ea.v", "eb.v")} / (sqrt(${dot("ea.v", "ea.v")}) * sqrt(${dot("eb.v", "eb.v")}))"
      }
      oracleStash("q94_semdedup_cells") =
        s"""WITH codes AS (
           |  SELECT id, (coarse0 * $v + coarse1) AS cell_id
           |  FROM read_parquet('$codesGlob')),
           |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
           |SELECT ca.id AS id_a, cb.id AS id_b, ca.cell_id::BIGINT AS cell_id,
           |       round($cosPair, 6) AS cos_sim
           |FROM codes ca JOIN codes cb ON ca.cell_id = cb.cell_id AND ca.id < cb.id
           |JOIN e ea ON ea.vec_id = ca.id
           |JOIN e eb ON eb.vec_id = cb.id
           |WHERE $cosPair >= ${VectorQueries.NearDupSimThreshold}
           |ORDER BY id_a, id_b""".stripMargin

      // q104: the MULTI-PROBE sweep — q94's pair semantics over the
      // dumped TOP-2 assignment (a pair is a candidate when the members
      // share ANY probed cell), with the pair-level collapse for pairs
      // sharing both cells (min cell_id, max cos — identical cosines)
      oracleStash("q104_semdedup_multiprobe") =
        s"""WITH codes2 AS (
           |  SELECT id, cell_id FROM read_parquet('$odir/cells2/*.parquet')),
           |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |p AS (
           |  SELECT ca.id AS id_a, cb.id AS id_b, ca.cell_id AS cell_id,
           |         $cosPair AS cs
           |  FROM codes2 ca JOIN codes2 cb ON ca.cell_id = cb.cell_id AND ca.id < cb.id
           |  JOIN e ea ON ea.vec_id = ca.id
           |  JOIN e eb ON eb.vec_id = cb.id
           |  WHERE $cosPair >= ${VectorQueries.NearDupSimThreshold})
           |SELECT id_a, id_b, min(cell_id)::BIGINT AS cell_id,
           |       round(max(cs), 6) AS cos_sim
           |FROM p GROUP BY id_a, id_b
           |ORDER BY id_a, id_b""".stripMargin

      // q97: the INCREMENTAL pass — the q94 semantics restricted to
      // pairs with at least one side in the "new batch" (even ids play
      // the batch); plain SQL over the same dumped codes
      oracleStash("q97_semdedup_incremental") =
        s"""WITH codes AS (
           |  SELECT id, (coarse0 * $v + coarse1) AS cell_id
           |  FROM read_parquet('$codesGlob')),
           |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
           |SELECT ca.id AS id_a, cb.id AS id_b, ca.cell_id::BIGINT AS cell_id,
           |       round($cosPair, 6) AS cos_sim
           |FROM codes ca JOIN codes cb ON ca.cell_id = cb.cell_id AND ca.id < cb.id
           |  AND (ca.id % 2 = 0 OR cb.id % 2 = 0)
           |JOIN e ea ON ea.vec_id = ca.id
           |JOIN e eb ON eb.vec_id = cb.id
           |WHERE $cosPair >= ${VectorQueries.NearDupSimThreshold}
           |ORDER BY id_a, id_b""".stripMargin

      // q98: the full nightly-ingest LOOP — seed an index with the odd-id
      // half, screen the even-id batch (q97's pair semantics against the
      // seeded corpus only), drop flagged rows by the conservative-prefix
      // rule (drop a batch row whose content near-dups any corpus row or
      // any smaller-id batch row — VectorQueries.screenDrops), append
      // the survivors. Final codes = odd codes ∪ surviving even codes;
      // encode is deterministic and per-row, so every code comes from the
      // one-shot dump.
      oracleStash("q98_ingest_screened_index") =
        s"""WITH codes AS (
           |  SELECT id, coarse0, coarse1, fine,
           |         (coarse0 * $v + coarse1) AS cell_id
           |  FROM read_parquet('$codesGlob')),
           |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |pairs AS (
           |  SELECT ca.id AS id_a, cb.id AS id_b
           |  FROM codes ca JOIN codes cb ON ca.cell_id = cb.cell_id AND ca.id < cb.id
           |    AND (ca.id % 2 = 0 OR cb.id % 2 = 0)
           |  JOIN e ea ON ea.vec_id = ca.id
           |  JOIN e eb ON eb.vec_id = cb.id
           |  WHERE $cosPair >= ${VectorQueries.NearDupSimThreshold}),
           |drops AS (
           |  SELECT id_b AS id FROM pairs WHERE id_b % 2 = 0
           |  UNION
           |  SELECT id_a FROM pairs WHERE id_a % 2 = 0 AND id_b % 2 = 1)
           |SELECT id, coarse0::BIGINT AS coarse0, coarse1::BIGINT AS coarse1,
           |       array_to_string(fine, ',') AS fine_str, cell_id::BIGINT AS cell_id
           |FROM codes
           |WHERE id % 2 = 1 OR id NOT IN (SELECT id FROM drops)
           |ORDER BY id""".stripMargin

      // q99: the STREAMING screened ingest — q98's cycle as two real
      // micro-batches (evens below/above the midpoint), each screened
      // against the index state ITS predecessor left: micro-batch 2's
      // corpus is the seed PLUS batch 1's SURVIVORS only (a dropped
      // batch-1 row was never stored, so it can't flag a batch-2 row) —
      // the order-dependent semantics the one-shot q98 rule can't see.
      val halfN = t(s, d, "embeddings").count() / 2
      oracleStash("q99_stream_screened_ingest") =
        s"""WITH codes AS (
           |  SELECT id, coarse0, coarse1, fine,
           |         (coarse0 * $v + coarse1) AS cell_id
           |  FROM read_parquet('$codesGlob')),
           |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |p AS (
           |  SELECT ca.id AS id_a, cb.id AS id_b
           |  FROM codes ca JOIN codes cb ON ca.cell_id = cb.cell_id AND ca.id < cb.id
           |  JOIN e ea ON ea.vec_id = ca.id
           |  JOIN e eb ON eb.vec_id = cb.id
           |  WHERE $cosPair >= ${VectorQueries.NearDupSimThreshold}),
           |pp AS (SELECT id_a AS x, id_b AS y FROM p
           |       UNION ALL SELECT id_b, id_a FROM p),
           |d1 AS (SELECT DISTINCT x AS id FROM pp
           |       WHERE x % 2 = 0 AND x < $halfN
           |         AND (y % 2 = 1 OR (y % 2 = 0 AND y < $halfN AND y < x))),
           |s1 AS (SELECT vec_id AS id FROM embeddings
           |       WHERE vec_id % 2 = 0 AND vec_id < $halfN
           |         AND vec_id NOT IN (SELECT id FROM d1)),
           |d2 AS (SELECT DISTINCT x AS id FROM pp
           |       WHERE x % 2 = 0 AND x >= $halfN
           |         AND (y % 2 = 1 OR y IN (SELECT id FROM s1)
           |              OR (y % 2 = 0 AND y >= $halfN AND y < x))),
           |s2 AS (SELECT vec_id AS id FROM embeddings
           |       WHERE vec_id % 2 = 0 AND vec_id >= $halfN
           |         AND vec_id NOT IN (SELECT id FROM d2))
           |SELECT id, coarse0::BIGINT AS coarse0, coarse1::BIGINT AS coarse1,
           |       array_to_string(fine, ',') AS fine_str, cell_id::BIGINT AS cell_id
           |FROM codes
           |WHERE id % 2 = 1 OR id IN (SELECT id FROM s1)
           |   OR id IN (SELECT id FROM s2)
           |ORDER BY id""".stripMargin

      // q95: the SemDeDup MATERIALIZATION — q94's pair semantics, then
      // recursive-CTE reachability (q63's oracle pattern) to drop every
      // non-minimum component member, surviving rows content-gated by
      // their norm
      oracleStash("q95_semdedup_corpus") =
        s"""WITH RECURSIVE codes AS (
           |  SELECT id, (coarse0 * $v + coarse1) AS cell_id
           |  FROM read_parquet('$codesGlob')),
           |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |pairs AS (
           |  SELECT ca.id AS id_a, cb.id AS id_b
           |  FROM codes ca JOIN codes cb ON ca.cell_id = cb.cell_id AND ca.id < cb.id
           |  JOIN e ea ON ea.vec_id = ca.id
           |  JOIN e eb ON eb.vec_id = cb.id
           |  WHERE $cosPair >= ${VectorQueries.NearDupSimThreshold}),
           |und AS (SELECT id_a AS a, id_b AS b FROM pairs
           |        UNION ALL SELECT id_b, id_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT DISTINCT a, a FROM und
           |  UNION
           |  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id),
           |losers AS (SELECT id FROM reach GROUP BY id HAVING id <> min(r))
           |SELECT em.vec_id, em.label::BIGINT AS label,
           |       round(sqrt(list_dot_product(e.v, e.v)), 6) AS norm
           |FROM embeddings em JOIN e ON e.vec_id = em.vec_id
           |WHERE em.vec_id NOT IN (SELECT id FROM losers)
           |ORDER BY em.vec_id""".stripMargin

      // q100: cluster-balanced sample — q76's verified-cutoff design with
      // the learned cells as strata; the oracle re-derives the whole
      // per-cell hash ranking from the dumped codes in plain SQL
      oracleStash("q100_cluster_sample") =
        s"""WITH codes AS (
           |  SELECT id, (coarse0 * $v + coarse1) AS cell_id
           |  FROM read_parquet('$codesGlob')),
           |r AS (SELECT cell_id, id,
           |        row_number() OVER (PARTITION BY cell_id
           |          ORDER BY ('0x' || substr(md5(id::VARCHAR),1,15))::BIGINT, id) AS rk
           |      FROM codes)
           |SELECT cell_id::BIGINT AS cell_id, id, rk::BIGINT AS rk
           |FROM r WHERE rk <= $ClusterSampleQuota
           |ORDER BY cell_id, id""".stripMargin

      // q102: cluster-TEMPERED sample — q100's ranking with the
      // floor-of-sqrt per-cell quota (bit-identical integer→sqrt→floor on
      // both engines, the q87 precedent)
      oracleStash("q102_cluster_tempered") =
        s"""WITH codes AS (
           |  SELECT id, (coarse0 * $v + coarse1) AS cell_id
           |  FROM read_parquet('$codesGlob')),
           |c AS (SELECT cell_id, count(*) AS cnt FROM codes GROUP BY 1),
           |r AS (SELECT codes.cell_id, codes.id,
           |        row_number() OVER (PARTITION BY codes.cell_id
           |          ORDER BY ('0x' || substr(md5(codes.id::VARCHAR),1,15))::BIGINT, codes.id) AS rk,
           |        greatest(1, floor(sqrt(c.cnt))) AS q
           |      FROM codes JOIN c USING (cell_id))
           |SELECT cell_id::BIGINT AS cell_id, id, rk::BIGINT AS rk
           |FROM r WHERE rk <= q
           |ORDER BY cell_id, id""".stripMargin

      // q101: prototypicality pruning — the engine scores each row by its
      // double-fold residual² vs the assigned cell's refined mean
      // (C + mu, dumped above); the oracle refolds the identical math
      // per split over the same dumped doubles ((z1 − z2) − z3 matches
      // the engine's (x − C) − mu left-assoc order, split sums added
      // 0 + 1), and re-derives ranking + ceil(frac·n) keep in plain SQL
      val half = h.model.halfDim
      def resSql(xs: String, cb: String) = {
        val diff = s"list_transform(list_zip($xs, $cb.centroid, $cb.mu), z -> z[1] - z[2] - z[3])"
        s"list_dot_product($diff, $diff)"
      }
      oracleStash("q101_proto_prune") =
        s"""WITH codes AS (
           |  SELECT id, coarse0, coarse1, (coarse0 * $v + coarse1) AS cell_id
           |  FROM read_parquet('$codesGlob')),
           |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |cb AS (SELECT * FROM read_parquet('$odir/coarse/*.parquet')),
           |d AS (
           |  SELECT codes.id, codes.cell_id,
           |    round(sqrt(${resSql(s"e.v[1:$half]", "c0")} +
           |               ${resSql(s"e.v[${half + 1}:${2 * half}]", "c1")}), 6) AS proto_dist
           |  FROM codes JOIN e ON e.vec_id = codes.id
           |  JOIN cb c0 ON c0.split = 0 AND c0.cidx = codes.coarse0
           |  JOIN cb c1 ON c1.split = 1 AND c1.cidx = codes.coarse1),
           |r AS (SELECT id, cell_id, proto_dist,
           |        row_number() OVER (PARTITION BY cell_id
           |          ORDER BY proto_dist DESC, id) AS rk,
           |        count(*) OVER (PARTITION BY cell_id) AS n
           |      FROM d)
           |SELECT id, cell_id::BIGINT AS cell_id, proto_dist,
           |       rk::BIGINT AS rk, (rk <= ceil(n * $ProtoKeepFrac)) AS keep
           |FROM r ORDER BY cell_id, rk""".stripMargin

      // q103: the composed semantic-curation pipeline — q95's recursive
      // survivor CTE, q101's residual scoring + keep over the survivors,
      // q102's floor-sqrt tempered draw over the keep-set, chained as one
      // SQL derivation (the codebook alias is cb, so the pair sweep's
      // second codes side is cb2)
      oracleStash("q103_semantic_curation") =
        s"""WITH RECURSIVE codes AS (
           |  SELECT id, coarse0, coarse1, (coarse0 * $v + coarse1) AS cell_id
           |  FROM read_parquet('$codesGlob')),
           |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |cb AS (SELECT * FROM read_parquet('$odir/coarse/*.parquet')),
           |pairs AS (
           |  SELECT ca.id AS id_a, cb2.id AS id_b
           |  FROM codes ca JOIN codes cb2 ON ca.cell_id = cb2.cell_id AND ca.id < cb2.id
           |  JOIN e ea ON ea.vec_id = ca.id
           |  JOIN e eb ON eb.vec_id = cb2.id
           |  WHERE $cosPair >= ${VectorQueries.NearDupSimThreshold}),
           |und AS (SELECT id_a AS a, id_b AS b FROM pairs
           |        UNION ALL SELECT id_b, id_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT DISTINCT a, a FROM und
           |  UNION
           |  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.id),
           |losers AS (SELECT id FROM reach GROUP BY id HAVING id <> min(r)),
           |surv AS (SELECT * FROM codes
           |         WHERE id NOT IN (SELECT id FROM losers)),
           |d AS (
           |  SELECT surv.id, surv.cell_id,
           |    round(sqrt(${resSql(s"e.v[1:$half]", "c0")} +
           |               ${resSql(s"e.v[${half + 1}:${2 * half}]", "c1")}), 6) AS proto_dist
           |  FROM surv JOIN e ON e.vec_id = surv.id
           |  JOIN cb c0 ON c0.split = 0 AND c0.cidx = surv.coarse0
           |  JOIN cb c1 ON c1.split = 1 AND c1.cidx = surv.coarse1),
           |pr AS (SELECT id, cell_id, proto_dist,
           |        row_number() OVER (PARTITION BY cell_id
           |          ORDER BY proto_dist DESC, id) AS prk,
           |        count(*) OVER (PARTITION BY cell_id) AS n
           |      FROM d),
           |kept AS (SELECT id, cell_id, proto_dist FROM pr
           |         WHERE prk <= ceil(n * $ProtoKeepFrac)),
           |c2 AS (SELECT cell_id, count(*) AS cnt FROM kept GROUP BY 1),
           |r2 AS (SELECT kept.cell_id, kept.id, kept.proto_dist,
           |        row_number() OVER (PARTITION BY kept.cell_id
           |          ORDER BY ('0x' || substr(md5(kept.id::VARCHAR),1,15))::BIGINT, kept.id) AS rk,
           |        greatest(1, floor(sqrt(c2.cnt))) AS q
           |      FROM kept JOIN c2 USING (cell_id))
           |SELECT cell_id::BIGINT AS cell_id, id, rk::BIGINT AS rk, proto_dist
           |FROM r2 WHERE rk <= q
           |ORDER BY cell_id, id""".stripMargin

      val dsq = l2sqSql("p.subvec", "c.centroid")
      oracleStash("q45_subq_distortion") =
        s"""WITH p AS (SELECT * FROM read_parquet('$odir/proj/*.parquet')),
           |c AS (SELECT * FROM read_parquet('$odir/subq/*.parquet')),
           |d AS (
           |  SELECT p.split, p.fidx,
           |         floor($dsq * 1000000.0 + 0.5)::BIGINT AS micro
           |  FROM p JOIN c ON c.split = p.split AND c.fidx = p.fidx AND c.code = p.code)
           |SELECT split::BIGINT AS split, fidx::BIGINT AS fidx, count(*) AS n,
           |       sum(micro)::BIGINT AS sum_micro,
           |       round((sum(micro)::DOUBLE / 1000000.0) / count(*), 6) AS avg_distortion
           |FROM d GROUP BY 1, 2 ORDER BY split, fidx""".stripMargin
    })

  // ----------------------------------------------------------------- PCA

  private val pcaCache = TrieMap.empty[(SparkSession, String), LopqPca]

  def pcaOf(s: SparkSession, d: String): LopqPca =
    pcaCache.getOrElseUpdate((s, d),
      LopqPca.train(t(s, d, "embeddings"), "embedding", PcaDims))

  /** Stash the q39 oracle: the trained projection as literal matrices —
    * `c_j = round(dot(x − mu, P_j), 6)` with identical fold order. */
  private def stashPcaOracle(pca: LopqPca): Unit = {
    val muL = sqlList(pca.mu)
    val comps = (0 until pca.pcaDims).map { j =>
      s"round(list_dot_product(diff, ${sqlList(pca.p(j))}), 6) AS c$j"
    }.mkString(",\n       ")
    oracleStash("q39_pca_project") =
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |d AS (SELECT vec_id, list_transform(list_zip(v, $muL), p -> p[1] - p[2]) AS diff FROM e)
         |SELECT vec_id,
         |       $comps
         |FROM d ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------------------- queries

  /** The fixed query set's per-query serves, ranked: `(q_id, rank, n_id,
    * adc_dist, exact_dist)`. q34/q35 run it on the full-model handle
    * (resident rotation slices), q69 on the fetched one — one plan, one
    * oracle. */
  private def annPerQuery(s: SparkSession, d: String, h: LopqSlimIndex): DataFrame = {
    val e = t(s, d, "embeddings")
    val perQuery = queryVectors(s, d).map { case (qid, vec) =>
      LopqSearcher.searchSlim(h, e, "vec_id", "embedding", vec, Quota, TopK, RerankK)
        .withColumn("q_id", lit(qid))
    }
    val w = Window.partitionBy("q_id").orderBy(col("exact_dist"), col("id"))
    perQuery.reduce(_.unionAll(_))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("q_id"), col("rank"), col("id").as("n_id"),
        round(col("adc_dist"), 6).as("adc_dist"),
        round(col("exact_dist"), 6).as("exact_dist"))
      .orderBy("q_id", "rank")
  }

  /** A `def`, not a `val`: the engine oracles are GENERATED when the
    * queries run, so the catalog must re-read the stash on every access
    * (Verify builds `oracleSql` after running all queries). */
  def defs: Seq[QueryDef] = Seq(
    // §3.3/§3.1 full ANN path against the PERSISTED index: load-or-build →
    // per-query multisequence cell selection → partition-pruned ADC scan
    // (broadcast tables) → exact rerank, rotation slices from the RESIDENT
    // tensor of the full-model handle. Oracle: generated at runtime over
    // the dumped artifacts (see ensureOracle).
    QueryDef(
      "q34_lopq_ann",
      (s, d) => {
        ensureOracle(s, d)
        annPerQuery(s, d, index(s, d).serving)
      },
      stashed("q34_lopq_ann"),
      bench = true,
      dependsOnIndex = true),

    // The same ANN queries through the release-MAGNITUDE serve handle
    // (rotation slices FETCHED per query, tensor never resident) —
    // hash-gated against the SAME generated oracle as q34: one plan, both
    // rotation sources, both in the driver's correctness gate.
    QueryDef(
      "q69_lopq_ann_slim",
      (s, d) => {
        ensureOracle(s, d)
        index(s, d) // build/persist the index before loading it slim
        annPerQuery(s, d, slimIndex(s, d))
      },
      stashed("q69_lopq_ann_slim"),
      dependsOnIndex = true),

    // SET-ORIENTED ANN similarity join (SURVEY §7.1 north-star): the
    // 100-query batch flows through ONE shuffle-joined plan — distributed
    // encode + cell walk, a single pruned codes join, per-query top-k
    // windows — instead of 100 driver-looped searches. Oracle: the same
    // generated SQL shape as q34 over the 100-query artifact set, so the
    // batched plan is hash-gated against the per-query semantics.
    QueryDef(
      "q70_ann_join",
      (s, d) => {
        ensureOracle(s, d)
        index(s, d) // build/persist before loading slim
        val slim = slimIndex(s, d)
        val e = t(s, d, "embeddings")
        val queries = e.where(col("vec_id") < NumJoinQueries)
          .select(col("vec_id").as("q_id"), col("embedding"))
        LopqSearcher.annJoin(slim, queries, "q_id", "embedding",
          e, "vec_id", "embedding", Quota, TopK, RerankK)
          .select(col("q_id"), col("rank"), col("id").as("n_id"),
            round(col("adc_dist"), 6).as("adc_dist"),
            round(col("exact_dist"), 6).as("exact_dist"))
          .orderBy("q_id", "rank")
      },
      stashed("q70_ann_join"),
      bench = true,
      dependsOnIndex = true),

    // STREAMING ANN serve: the same 100-query batch arrives as a STREAM of
    // probe vectors (4 staged files → 4 micro-batches) and each micro-batch
    // is answered by one set-oriented annJoin against the resident index —
    // the Structured-Streaming form of the reference's query service loop
    // (api/api.py answers probes one at a time per HTTP request; here the
    // stream IS the request queue and each trigger is a bulk answer).
    // Per-query results are bit-identical regardless of batch composition
    // (AnnJoinSpec pins annJoin == per-query slim search), so the drained
    // union is hash-gated against the SAME generated oracle as q70.
    QueryDef(
      "q71_stream_ann",
      (s, d) => {
        ensureOracle(s, d)
        index(s, d) // build/persist before loading slim
        val slim = slimIndex(s, d)
        val e = t(s, d, "embeddings")
        val staged = indexDir(d) + "_annstream_src"
        val outDir = indexDir(d) + "_annstream_out"
        deleteDir(s, staged); deleteDir(s, outDir)
        val q = e.where(col("vec_id") < NumJoinQueries)
          .select(col("vec_id").as("q_id"), col("embedding"))
        // four staged files + maxFilesPerTrigger=1 → four real micro-batches
        (0 until 4).foreach { i =>
          q.where(col("q_id") % 4 === i).repartition(1)
            .write.mode(SaveMode.Append).parquet(staged)
        }
        val src = s.readStream.schema(q.schema)
          .option("maxFilesPerTrigger", 1).parquet(staged)
        src.writeStream
          .option("checkpointLocation", outDir + "/_ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // the chunked driver drops each join's caches and per-call
            // broadcasts after its sink, so a long-lived stream accretes none
            LopqSearcher.annJoinChunked(slim, batch, "q_id", "embedding",
              e, "vec_id", "embedding", Quota, TopK, RerankK, chunkRows = 0L) { (df, _) =>
              df.write.mode(SaveMode.Append).parquet(outDir + "/results")
            }
            ()
          }
          .start().awaitTermination()
        s.read.parquet(outDir + "/results")
          .select(col("q_id"), col("rank"), col("id").as("n_id"),
            round(col("adc_dist"), 6).as("adc_dist"),
            round(col("exact_dist"), 6).as("exact_dist"))
          .orderBy("q_id", "rank")
      },
      stashed("q71_stream_ann"),
      dependsOnIndex = true),

    // BULK API: the reference's search facade answers probes one HTTP
    // request at a time and its bulk evaluator loops client-side
    // (`lopq/lopq/eval.py:7-38`); `GraftApi.searchBulk` answers the whole
    // probe set through ONE annJoin plan and shapes q47's camelCase JSON
    // response per query. Oracle: the q70 join semantics + q47's JSON fold,
    // generated over the same stashed artifact set — the API layer adds no
    // semantics of its own and the gate proves it.
    QueryDef(
      "q74_api_bulk",
      (s, d) => {
        ensureOracle(s, d)
        index(s, d) // build/persist before loading slim
        val e = t(s, d, "embeddings")
        val queries = e.where(col("vec_id") < NumJoinQueries)
          .select(col("vec_id").as("q_id"), col("embedding"))
        new graft.GraftApi(s, d, "lopq_slim")
          .searchBulk(queries, "q_id", "embedding", TopK, Quota, RerankK)
      },
      stashed("q74_api_bulk"),
      dependsOnIndex = true),

    // NEAR-DUP DEDUP PASS through the ANN join — the production-scale twin
    // of q32's guarded all-pairs baseline and q33's LSH variant (one truth,
    // three physical paths): every corpus vector probes the persisted LOPQ
    // index through ONE annJoin plan; each probe's exact-reranked top-k are
    // its candidate near-dups, verified with the same cosine threshold and
    // deduped to (id_a < id_b) pairs. This is the reference's extraction
    // dedup pass (`updater/extraction_checker.py:225-258`) at vector
    // granularity, run set-oriented. Hash-gated against q32's EXACT
    // all-pairs oracle — the gate asserts candidate-generation recall 1.0
    // at this corpus/model scale (quota covers the full grid here; a
    // production run trades quota for recall like any IVF index, and the
    // LSH twin q33 carries the banded alternative).
    QueryDef(
      "q73_anndedup_pairs",
      (s, d) => {
        ensureOracle(s, d)
        index(s, d) // build/persist before loading slim
        val slim = slimIndex(s, d)
        val e = t(s, d, "embeddings")
        val queries = e.select(col("vec_id").as("q_id"), col("embedding"))
        verifiedDedupPairs(e,
          LopqSearcher.annJoin(slim, queries, "q_id", "embedding",
            e, "vec_id", "embedding", DedupQuota, DedupK,
            dedupRerankK(slim.cellCounts.total)))
      },
      Some(VectorQueries.nearDupPairsOracleSql),
      dependsOnIndex = true),

    // CHUNKED twin of the q73 dedup pass: the SAME probe set routed
    // through [[LopqSearcher.annJoinChunked]] — the production driver loop
    // for probe sets whose one-shot matrix can never broadcast (the
    // 2M × 4096-d deployment self-dedup) — with `chunkRows` forced small
    // so the sf-scale gate genuinely crosses chunk boundaries (500 probes
    // at 128/chunk = 4 chunks at sf0.01). Per-query results are
    // independent of batch composition, so the union of per-chunk results
    // must hash-match the SAME exact all-pairs oracle as the one-shot
    // pass; this makes chunked ≡ one-shot driver-verified every round, not
    // only ScalaTest-pinned.
    QueryDef(
      "q93_anndedup_chunked",
      (s, d) => {
        ensureOracle(s, d)
        index(s, d) // build/persist before loading slim
        val slim = slimIndex(s, d)
        val e = t(s, d, "embeddings")
        val queries = e.select(col("vec_id").as("q_id"), col("embedding"))
        // each chunk is collected in its sink: the chunk's cache and
        // per-call broadcasts are released once the sink returns
        val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
        var schema: org.apache.spark.sql.types.StructType = null
        LopqSearcher.annJoinChunked(slim, queries, "q_id", "embedding",
          e, "vec_id", "embedding", DedupQuota, DedupK,
          dedupRerankK(slim.cellCounts.total), chunkRows = 128) { (df, _) =>
          schema = df.schema
          rows ++= df.collect()
        }
        verifiedDedupPairs(e, s.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema))
      },
      Some(VectorQueries.nearDupPairsOracleSql),
      dependsOnIndex = true),

    // SEMANTIC-dedup, cluster-bucketed (the SemDeDup shape, Abbas et al.
    // 2023, arXiv:2303.09540: k-means-partition the embedding space, then
    // search near-duplicates only WITHIN a cluster): the persisted LOPQ
    // coarse quantizer IS the trained clusterer and the persisted codes
    // ARE the assignment — so the operator is one bucketed self-join of
    // the codes on cell_id, cosine-verified against the raw vectors. A
    // third physical path for the embedding near-dup family: q32 proves
    // exact all-pairs (guarded), q33 bounds pairs by LSH collision, q94
    // bounds them by the trained partition — at 100 TB the within-cell
    // pair count is Σ|cell|², driven to O(n·avg_cell) by the quantizer
    // the index already maintains, and the codes layout is already
    // bucketed on the join key so the self-join needs no extra shuffle.
    // Recall difference vs q32 is PRINCIPLED (only same-cell pairs are
    // candidates — SemDeDup's trade by design), but the gate is exact:
    // the oracle recomputes the same semantics from the dumped codes.
    QueryDef(
      "q94_semdedup_cells",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        val cells = h.codes.select(col("id"),
          (col("coarse0") * h.model.v + col("coarse1")).cast("long").as("cell_id"))
        VectorQueries.semDedupPairs(cells, t(s, d, "embeddings"),
            "vec_id", "embedding")
          .orderBy("id_a", "id_b")
      },
      stashed("q94_semdedup_cells"),
      bench = true,
      dependsOnIndex = true),

    // MULTI-PROBE twin of the q94 sweep — the batch counterpart of the
    // conf-gated ingest screen option: every vector probes its TOP-2
    // coarse cells (LopqIndexStore.assignCellsMulti — rank-0 ≡ the
    // persisted codes bit-for-bit) and a pair is a candidate when the
    // members share ANY probed cell, catching the boundary-straddling
    // near-dups the single-cell sweep misses by design (the cross-cell
    // blindness the r13 `cellmiss` probe quantifies per jitter ε). The
    // sweep engine is semDedupPairs verbatim over the doubled skinny
    // assignment; pairs sharing both cells collapse in one skinny
    // groupBy. ≤ 4× the q94 pair bound, same shuffle shape.
    QueryDef(
      "q104_semdedup_multiprobe",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        val cells2 = LopqIndexStore.assignCellsMulti(s, h.dir,
          t(s, d, "embeddings"), "vec_id", "embedding")
        VectorQueries.semDedupPairsMultiProbe(cells2,
            t(s, d, "embeddings"), "vec_id", "embedding")
          .orderBy("id_a", "id_b")
      },
      stashed("q104_semdedup_multiprobe"),
      bench = true,
      dependsOnIndex = true),

    // The SemDeDup MATERIALIZATION (the Abbas et al. pipeline's end
    // product, the semantic twin of q72's LSH-based corpus dedup): q94's
    // within-cell pairs → min-label connected components (TextOps's CC,
    // shared with q63/q72) → anti-join the non-canonical members out and
    // emit the cleaned embedding corpus, content-gated by each survivor's
    // norm. The loser set is orders of magnitude smaller than the corpus,
    // so the anti-join broadcasts at 100 TB.
    QueryDef(
      "q95_semdedup_corpus",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        val cells = h.codes.select(col("id"),
          (col("coarse0") * h.model.v + col("coarse1")).cast("long").as("cell_id"))
        val e = t(s, d, "embeddings")
        val edges = VectorQueries.semDedupPairs(cells, e, "vec_id", "embedding")
          .select("id_a", "id_b").localCheckpoint()
        val losers = TextOps.minLabelComponents(edges)
          .where(col("id") =!= col("comp")).select(col("id").as("vec_id"))
        TextOps.antiJoinIds(e, "vec_id", losers)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            round(l2Norm(col("embedding")), 6).as("norm"))
          .orderBy("vec_id")
      },
      stashed("q95_semdedup_corpus"),
      dependsOnIndex = true),

    // CHUNKED twin of the q94 sweep (the q93 pattern, applied to the
    // SemDeDup pass): the SAME codes + vectors routed through
    // [[VectorQueries.semDedupPairsChunked]] with the chunk count forced
    // past 1, so the cell-group decomposition and the skinny-broadcast
    // id-attach genuinely execute at sf scale. Cells are whole within a
    // chunk, so the union of chunk results must hash-match q94's oracle —
    // chunked ≡ one-shot is driver-verified every round, not only
    // ScalaTest-pinned.
    QueryDef(
      "q96_semdedup_chunked",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        val cells = h.codes.select(col("id"),
          (col("coarse0") * h.model.v + col("coarse1")).cast("long").as("cell_id"))
        val chunks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        VectorQueries.semDedupPairsChunked(cells, t(s, d, "embeddings"),
          "vec_id", "embedding", VectorQueries.NearDupSimThreshold,
          nChunks = 4) { (df, _) => chunks += df }
        chunks.reduce(_.unionAll(_)).orderBy("id_a", "id_b")
      },
      stashed("q94_semdedup_cells"),
      dependsOnIndex = true),

    // The INCREMENTAL SemDeDup pass (ref extraction_checker.py:225-258's
    // check-new-against-indexed loop, at cell granularity): even ids play
    // the nightly batch, odd ids the indexed corpus, and the operator
    // emits every same-cell near-dup pair TOUCHING the batch — without
    // re-sweeping corpus × corpus and with the fat corpus vector table
    // scanned map-side behind a broadcast of the O(batch · avg_cell)
    // touched-member slice (PlanSpec-pinned). The oracle is the q94 SQL
    // plus the batch-side predicate.
    QueryDef(
      "q97_semdedup_incremental",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        val cells = h.codes.select(col("id"),
          (col("coarse0") * h.model.v + col("coarse1")).cast("long").as("cell_id"))
        val e = t(s, d, "embeddings")
        val isNew = pmod(col("id"), lit(2)) === 0
        VectorQueries.semDedupPairsIncremental(
            cells.where(!isNew), cells.where(isNew),
            e.where(pmod(col("vec_id"), lit(2)) =!= 0),
            e.where(pmod(col("vec_id"), lit(2)) === 0),
            "vec_id", "embedding")
          .orderBy("id_a", "id_b")
      },
      stashed("q97_semdedup_incremental"),
      dependsOnIndex = true),

    // The full nightly-ingest LOOP, end to end (ref the extraction_checker
    // check → skip → updater store cycle, extraction_checker.py:225-258 +
    // searcher_lopqhbase.py:600-617): seed a fresh index with the odd-id
    // half, SCREEN the even-id batch against it (q97's incremental pass),
    // drop flagged rows by the conservative-prefix rule
    // (VectorQueries.screenDrops), append the survivors, replay the
    // update (must no-op). The final codes table is the oracle's subject —
    // it must hold every odd id plus exactly the surviving evens, with the
    // codes the one-shot encode produced (encode is deterministic).
    QueryDef(
      "q98_ingest_screened_index",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        val ingDir = indexDir(d) + "_ingest"
        deleteDir(s, ingDir)
        LopqIndexStore.initEmpty(s, ingDir, h.model, None, P, h.model.dim)
        val e = t(s, d, "embeddings")
        val isNew = pmod(col("vec_id"), lit(2)) === 0
        val corpus = e.where(!isNew).select("vec_id", "embedding")
        val batch = e.where(isNew).select("vec_id", "embedding")
        assert(LopqIndexStore.appendUpdate(s, ingDir, corpus,
          "vec_id", "embedding", "ingest_2026-08-15_000000"))
        // the whole screened cycle through the production facade: screen
        // against the SEEDED index's own live codes, drop, append
        val r = IngestOps.screenAndAppend(s, ingDir, corpus, batch,
          "vec_id", "embedding", "ingest_2026-08-15_000001")
        assert(r.applied && r.batchRows > 0 && r.appended <= r.batchRows)
        // at-least-once replay of the screened update — watermark no-op
        assert(!IngestOps.screenAndAppend(s, ingDir, corpus, batch,
          "vec_id", "embedding", "ingest_2026-08-15_000001").applied)
        LopqIndexStore.readCodes(s, ingDir)
          .select(col("id"), col("coarse0").cast("long").as("coarse0"),
            col("coarse1").cast("long").as("coarse1"),
            concat_ws(",", col("fine").cast("array<string>")).as("fine_str"),
            col("cell_id").cast("long").as("cell_id"))
          .orderBy("id")
      },
      stashed("q98_ingest_screened_index"),
      dependsOnIndex = true),

    // The STREAMING screened ingest (graft.streaming.ScreenedIngest):
    // the q98 cycle as two REAL micro-batches drained sequentially over
    // one checkpoint, so micro-batch 2 is screened against the seed plus
    // batch 1's SURVIVORS only (its vectors come from the side-store the
    // stream itself maintains), then a fresh-checkpoint replay of both
    // files that the watermark must refuse BEFORE any screen work (a
    // replayed screen would see the batch's own rows indexed and flag
    // everything — the isApplied-first guard is gated here).
    QueryDef(
      "q99_stream_screened_ingest",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        val sDir = indexDir(d) + "_screened"
        val staged = sDir + "_src"
        val ckpt = sDir + "/_ckpt"
        deleteDir(s, sDir); deleteDir(s, staged)
        LopqIndexStore.initEmpty(s, sDir, h.model, None, P, h.model.dim)
        val e = t(s, d, "embeddings").select("vec_id", "embedding")
        val isNew = pmod(col("vec_id"), lit(2)) === 0
        val corpus = e.where(!isNew)
        // seed = the pre-existing indexed corpus: codes AND the vector
        // side-store the screen verifies cosines against
        IngestOps.writeVectors(s, sDir, corpus, "vec_id", "embedding",
          "seed_0000000000000000000")
        assert(LopqIndexStore.appendUpdate(s, sDir, corpus,
          "vec_id", "embedding", "seed_0000000000000000000"))
        val halfN = e.count() / 2
        val newRows = e.where(isNew)
        def drain(cp: String): Unit = {
          val src = s.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1).parquet(staged)
          graft.streaming.ScreenedIngest
            .maintain(s, sDir, src, "vec_id", "embedding", cp)
            .awaitTermination()
        }
        // stage → drain one file at a time, so micro-batch order is the
        // order the oracle models (file-source ordering is not a contract)
        newRows.where(col("vec_id") < halfN).repartition(1)
          .write.mode(SaveMode.Append).parquet(staged)
        drain(ckpt)
        newRows.where(col("vec_id") >= halfN).repartition(1)
          .write.mode(SaveMode.Append).parquet(staged)
        drain(ckpt)
        // fresh checkpoint re-reads BOTH files; ids 0/1 ≤ watermark → no-op
        drain(ckpt + "_replay")
        assert(LopqIndexStore.watermark(s, sDir)
          .contains(f"stream_${1L}%019d"),
          "expected exactly two applied screened stream updates")
        LopqIndexStore.readCodes(s, sDir)
          .select(col("id"), col("coarse0").cast("long").as("coarse0"),
            col("coarse1").cast("long").as("coarse1"),
            concat_ws(",", col("fine").cast("array<string>")).as("fine_str"),
            col("cell_id").cast("long").as("cell_id"))
          .orderBy("id")
      },
      stashed("q99_stream_screened_ingest"),
      dependsOnIndex = true),

    // §2.4 recall@k eval vs the in-plan brute-force oracle
    // (ref get_recall, lopq/lopq/eval.py:92-142).
    QueryDef(
      "q35_lopq_recall",
      (s, d) => {
        ensureOracle(s, d)
        val e = t(s, d, "embeddings")
        val ann = annPerQuery(s, d, index(s, d).serving).select("q_id", "n_id")
        val q = e.where(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val w = Window.partitionBy("q_id").orderBy(col("exact_dist"), col("vec_id"))
        val brute = e.join(broadcast(q), lit(true))
          .withColumn("exact_dist", sqrt(l2DistanceSq(col("q_vec"), col("embedding"))))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= TopK)
          .select(col("q_id"), col("vec_id").as("n_id"))
        brute.join(ann.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left_outer")
          .groupBy("q_id")
          .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / TopK).as("recall"))
          .orderBy("q_id")
      },
      stashed("q35_lopq_recall"),
      dependsOnIndex = true),

    // §2.4 global PCA train + apply (ref train_pca model.py:242-287 +
    // apply_PCA model.py:961-978): the projection itself is the query —
    // literal mu/P both sides, identical double fold order.
    QueryDef(
      "q39_pca_project",
      (s, d) => {
        val pca = pcaOf(s, d)
        stashPcaOracle(pca)
        val muLit = array(pca.mu.map(lit): _*)
        val diff = zip_with(col("embedding"), muLit, (x, m) => x.cast("double") - m)
        val comps = (0 until pca.pcaDims).map { j =>
          val pLit = array(pca.p(j).map(lit): _*)
          round(dotProduct(diff, pLit), 6).as(s"c$j")
        }
        t(s, d, "embeddings")
          .select(col("vec_id") +: comps: _*)
          .orderBy("vec_id")
      },
      stashed("q39_pca_project")),

    // §2.9-adjacent incremental index maintenance (ref load_codes since
    // last_indexed_update, searcher_lopqhbase.py:632-770): two update
    // batches appended + one duplicate replay (must no-op) ≡ the one-shot
    // batch encode — verified by the oracle reading the ONE-SHOT codes.
    QueryDef(
      "q43_incremental_index",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        val incrDir = indexDir(d) + "_incr"
        deleteDir(s, incrDir)
        LopqIndexStore.initEmpty(s, incrDir, h.model, None, P, h.model.dim)
        val e = t(s, d, "embeddings")
        val n = e.count()
        val half = n / 2
        val b1 = e.where(col("vec_id") < half)
        val b2 = e.where(col("vec_id") >= half)
        assert(LopqIndexStore.appendUpdate(s, incrDir, b1, "vec_id", "embedding",
          "index_update_emb_2026-08-12_000000"))
        assert(LopqIndexStore.appendUpdate(s, incrDir, b2, "vec_id", "embedding",
          "index_update_emb_2026-08-12_000001"))
        // at-least-once replay of update 0 — must be skipped by the manifest
        assert(!LopqIndexStore.appendUpdate(s, incrDir, b1, "vec_id", "embedding",
          "index_update_emb_2026-08-12_000000"))
        assert(LopqIndexStore.watermark(s, incrDir)
          .contains("index_update_emb_2026-08-12_000001"))
        LopqIndexStore.readCodes(s, incrDir)
          .select(col("id"), col("coarse0").cast("long").as("coarse0"),
            col("coarse1").cast("long").as("coarse1"),
            concat_ws(",", col("fine").cast("array<string>")).as("fine_str"),
            col("cell_id").cast("long").as("cell_id"))
          .orderBy("id")
      },
      stashed("q43_incremental_index")),

    // §2.9 STREAMING index maintenance, oracle-gated (previously spec-only:
    // VERDICT r4 "Next round #5"): a staged two-file replay source drives
    // IndexMaintenance.maintain (foreachBatch → appendUpdate per
    // micro-batch), then a SECOND drain on a fresh checkpoint replays the
    // same batch ids — the manifest must refuse them — and the stream-built
    // codes table must equal the one-shot encode the oracle reads
    // (ref continuous load_codes, searcher_lopqhbase.py:655-770).
    QueryDef(
      "q65_stream_maintained_index",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        val sDir = indexDir(d) + "_stream"
        val staged = sDir + "_src"
        // checkpoints live INSIDE sDir: a stale checkpoint surviving the
        // reset would resume offsets against the re-staged files and burn
        // extra batch ids (caught at sf0.001 — the watermark drifted while
        // row-level dedup kept the codes identical)
        val ckpt = sDir + "/_ckpt"
        deleteDir(s, sDir); deleteDir(s, staged)
        LopqIndexStore.initEmpty(s, sDir, h.model, None, P, h.model.dim)
        val e = t(s, d, "embeddings").select("vec_id", "embedding")
        val half = e.count() / 2
        // two staged files + maxFilesPerTrigger=1 → two real micro-batches
        e.where(col("vec_id") < half).repartition(1)
          .write.mode(SaveMode.Append).parquet(staged)
        e.where(col("vec_id") >= half).repartition(1)
          .write.mode(SaveMode.Append).parquet(staged)
        def drain(cp: String): Unit = {
          val src = s.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1).parquet(staged)
          graft.streaming.IndexMaintenance
            .maintain(s, sDir, src, "vec_id", "embedding", cp)
            .awaitTermination()
        }
        drain(ckpt)
        drain(ckpt + "_replay") // same files, same batch ids → manifest no-op
        assert(LopqIndexStore.watermark(s, sDir)
          .contains(f"stream_${1L}%019d"),
          "expected exactly two applied stream updates")
        LopqIndexStore.readCodes(s, sDir)
          .select(col("id"), col("coarse0").cast("long").as("coarse0"),
            col("coarse1").cast("long").as("coarse1"),
            concat_ws(",", col("fine").cast("array<string>")).as("fine_str"),
            col("cell_id").cast("long").as("cell_id"))
          .orderBy("id")
      },
      stashed("q65_stream_maintained_index")),

    // §2.4 cell-balance histogram over the PERSISTED codes table
    // (ref lopq/lopq/eval.py:66-74).
    QueryDef(
      "q44_cell_histogram",
      (s, d) => {
        ensureOracle(s, d)
        index(s, d).codes
          .groupBy("cell_id").agg(count(lit(1)).as("cnt"))
          .select(col("cell_id").cast("long").as("cell_id"), col("cnt"))
          .orderBy("cell_id")
      },
      stashed("q44_cell_histogram")),

    // §2.4 subquantizer distortion (ref lopq/lopq/eval.py:145-161): mean
    // squared distance of projected subvectors to their assigned centroid,
    // per (split, subquantizer). Micro-units (floor(x·1e6 + 0.5)) make the
    // group sums exact-integer — associative, order-independent — so the
    // distributed agg hash-matches DuckDB bit-for-bit.
    QueryDef(
      "q45_subq_distortion",
      (s, d) => {
        ensureOracle(s, d)
        val dir = indexDir(d)
        val proj = s.read.parquet(s"$dir/oracle/proj")
        val cent = s.read.parquet(s"$dir/oracle/subq")
        proj.join(broadcast(cent), Seq("split", "fidx", "code"))
          .withColumn("micro",
            floor(l2DistanceSq(col("subvec"), col("centroid")) * lit(1000000.0) + lit(0.5)))
          .groupBy("split", "fidx")
          .agg(count(lit(1)).as("n"), sum(col("micro")).as("sum_micro"))
          .select(col("split").cast("long").as("split"),
            col("fidx").cast("long").as("fidx"), col("n"), col("sum_micro"),
            round(col("sum_micro").cast("double") / lit(1000000.0) / col("n"), 6)
              .as("avg_distortion"))
          .orderBy("split", "fidx")
      },
      stashed("q45_subq_distortion")),

    // Cluster-BALANCED deterministic sample over the persisted assignment
    // (the diversity-sampling step of cluster-curated pipelines): q76's
    // verified hash-cutoff design with the LEARNED cells as strata —
    // nothing driver-resident, the rank window bounded at
    // O(cells · quota · overshoot) rows at any corpus size. Physical
    // design in [[VectorQueries.clusterBalancedSample]].
    QueryDef(
      "q100_cluster_sample",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        val cells = h.codes.select(col("id"),
          col("cell_id").cast("long").as("cell_id"))
        VectorQueries.clusterBalancedSample(cells, ClusterSampleQuota)
          .orderBy("cell_id", "id")
      },
      stashed("q100_cluster_sample"),
      bench = true,
      dependsOnIndex = true),

    // Cluster-TEMPERED sample: q100 with the sub-linear ⌊√count⌋ per-cell
    // quota — big clusters flattened toward small ones (q87's temper over
    // the learned cells). Same verified-cutoff physics; the quota is a
    // column on the per-cell counts row. Physical design in
    // [[VectorQueries.clusterTemperedSample]].
    QueryDef(
      "q102_cluster_tempered",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        val cells = h.codes.select(col("id"),
          col("cell_id").cast("long").as("cell_id"))
        VectorQueries.clusterTemperedSample(cells)
          .orderBy("cell_id", "id")
      },
      stashed("q102_cluster_tempered"),
      dependsOnIndex = true),

    // PROTOTYPICALITY pruning (SSL-prototypes, Sorscher et al. 2022): keep
    // each cell's hardest keepFrac by distance-to-centroid in the model's
    // locally-projected space — map-side projection, skinny rank shuffle.
    // Physical design in [[VectorQueries.protoPrune]].
    QueryDef(
      "q101_proto_prune",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        VectorQueries.protoPrune(t(s, d, "embeddings"), "vec_id",
            "embedding", h.model.slim, ProtoKeepFrac)
          .orderBy("cell_id", "rk")
      },
      stashed("q101_proto_prune"),
      bench = true,
      dependsOnIndex = true),

    // The SEMANTIC-CURATION pipeline end to end — the embedding-side twin
    // of q79's composed text curation: SemDeDup survivors (q95's
    // dedup) → prototypicality keep-set (q101's prune) → cluster-tempered
    // draw (q102's sampler), emitting the curated corpus manifest in one
    // declarative derivation. Each stage keeps its pinned scale shape
    // (broadcast loser anti-join; one map-side scoring scan; skinny
    // adaptive draw) — composition adds NO new shuffle. The keep-set is
    // localCheckpoint'd before the sampler: its adaptive cutoff loop
    // re-scans its input per overshoot attempt, and without the pin each
    // attempt would re-run the whole O(n·D) scoring scan.
    QueryDef(
      "q103_semantic_curation",
      (s, d) => {
        ensureOracle(s, d)
        val h = index(s, d)
        val cells = h.codes.select(col("id"),
          (col("coarse0") * h.model.v + col("coarse1")).cast("long").as("cell_id"))
        val e = t(s, d, "embeddings")
        val edges = VectorQueries.semDedupPairs(cells, e, "vec_id", "embedding")
          .select("id_a", "id_b").localCheckpoint()
        val losers = TextOps.minLabelComponents(edges)
          .where(col("id") =!= col("comp")).select(col("id").as("vec_id"))
        val surv = TextOps.antiJoinIds(e, "vec_id", losers)
        val kept = VectorQueries.protoPrune(surv, "vec_id", "embedding",
            h.model.slim, ProtoKeepFrac)
          .where(col("keep"))
          .select(col("id"), col("cell_id"), col("proto_dist"))
          .localCheckpoint()
        VectorQueries.clusterTemperedSample(kept.select("id", "cell_id"))
          .join(kept.select(col("id"), col("proto_dist")), "id")
          .select(col("cell_id"), col("id"), col("rk"), col("proto_dist"))
          .orderBy("cell_id", "id")
      },
      stashed("q103_semantic_curation"),
      dependsOnIndex = true)
  )
}
