package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.MemoryBudget
import graft.functions.VectorFunctions._

/** Embedding-similarity operators over the `embeddings` table: norms,
  * brute-force exact k-NN (the oracle path, ref `lopq/lopq/eval.py:7-38`),
  * cosine near-duplicate pairs, and a deterministic random-hyperplane-LSH
  * bucketed variant (the 100 TB scale path — candidates from bucket
  * equi-joins instead of the O(n²) cross join).
  *
  * All dot products fold left-to-right in double precision on both engines
  * and every emitted distance is rounded to 6 dp, so the DuckDB oracle
  * hash-matches bit-for-bit.
  */
object VectorQueries {
  import Tables.{apply => t}

  /** DuckDB: embedding cast to DOUBLE list. */
  private val dv = "list_transform(embedding, x -> x::DOUBLE)"
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  private val NearDupSim = 0.4

  /** The exact all-pairs near-dup oracle (q32's), shared with the ANN-join
    * dedup pass q73 in [[EngineOps]]: one truth, three physical paths
    * (guarded all-pairs, LSH-bucketed, ANN-join candidate generation). */
  private[ops] def nearDupPairsOracleSql: String =
    s"""WITH e AS (SELECT vec_id, $dv AS v FROM embeddings)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |       round(${cosSql("a.v", "b.v")}, 6) AS cos_sim
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE ${cosSql("a.v", "b.v")} >= $NearDupSim
       |ORDER BY id_a, id_b""".stripMargin

  private[graft] val NearDupSimThreshold: Double = NearDupSim

  /** SemDeDup-shape near-dup pair hunt (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space with a trained
    * clusterer, then sweep all pairs WITHIN each cluster only. `cells` is
    * the skinny assignment `(id, cell_id)` — for a LOPQ-indexed corpus the
    * persisted codes already are one (q94 feeds them straight in);
    * `vectors` holds `(idCol, vecCol)`.
    *
    * Scale shape: candidate pairs exist only in cells with ≥ 2 members,
    * and that membership test needs nothing but the skinny assignment —
    * so the cells are counted FIRST and vectors attach only to
    * multi-member cells' rows (at the 2M × 4096-d deployment width the
    * singleton-cell majority of the ~32 GB vector table never enters a
    * shuffle). Each surviving vector ships once per side of the
    * cell-keyed self-join and the cosine is computed inside that join, so
    * only skinny `(id_a, id_b, cell_id, cos_sim)` rows leave it — never a
    * pair row dragging a raw vector.
    *
    * Skew shape: within-cell work is quadratic, so one giant cell would
    * otherwise land its whole |cell|² sweep in a single join task (AQE's
    * skew split spreads the probes but still buffers the full matching
    * cell per task). Members of a cell with more than `blockRows`
    * ([[CellBlockRows]] = 4096) rows are hash-assigned to ⌈n/B⌉ blocks and
    * the sweep runs per block PAIR (i ≤ j) — each unordered pair lands in
    * exactly one block pair, task memory is bounded by 2B vectors, and the
    * quadratic work spreads over ⌈n/B⌉² tasks. Cells at or under the block
    * size keep ⌈n/B⌉ = 1, where the decomposition degenerates to the plain
    * cell self-join (one key, no extra fan-out). */
  def semDedupPairs(cells: DataFrame, vectors: DataFrame, idCol: String,
      vecCol: String, simThreshold: Double = NearDupSimThreshold,
      blockRows: Int = CellBlockRows): DataFrame = {
    val asg = cells.select(col("id"), col("cell_id"))
    val multi = multiCellBlocks(asg, blockRows)
    val m = attachBlockedVectors(asg.join(multi, "cell_id"), vectors,
      idCol, vecCol, broadcastAsg = false)
    sweepBlockPairs(m, simThreshold)
  }

  /** Multi-member cells of a skinny `(id, cell_id)` assignment with their
    * block count `⌈n/blockRows⌉` — the candidate-cell set both sweep
    * drivers start from. */
  private def multiCellBlocks(asg: DataFrame, blockRows: Int): DataFrame = {
    require(blockRows >= 1, s"blockRows must be >= 1, got $blockRows")
    asg.groupBy("cell_id").agg(count(lit(1)).as("_n"))
      .where(col("_n") >= 2)
      .select(col("cell_id"),
        ((col("_n") + (blockRows - 1)) / blockRows).cast("int").as("_nblk"))
  }

  /** Attach each surviving member's vector + norm and its block id.
    * `broadcastAsg` flips which side of the id join ships: the one-shot
    * sweep shuffles both sides (asgMulti is corpus-sized there), while the
    * chunked driver broadcasts its chunk's SKINNY slice so the fat vector
    * table is scanned and filtered map-side — never shuffle-written just
    * to learn its cell (at the 2M × 4096-d deployment width that id-attach
    * shuffle alone is the whole 32 GB table). */
  private def attachBlockedVectors(asgMulti: DataFrame, vectors: DataFrame,
      idCol: String, vecCol: String, broadcastAsg: Boolean): DataFrame = {
    val e = vectors.select(col(idCol).as("id"), col(vecCol).as("_v"),
      l2Norm(col(vecCol)).as("_nrm"))
    val joined =
      if (broadcastAsg) e.join(broadcast(asgMulti), "id")
      else asgMulti.join(e, "id")
    joined.withColumn("_blk", pmod(hash(col("id")), col("_nblk")))
  }

  /** The within-cell pair sweep over attached members
    * `(cell_id, _nblk, _blk, id, _v, _nrm)` — shared verbatim by the
    * one-shot and chunked drivers, so their pair semantics cannot drift. */
  private def sweepBlockPairs(m: DataFrame, simThreshold: Double): DataFrame = {
    // triangular block decomposition: A carries its own block as i and
    // fans out over j ∈ [i, nblk); B carries its block as j and fans out
    // over i ∈ [0, j] — block pair (i, j) sees exactly block i's rows on
    // the A side and block j's on the B side
    val a = m.select(col("cell_id"), col("_blk").as("_i"),
      explode(sequence(col("_blk"), col("_nblk") - 1)).as("_j"),
      col("id").as("id_a"), col("_v").as("va"), col("_nrm").as("na"))
    val b = m.select(col("cell_id"),
      explode(sequence(lit(0), col("_blk"))).as("_i"), col("_blk").as("_j"),
      col("id").as("id_b"), col("_v").as("vb"), col("_nrm").as("nb"))
    val sim = dotProduct(col("va"), col("vb")) / (col("na") * col("nb"))
    // same-block pairs dedup by id order; cross-block pairs are already
    // unique per block pair but arrive in block order, not id order
    a.join(b, Seq("cell_id", "_i", "_j"))
      .where((col("_i") < col("_j") || col("id_a") < col("id_b")) &&
        sim >= simThreshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("cell_id"), round(sim, 6).as("cos_sim"))
  }

  /** Driver loop over CELL-GROUP chunks of [[semDedupPairs]] — the
    * scratch-bounded production plan for a corpus whose one-shot sweep
    * out-shuffles the cluster's (or, measured here, one machine's)
    * shuffle scratch. At the 2M × 4096-d deployment width the one-shot
    * plan shuffles the 32 GB vector table once for the id-attach and
    * ~once per self-join side ≈ 96 GB of concurrent shuffle files; cells
    * are hash-assigned to `nChunks` groups and each group sweeps alone,
    * so the concurrent footprint is one group's slice. Two plan changes
    * vs the one-shot, neither touching pair semantics:
    *
    *   - the chunk's SKINNY assignment broadcasts into the id join
    *     ([[attachBlockedVectors]] `broadcastAsg=true`), so the vector
    *     table is scanned per chunk but never shuffle-written for the
    *     attach — per-chunk shuffle is the self-join of the slice only;
    *   - every cell's members land in ONE chunk (chunk key = cell hash),
    *     so the triangular block decomposition inside a chunk is
    *     byte-identical to the one-shot sweep's and the concatenation of
    *     chunk results IS the one-shot result (spec-pinned).
    *
    * Size chunks with [[semDedupChunkCount]] (driver-known member count ×
    * width vs the scratch bound, skinny-broadcast row cap folded in).
    * `sink` materializes each chunk (parquet append, count, …); shuffle
    * files of a finished chunk are dropped when their dependency is GC'd,
    * and the loop nudges the JVM after each sink so consecutive chunks
    * don't stack their slices on scratch (Spark's own periodic-GC cleaner
    * fires on a 30 min cadence — longer than a whole chunk). Returns
    * `nChunks`. */
  def semDedupPairsChunked(cells: DataFrame, vectors: DataFrame,
      idCol: String, vecCol: String, simThreshold: Double, nChunks: Int,
      blockRows: Int = CellBlockRows)(sink: (DataFrame, Int) => Unit): Int = {
    require(nChunks >= 1, s"nChunks must be >= 1, got $nChunks")
    if (nChunks == 1) {
      sink(semDedupPairs(cells, vectors, idCol, vecCol, simThreshold, blockRows), 0)
      return 1
    }
    val asg = cells.select(col("id"), col("cell_id"))
    (0 until nChunks).foreach { c =>
      // the multi-cell agg reruns per chunk: it is a skinny-table scan
      // (O(corpus) longs), noise next to the chunk's quadratic sweep, and
      // recomputing beats holding a cached plan across the whole loop
      val asgC = asg.join(multiCellBlocks(asg, blockRows), "cell_id")
        .where(pmod(hash(col("cell_id")), lit(nChunks)) === c)
      val m = attachBlockedVectors(asgC, vectors, idCol, vecCol,
        broadcastAsg = true)
      sink(sweepBlockPairs(m, simThreshold), c)
      System.gc() // drop the finished chunk's shuffle files (see Scaladoc)
    }
    nChunks
  }

  /** Chunk count for [[semDedupPairsChunked]]: enough chunks that one
    * chunk's self-join shuffle (members/nChunks × row width × both sides
    * with explode headroom, ×3) fits [[SemDedupChunkShuffleMaxBytesConf]],
    * AND one chunk's skinny broadcast assignment stays under the id-list
    * cap of `budget` ([[MemoryBudget.idListMaxRows]], 8 Mi rows at the 1g
    * default; a cap of 0 counts as 1 row, one member per chunk). The cap
    * matters at NARROW widths, where the byte bound alone would allow a
    * chunk whose member count (≈ bytes/width) is itself too many rows to
    * broadcast (26M at 64-d × 8 GB). Both inputs are driver-known
    * (`memberRows` from the skinny multi-cell count the caller already
    * pays, `dim` from the model/shape) — no plan-stats guessing (the r9
    * byte-stats lesson). */
  def semDedupChunkCount(memberRows: Long, dim: Int,
      spark: org.apache.spark.sql.SparkSession, budget: Long = MemoryBudget.current): Int = {
    val maxBytes = spark.conf.get(SemDedupChunkShuffleMaxBytesConf,
      DefaultSemDedupChunkShuffleMaxBytes.toString).toLong
    require(maxBytes > 0, s"$SemDedupChunkShuffleMaxBytesConf must be > 0")
    val sliceBytes = graft.engine.LopqSearcher.satMul(memberRows, (4L * dim + 48L) * 3L)
    val byBytes = (sliceBytes + maxBytes - 1) / maxBytes
    val asgMax = math.max(1L, MemoryBudget.idListMaxRows(budget))
    val byAsg = (memberRows + asgMax - 1) / asgMax
    math.max(1L, math.max(byBytes, byAsg)).min(1 << 20).toInt
  }

  /** INCREMENTAL SemDeDup pass — the nightly-ingest twin of
    * [[semDedupPairs]] (ref `updater/extraction_checker.py:225-258`'s
    * check-new-against-indexed shape, re-expressed at cell granularity):
    * a NEW batch of vectors is swept against the indexed corpus within
    * the cells the batch TOUCHES only, emitting every (batch × corpus)
    * and (batch × batch) same-cell pair at `simThreshold` — without
    * re-sweeping corpus × corpus (yesterday's pairs already exist) and
    * without a per-probe ANN search (the quantizer's assignment is the
    * candidate generator, exactly as in the full sweep).
    *
    * Scale shape — one map-side pass, O(|batch| · avg_cell · D) work,
    * independent of corpus size beyond one skinny and one fat scan; no
    * vector ever enters a shuffle (PlanSpec-pinned):
    *
    *   - the batch's cell ids broadcast into the corpus-side ASSIGNMENT
    *     scan as a semi-join, so the corpus-sized skinny table is pruned
    *     map-side to the touched members;
    *   - that O(|batch| · avg_cell) skinny slice broadcasts into the corpus
    *     VECTOR scan, so the fat table (32 GB at deployment width) is
    *     scanned once and filtered map-side, and norms are computed on the
    *     surviving slice only;
    *   - the batch rows `(cell_id, id, vec, norm)` broadcast as the build
    *     side of a hash join on `cell_id`; the corpus slice, with the
    *     batch rows unioned in for the (batch × batch) pairs, streams
    *     through it. Task memory is the broadcast batch, whatever a
    *     skewed cell's size.
    *
    * Contract: batch ids are disjoint from corpus ids, and the batch is
    * bounded (a micro-batch / nightly increment): its vectors ride a
    * broadcast of |batch| · P · D · 4 bytes (P = cells per batch row, 1
    * unless multi-probe) — the reference's release batch, 2048 × 4096-d,
    * is ~32 MB — and its touched-member slice broadcasts too. For
    * corpus-scale "batches" run the full [[semDedupPairsChunked]] sweep
    * instead. Pair rows match [[semDedupPairs]]' schema:
    * `(id_a < id_b, cell_id, cos_sim)`; a batch pair sharing several of
    * its rows' cells (multi-probe) surfaces once per shared cell, for
    * [[dedupProbePairs]] to collapse. */
  def semDedupPairsIncremental(corpusCells: DataFrame, batchCells: DataFrame,
      corpusVectors: DataFrame, batchVectors: DataFrame,
      idCol: String, vecCol: String,
      simThreshold: Double = NearDupSimThreshold): DataFrame = {
    val bAsg = batchCells.select(col("id"), col("cell_id"))
    val cPruned = corpusCells.select(col("id"), col("cell_id"))
      .join(broadcast(bAsg.select("cell_id")), Seq("cell_id"), "left_semi")
    def members(v: DataFrame, asg: DataFrame) =
      v.select(col(idCol).as("id"), col(vecCol).as("_v"))
        .join(broadcast(asg), "id")
        .select(col("cell_id"), col("id"), col("_v"), l2Norm(col("_v")).as("_nrm"))
    val batchM = members(batchVectors, bAsg)
    val a = batchM.select(col("cell_id"), col("id").as("id_a"),
      col("_v").as("va"), col("_nrm").as("na"))
    // a (batch, corpus) pair meets once (ids disjoint), a (batch, batch)
    // pair twice mirrored, deduped by the id order below
    val b = members(corpusVectors, cPruned).withColumn("_new", lit(false))
      .unionByName(batchM.withColumn("_new", lit(true)))
      .select(col("cell_id"), col("id").as("id_b"), col("_v").as("vb"),
        col("_nrm").as("nb"), col("_new"))
    val sim = dotProduct(col("va"), col("vb")) / (col("na") * col("nb"))
    b.join(broadcast(a), "cell_id")
      .where((!col("_new") || col("id_a") < col("id_b")) && sim >= simThreshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("cell_id"), round(sim, 6).as("cos_sim"))
  }

  /** What the drop rule settled for one screened batch: how many flagged
    * pairs it saw and which batch ids it drops. */
  final case class ScreenDrops(flaggedPairs: Long, dropped: Set[Long]) {
    /** `batch` minus the dropped ids. */
    def survivors(batch: DataFrame, idCol: String): DataFrame =
      if (dropped.isEmpty) batch else batch.where(!col(idCol).isInCollection(dropped))
  }

  /** The CONSERVATIVE-PREFIX drop rule of an ingest screen, applied to
    * [[semDedupPairsIncremental]]'s flagged pairs (ref
    * `updater/extraction_checker.py:225-258`, which marks content as
    * processed whether or not it is stored): a batch row is DROPPED when
    * its content near-duplicates anything observed before it — any indexed
    * corpus row (already stored, either id order), or any batch row with a
    * smaller id (observed earlier in the same increment, whether or not
    * that row itself survives — its content was seen). The rule is
    * deterministic, order-free to evaluate (no sequential scan, no
    * reachability recursion — contrast [[semDedupPairs]]' component
    * collapse for OFFLINE dedup, where the canonical member must exist in
    * the output), and non-recursive SQL for the oracle.
    *
    * Each pair names at most one dropped id: its larger id when that is a
    * batch row, else its smaller id when that is a batch row (its larger
    * partner is then corpus). One aggregation over the pairs returns their
    * count and the dropped set, at most one id per batch row. Pairs must be
    * id-normalized (`id_a < id_b`), as [[semDedupPairsIncremental]] emits
    * them; `batchIds` is the batch's id set, batch-bounded like the
    * screen's own broadcasts. */
  def screenDrops(pairs: DataFrame, batchIds: Set[Long]): ScreenDrops = {
    val drop = when(col("id_b").isInCollection(batchIds), col("id_b"))
      .when(col("id_a").isInCollection(batchIds), col("id_a"))
    val r = pairs.agg(count(lit(1)), collect_set(drop)).head()
    ScreenDrops(r.getLong(0), r.getSeq[Long](1).toSet)
  }

  /** Conf: when true, ingest screens probe each batch row's TOP-2 coarse
    * cells ([[graft.engine.LopqIndexStore.assignCellsMulti]]) instead of
    * its nearest cell only — the cross-cell option for the screen's
    * inherited SemDeDup same-cell blindness (a near-dup whose jitter
    * flips the argmin across a cell boundary). Strictly more pairs than
    * the single-cell screen (spec-pinned); costs roughly 2× the
    * touched-cell slice. Off by default: the single-cell screen is the
    * published SemDeDup trade, and the measured boundary miss rate at the
    * release grids (PROBES.md r13) is what this flag buys back. */
  val ScreenMultiProbeConf = "spark.graft.screen.multiProbe"

  /** Whether the session opts the ingest screen into multi-probe. */
  def screenMultiProbe(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.get(ScreenMultiProbeConf, "false").toBoolean

  /** Collapse multi-probe pair duplicates: with top-2 probe cells a
    * (batch × batch) pair sharing BOTH cells surfaces once per shared
    * cell — same ids, same cosine, different `cell_id`. One skinny
    * groupBy over O(batch)-bounded pair rows; `cell_id` keeps the smaller
    * cell deterministically. A no-op shape-wise on single-cell pairs. */
  def dedupProbePairs(pairs: DataFrame): DataFrame =
    pairs.groupBy("id_a", "id_b")
      .agg(min(col("cell_id")).as("cell_id"), max(col("cos_sim")).as("cos_sim"))
      .select("id_a", "id_b", "cell_id", "cos_sim")

  /** MULTI-PROBE batch sweep — the OFFLINE counterpart of the conf-gated
    * ingest screen option ([[ScreenMultiProbeConf]]): feed the sweep a
    * TOP-2 assignment (two `(id, cell_id)` rows per vector,
    * [[graft.engine.LopqIndexStore.assignCellsMulti]]) and a pair becomes
    * a candidate whenever the two members share ANY probed cell — exactly
    * the boundary-straddling near-dups the single-cell sweep is blind to
    * (a pair whose jitter flips one member's coarse argmin; the measured
    * miss rate per jitter ε is the `cellmiss` probe's table). The sweep
    * engine is [[semDedupPairs]] VERBATIM — it is already
    * assignment-shaped, so the only additions are the doubled skinny
    * assignment and the pair-level collapse ([[dedupProbePairs]]) for
    * pairs sharing both cells. Strictly a superset of the single-cell
    * pairs (rank-0 cells are [[graft.engine.SlimLopqModel.predictCoarse]]
    * bit-for-bit, spec-pinned).
    *
    * Scale shape: identical to [[semDedupPairs]] with the membership
    * doubled — each vector ships to ≤ 2 cells, so the pair bound grows
    * from Σ|cell|² to ≤ 4× that (in practice far less: second cells
    * scatter). The collapse is one skinny groupBy over pair rows. For a
    * corpus past the one-shot scratch bound, route the top-2 assignment
    * through [[semDedupPairsChunked]] and collapse after concatenation —
    * cells stay whole per chunk, but a both-cells-shared pair can land in
    * two different chunks, so the collapse must run over the union, not
    * per chunk. */
  def semDedupPairsMultiProbe(cellsTop2: DataFrame, vectors: DataFrame,
      idCol: String, vecCol: String,
      simThreshold: Double = NearDupSimThreshold): DataFrame =
    dedupProbePairs(
      semDedupPairs(cellsTop2, vectors, idCol, vecCol, simThreshold))

  /** Cluster-BALANCED deterministic sample — per-cell quota drawn in
    * md5-hash order over a skinny `(id, cell_id)` assignment (the learned
    * clusters as sampling strata: the diversity-sampling step of
    * cluster-curated corpus pipelines, where drawing uniformly would
    * reproduce the corpus' cluster skew and drawing per-cluster flattens
    * it). RNG-free and reproducible like q76's stratified sample, and the
    * same verified-cutoff design — but the strata here are CLUSTERS
    * (millions at release shape, vs a handful of languages), so nothing
    * collects to the driver: per-cell counts stay a DataFrame, the hash
    * cutoff is computed as a column in a skinny join, and the rank window
    * sees only cutoff survivors — O(cells · quota · overshoot) rows,
    * independent of corpus size. The overshoot check (every cell kept
    * ≥ min(quota, count) survivors) is one skinny aggregation per
    * attempt; a failed attempt widens the cutoff 4× (take-all in the
    * limit), so the result is bit-identical to the unbounded window at
    * any hash skew. Returns `(cell_id, id, rk)` with `rk ≤ quota`. */
  def clusterBalancedSample(cells: DataFrame, quota: Int): DataFrame = {
    require(quota >= 1, s"quota must be >= 1, got $quota")
    clusterSampleImpl(cells, lit(quota.toLong))
  }

  /** Cluster-TEMPERED deterministic sample — [[clusterBalancedSample]]
    * with a sub-linear per-cell quota `max(1, ⌊√count⌋)` instead of a
    * constant (q87's floor-of-sqrt temper applied to the LEARNED cells):
    * big clusters are flattened toward the small ones instead of being
    * cut to an identical quota, the semantic-rebalancing draw of
    * cluster-curated corpus pipelines. Floor-of-sqrt is bit-identical
    * across engines (correctly-rounded sqrt on an exact integer), so the
    * whole sample stays hash-gateable. Same verified-cutoff physics:
    * the rank window sees O(Σ min(cnt, overshoot·√cnt)) skinny rows. */
  def clusterTemperedSample(cells: DataFrame): DataFrame =
    clusterSampleImpl(cells,
      greatest(lit(1L), floor(sqrt(col("cnt"))).cast("long")))

  /** Shared engine of the cluster sampling pair: `quotaExpr` is evaluated
    * against the per-cell counts row (`cnt` in scope) — a literal for the
    * balanced draw, `⌊√cnt⌋` for the tempered one. */
  private def clusterSampleImpl(cells: DataFrame, quotaExpr: Column): DataFrame = {
    import graft.functions.TextFunctions.md5Long
    val base = cells
      .select(col("id"), col("cell_id"),
        md5Long(col("id").cast("string")).as("hv"))
      .localCheckpoint() // hash once, scanned by count + filter passes
    val counts = base.groupBy("cell_id").agg(count(lit(1)).as("cnt"))
      .withColumn("q", quotaExpr)
      .localCheckpoint()
    val MaxHv = 1L << 60 // md5Long range: 15 hex chars = 60 bits
    def survivors(os: Long): DataFrame = {
      val cut = counts.select(col("cell_id"), col("q"),
        when(lit(os) * col("q") >= col("cnt"), Long.MaxValue)
          .otherwise(lit(MaxHv) / col("cnt") * (lit(os) * col("q"))).as("cut"))
      base.join(cut, "cell_id").where(col("hv") <= col("cut"))
    }
    val pre = Iterator.iterate(4L)(_ * 4).map(survivors)
      .find { p =>
        // left join from counts: a cell with ZERO survivors must still
        // flag as deficient (an inner join would silently drop it)
        counts
          .join(p.groupBy("cell_id").agg(count(lit(1)).as("got")),
            Seq("cell_id"), "left_outer")
          .where(coalesce(col("got"), lit(0L)) < least(col("q"), col("cnt")))
          .isEmpty
      }.get
    val w = Window.partitionBy("cell_id").orderBy(col("hv"), col("id"))
    pre.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= col("q"))
      .select(col("cell_id"), col("id"), col("rk"))
  }

  /** PROTOTYPICALITY pruning (the SSL-prototypes data-pruning metric,
    * Sorscher et al. 2022, arXiv:2206.14486): score every vector by its
    * L2 distance to its cell's REFINED MEAN — the coarse centroid plus
    * the cluster's mean residual, `C[c] + mu[c]`, i.e. the actual cluster
    * mean the LOPQ model maintains (ref `lopq/lopq/model.py` predict /
    * project) — and KEEP the hardest `keepFrac` of each cell
    * (prototypical examples, the ones the cluster already summarizes,
    * rank last). The model's local rotation is orthogonal so it cannot
    * change a residual's norm: the score needs ONLY the coarse codebooks
    * and residual means — each `[2][V][D/2]`, a few MB even at the
    * release constants — never the `[2][V][D/2][D/2]` rotation tensor,
    * making the operator slim-model servable at any V.
    *
    * Scale shape: two small broadcasts, and the fat vector column never
    * leaves the map side — each row assigns (the encoder's own argmin)
    * and folds its residual locally, emitting skinny
    * `(id, cell_id, residual²)`, so the only shuffle is the per-cell rank
    * window over 24-byte rows (O(n) skinny, never O(n·D)). All residual
    * math is double-precision with a fixed fold order (per-split
    * left-to-right, split sums added 0+1), so the DuckDB oracle
    * hash-matches bit-for-bit; ranking uses the rounded distance (6 dp,
    * ties by id). `pca` pre-applies a PCA front for corpora whose model
    * lives in PCA space (release shapes). Returns every row with
    * `(id, cell_id, proto_dist, rk, keep)`; filter on `keep` to
    * materialize the pruned corpus.
    *
    * Row-at-a-time scoring is deliberate (measured, PROBES.md r12): a
    * 64-row j-major GEMM-style batching of the PCA front REGRESSED ~2× at
    * the v4 deployment width, because the shared read-only P matrix
    * (~8 MB) is already L3-resident across all executor threads in the
    * row-at-a-time pass, while per-batch private diff panels (2 MB/thread
    * re-streamed once per column) evict it; and the bit-exact sequential
    * fold the oracle parity requires forbids the accumulator splitting
    * that would let either form vectorize. At ~80 µs/row (4096→256 front)
    * the pass is one linear scan — executors scale it, don't micro-tile
    * it. */
  def protoPrune(vectors: DataFrame, idCol: String, vecCol: String,
      model: graft.engine.SlimLopqModel, keepFrac: Double,
      pca: Option[graft.engine.LopqPca] = None): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val s = vectors.sparkSession
    import s.implicits._
    val coarseB = s.sparkContext.broadcast(model.coarse)
    val musB = s.sparkContext.broadcast(model.mus)
    val pcaB = s.sparkContext.broadcast(pca)
    val vCount = model.v
    // shared scorer: assignment = the encoder's own argmin (bit-agrees
    // with the persisted codes); the distance re-folds vs C + mu in double
    val score: Seq[Float] => (Long, Double) = { emb =>
      val raw = emb.toArray
      val x = pcaB.value.map(_.apply(raw)).getOrElse(raw)
      val cs = coarseB.value
      val halves = graft.core.VectorOps.splits(x, cs.length)
      var sq = 0.0
      var cell = 0L
      var split = 0
      while (split < cs.length) {
        val ci = graft.core.VectorOps.argminL2(halves(split), cs(split))
        val c = cs(split)(ci)
        val mu = musB.value(split)(ci)
        val h = halves(split)
        var d = 0.0
        var j = 0
        while (j < c.length) {
          val r = h(j).toDouble - c(j).toDouble - mu(j).toDouble
          d += r * r
          j += 1
        }
        sq += d
        cell = cell * vCount + ci
        split += 1
      }
      (cell, sq)
    }
    // the id rides the typed map UNTOUCHED in its own type — a sha1-string
    // corpus (the reference's id everywhere, `imgio/imgio.py:23-39`) keeps
    // string ids in the output instead of silently casting to null
    // (ADVICE r12); anything else fails fast with the fix spelled out
    import org.apache.spark.sql.types._
    val skinny = vectors.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        vectors.select(col(idCol).cast("long"), col(vecCol))
          .as[(Long, Seq[Float])]
          .map { case (id, emb) => val (c, sq) = score(emb); (id, c, sq) }
          .toDF("id", "cell_id", "_sq")
      case StringType =>
        vectors.select(col(idCol), col(vecCol))
          .as[(String, Seq[Float])]
          .map { case (id, emb) => val (c, sq) = score(emb); (id, c, sq) }
          .toDF("id", "cell_id", "_sq")
      case other =>
        throw new IllegalArgumentException(
          s"protoPrune id column '$idCol' has unsupported type $other — " +
            "use an integral or string id (cast or hash it first)")
    }
    val w = Window.partitionBy("cell_id")
      .orderBy(col("proto_dist").desc, col("id"))
    skinny
      .withColumn("proto_dist", round(sqrt(col("_sq")), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("cell_id")))
      .withColumn("keep", col("rk") <= ceil(col("n") * lit(keepFrac)))
      .select("id", "cell_id", "proto_dist", "rk", "keep")
  }

  /** Block size for [[semDedupPairs]]' skewed-cell decomposition. */
  val CellBlockRows = 4096

  /** Conf: target bound on ONE chunk's shuffled bytes in
    * [[semDedupPairsChunked]] — size to the cluster's (machine's) shuffle
    * scratch, not its memory. */
  val SemDedupChunkShuffleMaxBytesConf = "spark.graft.semdedup.chunkShuffleMaxBytes"
  val DefaultSemDedupChunkShuffleMaxBytes: Long = 8L << 30

  private val NumTables = 4  // LSH: L hash tables ...
  private val BitsPerTable = 4 // ... of k sign bits each

  /** Deterministic ±1 hyperplanes, seeded from md5 so they are
    * reproducible and can be inlined as literals into the oracle SQL. */
  private[ops] def hyperplane(table: Int, bit: Int, dim: Int): Array[Double] = {
    val mdi = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      val h = mdi.digest(s"$table:$bit:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1.0 else -1.0
    }
  }

  private def signBit(vec: Column, plane: Array[Double]): Column = {
    val planeLit = array(plane.map(lit): _*)
    when(dotProduct(vec, planeLit) > 0, 1L).otherwise(0L)
  }

  /** LSH bucket id for one table: k sign bits packed into a BIGINT. */
  private def bucketId(vec: Column, table: Int, dim: Int): Column =
    (0 until BitsPerTable).map { b =>
      signBit(vec, hyperplane(table, b, dim)) * lit(1L << b)
    }.reduce(_ + _)

  private def bucketSql(table: Int, dim: Int): String = {
    val bits = (0 until BitsPerTable).map { b =>
      val plane = hyperplane(table, b, dim)
      val terms = plane.zipWithIndex
        .map { case (sgn, i) => s"${if (sgn > 0) "" else "-"}embedding[${i + 1}]::DOUBLE" }
        .mkString(" + ")
      s"(CASE WHEN ($terms) > 0 THEN ${1L << b} ELSE 0 END)"
    }
    bits.mkString(" + ")
  }

  private val Dim = 64 // embeddings table vector width (TESTDATA)

  /** `embeddings` spread across cores — the test table is one parquet file
    * (one row-group → one input split), which would otherwise run every
    * O(n·q) / O(n²) pair loop below on a single core. At 100 TB the
    * embeddings arrive in thousands of splits and this is a no-op. */
  private def emb(s: org.apache.spark.sql.SparkSession, d: String) =
    t(s, d, "embeddings").repartition(col("vec_id"))

  val defs: Seq[QueryDef] = Seq(
    // vector norms — the L2-normalize primitive (ref featsio.py:13-22)
    QueryDef(
      "q30_vector_norms",
      (s, d) =>
        t(s, d, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            round(l2Norm(col("embedding")), 6).as("norm"))
          .orderBy("vec_id"),
      Some(s"""SELECT vec_id, label::BIGINT AS label,
              |  round(sqrt(list_dot_product($dv, $dv)), 6) AS norm
              |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // brute-force exact top-5 cosine neighbors for the first 10 vectors
    // (cross join + per-query ranking — the eval.py oracle shape)
    QueryDef(
      "q31_knn_brute",
      (s, d) => {
        val e = emb(s, d).select("vec_id", "embedding")
        val q = t(s, d, "embeddings").where(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val dist = lit(1.0) - cosineSimilarity(col("q_vec"), col("embedding"))
        val w = Window.partitionBy("q_id").orderBy(col("dist"), col("vec_id"))
        e.join(broadcast(q), col("q_id") =!= col("vec_id"))
          .withColumn("dist", dist)
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 5)
          .select(col("q_id"), col("rank"), col("vec_id").as("n_id"),
            round(col("dist"), 6).as("dist"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH e AS (SELECT vec_id, $dv AS v FROM embeddings)
              |SELECT q_id, rank, n_id, round(dist, 6) AS dist FROM (
              |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
              |    1.0 - (${cosSql("q.v", "n.v")}) AS dist,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY 1.0 - (${cosSql("q.v", "n.v")}), n.vec_id)::BIGINT AS rank
              |  FROM e q JOIN e n ON q.vec_id < 10 AND n.vec_id <> q.vec_id)
              |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
      bench = true),

    // embedding-cosine near-duplicate pairs (exact, all-pairs — correctness
    // baseline for the LSH variant below). Norms are computed once per ROW
    // before the pair join (sqrt(dot(v,v)) per row, not per pair), so the
    // O(n²) inner loop is a single codegen'd dot product per pair. Numerics
    // unchanged: dot/(na*nb) with identical fold order.
    QueryDef(
      "q32_embed_neardup",
      (s, d) => {
        graft.core.AllPairsGuard.check(emb(s, d),
          "q32_embed_neardup (exact all-pairs embedding near-dup)",
          "q33_lsh_neardup (LSH-bucketed twin, identical threshold semantics)")
        val e = emb(s, d)
          .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
        // the broadcast side reads the raw table: routing it through emb()'s
        // core-spreading repartition would shuffle rows just to collect them
        // back into one broadcast relation (r18 — one Exchange removed; the
        // stream side keeps the repartition that spreads the O(n²) loop)
        val eb = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
        val b = eb.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
        val sim = dotProduct(col("va"), col("vb")) / (col("na") * col("nb"))
        a.join(broadcast(b), col("id_a") < col("id_b"))
          .where(sim >= NearDupSim)
          .select(col("id_a"), col("id_b"), round(sim, 6).as("cos_sim"))
          .orderBy("id_a", "id_b")
      },
      Some(nearDupPairsOracleSql),
      bench = true),

    // LSH-bucketed near-dup candidates: L=4 sign-hash tables of k=4 bits;
    // pairs colliding in ANY table, then exact verification. Deterministic
    // hyperplanes → full oracle parity. At 100 TB this replaces the cross
    // join with L shuffle-bounded equi-joins on (table, bucket).
    QueryDef(
      "q33_lsh_neardup",
      (s, d) => {
        val e = emb(s, d).select("vec_id", "embedding")
        val bucketStructs = array((0 until NumTables).map { tb =>
          struct(lit(tb.toLong).as("tbl"), bucketId(col("embedding"), tb, Dim).as("bucket"))
        }: _*)
        // bucket table = index artifact, materialized once (see q25 note)
        val buckets = e.select(col("vec_id"), explode(bucketStructs).as("bb"))
          .select(col("vec_id"), col("bb.tbl").as("tbl"), col("bb.bucket").as("bucket"))
          .localCheckpoint()
        val cand = buckets.as("x")
          .join(buckets.as("y"),
            col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket")
              && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
          .distinct()
        val en = e.withColumn("nrm", l2Norm(col("embedding")))
        val a = en.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
        val b = en.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
        val sim = dotProduct(col("va"), col("vb")) / (col("na") * col("nb"))
        cand.join(a, "id_a").join(b, "id_b")
          .where(sim >= NearDupSim)
          .select(col("id_a"), col("id_b"), round(sim, 6).as("cos_sim"))
          .orderBy("id_a", "id_b")
      },
      Some {
        val bucketSelects = (0 until NumTables).map { tb =>
          s"SELECT vec_id, ${tb}::BIGINT AS tbl, (${bucketSql(tb, Dim)})::BIGINT AS bucket FROM embeddings"
        }.mkString(" UNION ALL ")
        s"""WITH e AS (SELECT vec_id, $dv AS v FROM embeddings),
           |buckets AS ($bucketSelects),
           |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
           |         FROM buckets x JOIN buckets y
           |           ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
           |SELECT id_a, id_b, round(${cosSql("a.v", "b.v")}, 6) AS cos_sim
           |FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b
           |WHERE ${cosSql("a.v", "b.v")} >= $NearDupSim
           |ORDER BY id_a, id_b""".stripMargin
      },
      bench = true)
  )
}
