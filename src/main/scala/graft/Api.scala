package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{AnnIndex, AnnIndexes}
import graft.ops.{EngineOps, Extract, Tables}

/** The reference's REST facade as a library API (ref `api/api.py:145-189`
  * Search endpoints, `:307-384` refresh): `searchByIds` / `searchByVectors`
  * against a pluggable [[graft.engine.AnnIndex]], responses shaped to one
  * camelCase JSON document per query (ref `searcher/output_mapping.py`),
  * `refresh` reloading the persisted index.
  *
  * A user of the reference's `/byIds?data=...&options={}` round-trip gets
  * the same information here as DataFrame rows `(q_id, response)` — the
  * HTTP layer is deliberately out of scope (SURVEY descopes the request
  * layer), but every piece of query semantics behind it is present.
  */
final class GraftApi(spark: SparkSession, sfDir: String,
    searcherName: String = "lopq") {

  graft.core.SessionDefaults(spark) // engine scan defaults on the caller's session

  private def vectors: DataFrame = Tables(spark, sfDir, "embeddings")

  /** Conf-driven searcher selection, like the reference's `get_searcher`
    * registry dispatch. `lopq` and `lopq_slim` run the same serve plan over
    * the SAME persisted index; `lopq_slim` reads rotation slices per query
    * instead of holding the tensor (the release-magnitude path). */
  private def searcher: AnnIndex = searcherName match {
    case "lopq" =>
      AnnIndexes.lopq(EngineOps.index(spark, sfDir), vectors, "vec_id", "embedding")
    case "lopq_slim" =>
      EngineOps.index(spark, sfDir) // ensure built + persisted
      AnnIndexes.lopqSlim(EngineOps.slimIndex(spark, sfDir), vectors, "vec_id", "embedding")
    case "brute" => AnnIndexes.brute(vectors, "vec_id", "embedding")
    case other => throw new IllegalArgumentException(s"unknown searcher: $other")
  }

  /** Top-k per query vector, shaped: one row `(q_id, response)` with
    * `response` = `{"queryId":…,"similarIds":[…],"distancesMicro":[…]}`
    * (distances in integer micro-units so the text is engine-portable). */
  def searchByVectors(queries: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    val idx = searcher
    val ranked = queries.map { case (qid, v) =>
      idx.search(v, k).select(lit(qid).as("q_id"), col("id").as("n_id"),
        floor(col("dist") * 1e6 + lit(0.5)).cast("long").as("micro"))
    }.reduce(_.unionAll(_))
    ranked
      .groupBy("q_id")
      .agg(sort_array(collect_list(struct(col("micro"), col("n_id")))).as("arr"))
      .select(col("q_id"), to_json(struct(
        col("q_id").as("queryId"),
        transform(col("arr"), x => x.getField("n_id")).as("similarIds"),
        transform(col("arr"), x => x.getField("micro")).as("distancesMicro"))).as("response"))
      .orderBy("q_id")
  }

  /** Set-oriented BULK twin of [[searchByVectors]] (the reference can only
    * loop its REST endpoint client-side — its own bulk evaluator is a
    * Python loop, `lopq/lopq/eval.py:7-38`): the probe set arrives as a
    * DataFrame `(q_id, vector)` and the whole batch is answered through ONE
    * [[graft.engine.LopqSearcher.annJoin]] plan against the slim index
    * handle — per-query results bit-identical to the per-query path
    * (AnnJoinSpec), responses shaped exactly like [[searchByVectors]].
    * Amortized cost is the point: ~3 ms/query at the 1000-probe release
    * shape vs ~0.35 s/query looped (`annjoin_release_v2` bench row). */
  def searchBulk(queries: DataFrame, qIdCol: String, vecCol: String, k: Int,
      quota: Int = 200, rerankK: Int = 50): DataFrame = {
    EngineOps.index(spark, sfDir) // ensure built + persisted
    graft.engine.LopqSearcher.annJoin(EngineOps.slimIndex(spark, sfDir), queries, qIdCol, vecCol,
        vectors, "vec_id", "embedding", quota, k, rerankK)
      .select(col("q_id"), col("rank"), col("id").as("n_id"),
        floor(col("exact_dist") * 1e6 + lit(0.5)).cast("long").as("micro"))
      .groupBy("q_id")
      .agg(sort_array(collect_list(struct(col("rank"), col("n_id"), col("micro")))).as("arr"))
      .select(col("q_id"), to_json(struct(
        col("q_id").as("queryId"),
        transform(col("arr"), x => x.getField("n_id")).as("similarIds"),
        transform(col("arr"), x => x.getField("micro")).as("distancesMicro"))).as("response"))
      .orderBy("q_id")
  }

  /** Ids → vectors lookup join, then vector search (the `/byIds` path:
    * ref `api/api.py:273-282` + `get_columns_from_sha1_rows`). Unknown ids
    * are silently absent from the result, like the reference's positional
    * repair tolerating missing rows. */
  def searchByIds(ids: Seq[Long], k: Int): DataFrame = {
    val found = vectors.where(col("vec_id").isin(ids: _*))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
    searchByVectors(found, k)
  }

  /** The reference's flagship similarity query, end to end (SURVEY §3.1,
    * `/byURL`/`/byB64`: fetch → detect → featurize → search —
    * `api/api.py:145-189`, `generic_extractor.py:221-255`,
    * `searcher_lopqhbase.py:838-912`): raw image payloads in, ranked
    * nearest corpus DETECTIONS out. Each payload runs the pluggable §2.10
    * detector/featurizer (honest stubs in this sandbox — a real CNN plugs
    * in through the same traits); its top-scoring detection's feature
    * probes the corpus's extracted detection features exactly (brute over
    * the stub's small dim — the indexed ANN serve paths are
    * [[searchByVectors]]/[[searchBulk]]); neighbors from the query's own
    * image are skipped like the reference skipping the query sha1.
    *
    * Rows: `(q_id, rank, n_id, n_det, micro)` — micro-unit squared-L2 over
    * features rounded to 6 decimals, so the math is engine-portable (the
    * stub emits exact thousandths; rounding both engines to 6 decimals
    * lands them on the same doubles).
    *
    * Scale shape: the probe batch is broadcast, the corpus streams through
    * ONE pass, per-query top-k is a window on `q_id` — no shuffle of the
    * corpus itself. A large probe batch should ride [[searchBulk]]'s
    * indexed `annJoin` instead of this exact scan. */
  def searchByImages(images: Seq[(Long, Array[Byte])], k: Int): DataFrame = {
    import spark.implicits._
    def rf(c: Column, i: Int): Column = round(element_at(c, i), 6)
    val corpus = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
    val cfeat = Extract.extract(corpus, Extract.StubDetector, Extract.StubFeaturizer)
      .select(col("doc_id").as("n_id"), col("det_idx").as("n_det"),
        rf(col("feature"), 1).as("c0"), rf(col("feature"), 2).as("c1"),
        rf(col("feature"), 3).as("c2"))
    val top1 = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("det_idx"))
    val qfeat = Extract.extract(spark.createDataset(images),
        Extract.StubDetector, Extract.StubFeaturizer)
      .withColumn("__rn", row_number().over(top1)).where(col("__rn") === 1)
      .select(col("doc_id").as("q_id"),
        rf(col("feature"), 1).as("q0"), rf(col("feature"), 2).as("q1"),
        rf(col("feature"), 3).as("q2"))
    val d2 = (col("q0") - col("c0")) * (col("q0") - col("c0")) +
      (col("q1") - col("c1")) * (col("q1") - col("c1")) +
      (col("q2") - col("c2")) * (col("q2") - col("c2"))
    val rw = Window.partitionBy("q_id")
      .orderBy(col("d2"), col("n_id"), col("n_det"))
    cfeat.join(broadcast(qfeat), col("n_id") =!= col("q_id"))
      .withColumn("d2", d2)
      .withColumn("rank", row_number().over(rw).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("n_det"),
        floor(col("d2") * 1e6 + lit(0.5)).cast("long").as("micro"))
      .orderBy("q_id", "rank")
  }

  /** Reload the persisted index (codes appended since the manifest
    * high-watermark become visible). Ref `api/api.py:307-384`. */
  def refresh(): Unit = EngineOps.refreshIndex(spark, sfDir)

  /** Corpus SELF-dedup as a one-call facade (the reference runs the same
    * pass id-batched client-side, `updater/extraction_checker.py:225-258`):
    * every corpus vector probes the persisted index through the CHUNKED
    * batched ANN join ([[graft.engine.LopqSearcher.annJoinChunked]]), each
    * chunk's candidates are cosine-verified against the raw vectors, and
    * `outDir` receives one parquet append per chunk — so the in-flight
    * footprint is ONE chunk's pairs regardless of corpus size, and every
    * chunk runs the broadcast-probe exact stage instead of the fat-row
    * shuffle a one-shot over-bound batch would fall into (the 2M × 4096-d
    * deployment shape; see PROBES.md r12). Returns the deduplicated
    * canonical pair set `(id_a < id_b, cos_sim)` read back from `outDir`
    * (a pair found from both endpoints in different chunks appears once).
    *
    * Defaults are the PRODUCTION bounds (bounded pool + bounded prefix —
    * recall measured in PROBES.md), not q73's exactness gate; pass
    * `quota`/`rerankK` up to the corpus size to reproduce the oracle.
    * `chunkRows` = 0 sizes the chunks from the session's memory budget. */
  def dedupCorpus(outDir: String, quota: Int = 1000, k: Int = 10,
      rerankK: Int = 128,
      simThreshold: Double = graft.ops.VectorQueries.NearDupSimThreshold,
      chunkRows: Long = 0L): DataFrame = {
    EngineOps.index(spark, sfDir) // ensure built + persisted
    val slim = EngineOps.slimIndex(spark, sfDir)
    val e = vectors
    val queries = e.select(col("vec_id").as("q_id"), col("embedding"))
    graft.engine.LopqSearcher.annJoinChunked(slim, queries, "q_id", "embedding",
        e, "vec_id", "embedding", quota, k, rerankK, chunkRows) { (df, c) =>
      EngineOps.verifiedDedupPairs(e, df, simThreshold)
        .write.mode(if (c == 0) "overwrite" else "append").parquet(outDir)
    }
    spark.read.parquet(outDir).distinct().orderBy("id_a", "id_b")
  }

  /** SEMANTIC corpus self-dedup as a one-call facade (SemDeDup, Abbas et
    * al. 2023): the persisted LOPQ coarse cells partition the embedding
    * space, near-dup pairs are swept within each cell only
    * ([[graft.ops.VectorQueries.semDedupPairs]] — skinny-codes
    * multi-member prune, skew-proof block pairs), components collapse to
    * their minimum member, and the cleaned corpus comes back minus the
    * non-canonical members (the q95 semantics; survivors keep every
    * original column). Unlike [[dedupCorpus]] this pays no per-probe ANN
    * search — the index's own cell assignment IS the candidate
    * generator — so it is the cheap first pass of a dedup pipeline, with
    * the ANN-join pass as the cross-cell follow-up.
    *
    * `multiProbe` sweeps over each vector's TOP-2 coarse cells
    * ([[graft.ops.VectorQueries.semDedupPairsMultiProbe]]'s assignment)
    * instead of its nearest only — catching boundary-straddling pairs at
    * ≤ 4× the pair bound (the measured per-ε miss rate this buys back is
    * PROBES.md r13's `cellmiss` table). Duplicate edges from pairs
    * sharing both cells are harmless here: the component collapse is
    * edge-set idempotent, so no pair-level dedup pass is needed. The
    * multi-probe survivor set is always a SUBSET of the single-cell one
    * (more edges only ever merge components; a loser stays a loser —
    * spec-pinned).
    *
    * Fails fast when the one-shot sweep would exceed the session's
    * scratch bound ([[graft.ops.VectorQueries.semDedupChunkCount]] > 1 at
    * this corpus size × model width): the one-shot id-attach alone
    * shuffle-writes the whole fat vector table at deployment width (the
    * measured ENOSPC of PROBES.md r12), and the facade already knows all
    * the driver-side quantities needed to predict it — so it refuses and
    * names the chunked route instead of dying mid-shuffle (VERDICT r13). */
  def semDedupCorpus(
      simThreshold: Double = graft.ops.VectorQueries.NearDupSimThreshold,
      multiProbe: Boolean = false): DataFrame = {
    val h = EngineOps.index(spark, sfDir)
    val e = vectors
    // gate BEFORE building the assignment (VERDICT r14 "what's wrong
    // #1"): the multi-probe assignment is a full-corpus ENCODE (PCA
    // front + top-P frontier walk per row, minutes at deployment width),
    // and a user who will be refused must not pay it first. The
    // assignment emits ≤ P rows per vector, so corpus-count × P bounds
    // the member rows from driver-known quantities alone (chunk sizing
    // is conservative, so an over-estimate can only refuse earlier —
    // never admit a sweep the real count would refuse).
    if (multiProbe)
      requireOneShotFits(
        e.count() * graft.engine.LopqIndexStore.multiProbeCells(spark),
        h.model.dim)
    val cells = dedupCells(h, multiProbe, e)
    if (!multiProbe) requireOneShotFits(cells.count(), h.model.dim)
    val edges = graft.ops.VectorQueries
      .semDedupPairs(cells, e, "vec_id", "embedding", simThreshold)
      .select("id_a", "id_b").localCheckpoint()
    val losers = graft.ops.TextOps.minLabelComponents(edges)
      .where(col("id") =!= col("comp")).select(col("id").as("vec_id"))
    graft.ops.TextOps.antiJoinIds(e, "vec_id", losers)
  }

  /** The one-shot guard shared by [[semDedupCorpus]] and (through it)
    * [[curateCorpus]]'s default route. */
  private def requireOneShotFits(memberRows: Long, dim: Int): Unit = {
    val n = graft.ops.VectorQueries.semDedupChunkCount(memberRows, dim, spark)
    require(n == 1,
      s"one-shot SemDeDup sweep over $memberRows assignment rows × ${dim}-d " +
        s"would need $n scratch-bounded chunks " +
        s"(${graft.ops.VectorQueries.SemDedupChunkShuffleMaxBytesConf}) — " +
        "route through semDedupCorpusChunked(outDir, …) or " +
        "curateCorpus(outDir = Some(…)) so each cell group drains to " +
        "parquet with one chunk's scratch in flight (PROBES.md r12/r13)")
  }

  /** The sweep's skinny assignment: the persisted codes (single-cell, the
    * published SemDeDup trade) or the model's top-P probe cells. */
  private def dedupCells(h: graft.engine.LopqIndex, multiProbe: Boolean,
      e: DataFrame): DataFrame = {
    if (multiProbe)
      // pin the encoded assignment: unlike the persisted codes this is a
      // full-corpus ENCODE (PCA front + coarse argmin per row), and the
      // sweep scans the skinny assignment more than once (per chunk, in
      // the chunked driver) — without the pin each scan re-encodes the
      // fat corpus
      graft.engine.LopqIndexStore.assignCellsMulti(spark, h.dir, e,
        "vec_id", "embedding").localCheckpoint()
    else
      h.codes.select(col("id"),
        (col("coarse0").cast("long") * h.model.v + col("coarse1")).as("cell_id"))
  }

  /** [[semDedupCorpus]] with the sweep CHUNKED by cell group
    * ([[graft.ops.VectorQueries.semDedupPairsChunked]]) — the
    * scratch-bounded production driver for a corpus whose one-shot
    * within-cell sweep out-shuffles the available spill space (the
    * 2M × 4096-d deployment width measured in PROBES.md r12). Each
    * chunk's pairs append to `outDir` (in-flight footprint = one cell
    * group), then components collapse and losers anti-join out exactly
    * as in the one-shot facade. `nChunks = 0` sizes chunks from
    * driver-known quantities (corpus row count × model width vs the
    * [[graft.ops.VectorQueries.SemDedupChunkShuffleMaxBytesConf]]
    * scratch bound). Chunk composition cannot change the pair set (cells
    * are whole within a chunk), so the result equals [[semDedupCorpus]]'s
    * row-for-row. With `multiProbe` a both-cells-shared pair can drain
    * from two different chunks — a duplicate edge in `outDir`, harmless
    * to the component collapse (same reasoning as the one-shot facade);
    * the doubled assignment also roughly doubles `memberRows`, so the
    * auto chunk count sizes off the actual assignment row count.
    *
    * `resume` (VERDICT r14 next-round #6, the probe's restart lever
    * promoted to the library): a crashed POST-sweep stage should not
    * re-pay the chunked sweep — nor, with `multiProbe`, the full-corpus
    * top-P encode feeding it. The drain is complete only when the
    * `_DRAINED` sentinel exists (written after the LAST chunk; parquet's
    * own `_SUCCESS` is rewritten by every per-chunk append, so it cannot
    * distinguish a full drain from a mid-sweep crash — resuming on it
    * would silently reuse a partial pair set). With the sentinel present
    * the sweep AND the assignment encode are skipped and `outDir`'s
    * pairs feed the collapse directly; absent (mid-sweep crash), the
    * sweep re-runs from scratch — chunk 0's overwrite wipes any partial
    * remains, so every crash window self-heals. */
  def semDedupCorpusChunked(outDir: String,
      simThreshold: Double = graft.ops.VectorQueries.NearDupSimThreshold,
      nChunks: Int = 0, multiProbe: Boolean = false,
      resume: Boolean = false): DataFrame = {
    val e = vectors
    val drained = new org.apache.hadoop.fs.Path(s"$outDir/_DRAINED")
    val fs = drained.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The sentinel carries the drain's OPERATING POINT (ADVICE r15): a
    // bare marker would let resume silently reuse pairs drained at a
    // different simThreshold/multiProbe — or from a different corpus
    // pointed at the same outDir — producing a wrong survivor set with
    // no error (the silent-stale-reuse class the Scaladoc above rejects
    // _SUCCESS for). Corpus identity = row count PLUS the id range
    // (ADVICE r16: a bare count is a weak fingerprint — a same-
    // cardinality content swap would resume silently against stale
    // pairs; count+min+max catches any swap that touches the id space,
    // for the same single skinny agg job). Computed at most once per
    // call, whichever branch needs it; validation mirrors
    // [[graft.ops.TextSigStore.requireParams]]: fail fast, name the fix.
    lazy val corpusFp: String = {
      val r = e.agg(count(lit(1)), min(col("vec_id")), max(col("vec_id"))).head()
      s"${r.get(0)}\n${r.get(1)}\n${r.get(2)}"
    }
    def stamp() = s"$simThreshold\n$multiProbe\n$corpusFp\n"
    if (resume && fs.exists(drained)) {
      val in = fs.open(drained)
      val got = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      // a bare or short sentinel is an older stamp format (pre-r15 bare /
      // r16 count-only), not a mismatched operating point — name the
      // actual situation and its fix
      require(got.trim.split("\n").length >= 5,
        s"the _DRAINED sentinel at $outDir is an older stamp format, so " +
          "this resume cannot verify the pairs match the requested " +
          "simThreshold/multiProbe/corpus — re-drain with resume=false " +
          "(or delete the outDir) once; the new sentinel will carry the " +
          "full fingerprint")
      val want = stamp()
      require(got == want,
        s"drained pairs at $outDir were produced at a different operating " +
          s"point (stored [${got.trim.replace("\n", "/")}] vs requested " +
          s"[${want.trim.replace("\n", "/")}] = simThreshold/multiProbe/" +
          "corpusRows/minId/maxId) — resuming would silently reuse a " +
          "wrong pair set; re-drain with resume=false or delete the outDir")
      System.err.println(
        s"[graft] semDedupCorpusChunked: resuming a completed drain at $outDir")
    } else {
      val h = EngineOps.index(spark, sfDir) // one handle for cells AND sizing
      val cells = dedupCells(h, multiProbe, e)
      val n = if (nChunks > 0) nChunks
        else graft.ops.VectorQueries.semDedupChunkCount(
          cells.count(), h.model.dim, spark)
      if (fs.exists(drained)) fs.delete(drained, false) // stale: re-draining
      graft.ops.VectorQueries.semDedupPairsChunked(cells, e, "vec_id",
          "embedding", simThreshold, n) { (df, c) =>
        df.select("id_a", "id_b")
          .write.mode(if (c == 0) "overwrite" else "append").parquet(outDir)
      }
      val out = fs.create(drained, true)
      try out.write(stamp().getBytes("UTF-8")) finally out.close()
    }
    val edges = spark.read.parquet(outDir)
    val losers = graft.ops.TextOps.minLabelComponents(edges)
      .where(col("id") =!= col("comp")).select(col("id").as("vec_id"))
    graft.ops.TextOps.antiJoinIds(e, "vec_id", losers)
  }

  /** INGEST SCREENING — the nightly-ingest semantic-dedup check as one
    * call (ref `updater/extraction_checker.py:225-258`'s
    * check-new-against-indexed loop): a NEW batch `(idCol, vecCol)` is
    * assigned to the index's coarse cells with its persisted model and
    * swept against the indexed corpus within the cells the batch touches
    * only — the same screen [[graft.ops.IngestOps.screenAndAppend]] and
    * [[graft.streaming.ScreenedIngest]] run
    * ([[graft.ops.IngestOps.screenPairs]]). Returns every (batch × corpus)
    * and (batch × batch) same-cell pair at `simThreshold` — which new
    * vectors near-duplicate something already present — WITHOUT
    * re-sweeping corpus × corpus and without a per-probe ANN search.
    *
    * Work is O(|batch| · avg_cell · D): the corpus contributes one skinny
    * codes scan plus a map-side-filtered single pass of its vector table
    * (nothing corpus-sized shuffles). Contract: batch ids are disjoint
    * from corpus ids, batch vectors live in the model's input space, and
    * the batch is bounded (its touched-member slice must broadcast). The
    * typical follow-up is to drop the flagged batch rows, then
    * [[graft.engine.LopqIndexStore.appendUpdate]] the survivors. */
  def semDedupIncrement(batch: DataFrame, idCol: String, vecCol: String,
      simThreshold: Double = graft.ops.VectorQueries.NearDupSimThreshold)
      : DataFrame =
    graft.ops.IngestOps.screenPairs(spark, EngineOps.index(spark, sfDir).dir,
      vectors.select(col("vec_id").as(idCol), col("embedding").as(vecCol)),
      batch.select(idCol, vecCol), idCol, vecCol, simThreshold)

  /** [[semDedupIncrement]] resolved to the rows a screened ingest would
    * KEEP: the batch minus everything the conservative-prefix rule drops
    * (a row whose content near-duplicates any indexed row, or any
    * smaller-id row of its own batch — [[graft.ops.VectorQueries
    * .screenDrops]]). Pure — nothing is appended; hand the result to
    * [[graft.ops.IngestOps.screenAndAppend]] (or run the whole cycle
    * through it / [[graft.streaming.ScreenedIngest]]) to mutate an index
    * you own. */
  def screenBatch(batch: DataFrame, idCol: String, vecCol: String,
      simThreshold: Double = graft.ops.VectorQueries.NearDupSimThreshold)
      : DataFrame = {
    val ids = batch.select(col(idCol).cast("long")).collect().map(_.getLong(0)).toSet
    graft.ops.VectorQueries.screenDrops(
      semDedupIncrement(batch, idCol, vecCol, simThreshold), ids).survivors(batch, idCol)
  }

  /** Cluster-BALANCED deterministic sample over the indexed corpus — a
    * per-cell quota drawn in md5-hash order with the persisted coarse
    * cells as strata ([[graft.ops.VectorQueries.clusterBalancedSample]]),
    * the diversity-sampling step of a cluster-curated pipeline
    * (reproducible, RNG-free; re-running with a larger quota EXTENDS the
    * sample — earlier draws keep their ranks). Returns
    * `(cell_id, id, rk ≤ quota)`. */
  def clusterSample(quota: Int): DataFrame = {
    val h = EngineOps.index(spark, sfDir)
    val cells = h.codes.select(col("id"),
      col("cell_id").cast("long").as("cell_id"))
    graft.ops.VectorQueries.clusterBalancedSample(cells, quota)
  }

  /** [[clusterSample]] with the sub-linear `max(1, ⌊√count⌋)` per-cell
    * quota — flattens cluster skew instead of cutting every cell to the
    * same size ([[graft.ops.VectorQueries.clusterTemperedSample]]). */
  def clusterSampleTempered(): DataFrame = {
    val h = EngineOps.index(spark, sfDir)
    val cells = h.codes.select(col("id"),
      col("cell_id").cast("long").as("cell_id"))
    graft.ops.VectorQueries.clusterTemperedSample(cells)
  }

  /** The SEMANTIC-CURATION pipeline as one call: [[semDedupCorpus]]'s
    * near-dup survivors → [[protoPrune]]'s keep-hardest cut →
    * [[clusterSampleTempered]]'s skew-flattening draw, returning the
    * curated manifest `(cell_id, id, rk, proto_dist)` (the q103
    * composition — join back to the corpus on id for the rows).
    *
    * `outDir` routes the pair sweep through the CHUNKED driver
    * ([[semDedupCorpusChunked]]: per-cell-group parquet drains, in-flight
    * footprint one chunk, `nChunks = 0` auto-sized from driver-known
    * member count × width) — REQUIRED at deployment width, where the
    * one-shot sweep's id-attach alone shuffle-writes the whole fat vector
    * table (the measured scratch-killer at 2M × 4096-d, PROBES.md r12
    * "CHUNKED corpus-self-dedup past the matrix bound"). Without `outDir`
    * the one-shot sweep runs at gate scale and FAILS FAST past the
    * scratch bound ([[semDedupCorpus]]'s guard names this parameter).
    * Chunk assignment cannot change the pair set (cells are whole within
    * a chunk), so the two routes compose identically (spec-pinned).
    * `multiProbe` routes the dedup stage over top-2 probe cells
    * (see [[semDedupCorpus]]) — the downstream prune and draw are
    * unchanged, they just see the (smaller) multi-probe survivor set.
    * `resume` (chunked route only) reuses a COMPLETED pair drain at
    * `outDir` instead of re-sweeping — see [[semDedupCorpusChunked]]'s
    * `_DRAINED` sentinel contract. */
  def curateCorpus(keepFrac: Double = 0.7,
      simThreshold: Double = graft.ops.VectorQueries.NearDupSimThreshold,
      outDir: Option[String] = None, nChunks: Int = 0,
      multiProbe: Boolean = false, resume: Boolean = false): DataFrame = {
    require(!resume || outDir.isDefined,
      "curateCorpus(resume = true) needs outDir — only the chunked drain " +
        "persists a resumable pair set")
    val surv = outDir match {
      case Some(dir) => semDedupCorpusChunked(dir, simThreshold, nChunks,
        multiProbe, resume)
      case None => semDedupCorpus(simThreshold, multiProbe)
    }
    val h = EngineOps.index(spark, sfDir)
    val kept = graft.ops.VectorQueries.protoPrune(surv, "vec_id",
        "embedding", h.model.slim, keepFrac, h.pca)
      .where(col("keep"))
      .select(col("id"), col("cell_id"), col("proto_dist"))
      .localCheckpoint()
    graft.ops.VectorQueries.clusterTemperedSample(kept.select("id", "cell_id"))
      .join(kept.select(col("id"), col("proto_dist")), "id")
      .select(col("cell_id"), col("id"), col("rk"), col("proto_dist"))
  }

  /** PROTOTYPICALITY pruning over the indexed corpus (SSL-prototypes,
    * Sorscher et al. 2022): every vector scored by residual norm in the
    * model's locally-projected space and ranked within its coarse cell —
    * `keep` marks the hardest `keepFrac` of each cell
    * ([[graft.ops.VectorQueries.protoPrune]]). Filter on `keep` to
    * materialize the pruned corpus. */
  def protoPrune(keepFrac: Double): DataFrame = {
    // thread the handle's PCA front through (a PCA-fronted index scored on
    // raw vectors would rank garbage — ADVICE r12; EngineOps.index builds
    // pca=None today, so this is armor, not a behavior change)
    val h = EngineOps.index(spark, sfDir)
    graft.ops.VectorQueries.protoPrune(vectors, "vec_id", "embedding",
      h.model.slim, keepFrac, h.pca)
  }
}
