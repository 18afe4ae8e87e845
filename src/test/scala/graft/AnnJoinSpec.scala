package graft

import org.apache.spark.sql.functions._

import graft.core.MemoryBudget
import graft.engine.{AnnJoinPlan, LopqIndexStore, LopqParams, LopqSearcher, LopqTrainer}
import graft.engine.AnnJoinPlan.{Exact, Rerank, Ship}
import graft.ops.Tables

/** The set-oriented ANN similarity join must be (a) per-query BIT-IDENTICAL
  * to looping the per-query slim search, and (b) O(1) Spark jobs in the
  * query count — the whole point is that a million-probe dedup pass is one
  * plan, not a driver loop (VERDICT r6 "What's missing #1"). */
class AnnJoinSpec extends SparkSpec {

  private val p = LopqParams(v = 8, m = 4, subClusters = 16, seed = 42L, kmeansMaxIter = 10)
  private val dir = "/root/repo/target/graft-index-test/annjoin"
  private val Quota = 200
  private val TopK = 10
  private val RerankK = 50

  private def deleteDir(d: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(d)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  private lazy val built = {
    graft.functions.GraftFunctions.register(spark)
    deleteDir(dir)
    val e = Tables(spark, sf, "embeddings")
    val model = LopqTrainer.train(e, "embedding", p)
    val codes = LopqSearcher.encode(e, "vec_id", "embedding", model)
    LopqIndexStore.build(spark, dir, model, None, codes, p, n = 500, dim = 64)
    LopqIndexStore.loadSlim(spark, dir).get
  }

  private type Rows = Seq[(Long, Long, Long, Double, Double)]

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Rows =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2)).toSeq

  private def queriesOf(nQueries: Int) =
    Tables(spark, sf, "embeddings").where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding"))

  private def joinResults(nQueries: Int): Rows =
    rowsOf(LopqSearcher.annJoin(built, queriesOf(nQueries), "q_id", "embedding",
      Tables(spark, sf, "embeddings"), "vec_id", "embedding", Quota, TopK, RerankK))

  /** B at the test session's (default 1g) `spark.driver.maxResultSize`. */
  private val DefaultBudget = 512L << 20

  /** One planned join over the first `nQueries` embeddings: its rows, its
    * plan and its executed plan's text. */
  private def planned(nQueries: Int, budget: Long = DefaultBudget,
      force: AnnJoinPlan => AnnJoinPlan = identity): (Rows, AnnJoinPlan, String) = {
    val (df, plan) = LopqSearcher.annJoinPlanned(built, queriesOf(nQueries), "q_id",
      "embedding", Tables(spark, sf, "embeddings"), "vec_id", "embedding",
      Quota, TopK, RerankK, budget, force)
    (rowsOf(df), plan, df.queryExecution.executedPlan.toString)
  }

  /** Spark jobs started while `body` runs, counted by a listener. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.sql.graft.GraftBridge
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      GraftBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  test("batched join ≡ looping the per-query slim search, bit-identical") {
    val slim = built
    val e = Tables(spark, sf, "embeddings")
    val nQueries = 7
    val perQuery = (0L until nQueries.toLong).flatMap { qid =>
      val qv = e.where(col("vec_id") === qid).select("embedding")
        .head().getSeq[Float](0).toArray
      LopqSearcher.searchSlim(slim, e, "vec_id", "embedding", qv, Quota, TopK, RerankK)
        .collect().zipWithIndex
        .map { case (r, i) =>
          (qid, (i + 1).toLong, r.getLong(0), r.getDouble(1), r.getDouble(2))
        }
    }.sortBy(t => (t._1, t._2))
    assert(joinResults(nQueries) === perQuery)
  }

  test("the native helpers run on a session that never registered them") {
    val slim = built
    // newSession() starts from the builtin function registry: no graft_*
    val fresh = spark.newSession()
    assert(!fresh.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_l2sq")))
    val qv = Tables(spark, sf, "embeddings").where(col("vec_id") === 3L)
      .select("embedding").head().getSeq[Float](0).toArray
    def hits(s: org.apache.spark.sql.SparkSession,
        idx: graft.engine.LopqSlimIndex) =
      LopqSearcher.searchSlim(idx, s.read.parquet(s"$sf/embeddings.parquet"),
        "vec_id", "embedding", qv, Quota, TopK, RerankK).collect().toSeq
    val viaFresh = hits(fresh, LopqIndexStore.loadSlim(fresh, dir).get)
    assert(viaFresh.length === TopK && viaFresh.head.getLong(0) === 3L)
    assert(viaFresh === hits(spark, slim))
    import graft.functions.TextFunctions
    val sigs = fresh.read.parquet(s"$sf/documents.parquet").limit(20)
      .select(TextFunctions.minhashFromHashes(
        TextFunctions.distinctShingleHashes(col("text"), 3), 16))
      .collect()
    assert(sigs.length === 20 && sigs.forall(_.getSeq[Long](0).length === 16))
  }

  test("job count does not scale with the query count") {
    built
    def jobsFor(nQueries: Int, group: String): Int = {
      spark.sparkContext.setJobGroup(group, s"annJoin $nQueries queries")
      try {
        val rows = joinResults(nQueries)
        assert(rows.nonEmpty)
        spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      } finally spark.sparkContext.clearJobGroup()
    }
    val jobsSmall = jobsFor(3, "annjoin-small")
    val jobsBig = jobsFor(60, "annjoin-big")
    // the fixed stages: cell-union agg, slice fetch (≤1), final collect
    // (plus AQE-split result stages) — and NOTHING per query
    assert(jobsBig <= jobsSmall + 2,
      s"jobs grew with the query count: $jobsSmall → $jobsBig")
    // 11 as of r9: the fan-out-balancing round-robin repartition of the
    // pruned codes adds one fixed AQE stage — still O(1) in the query count
    assert(jobsBig <= 12, s"expected a handful of jobs, got $jobsBig")
  }

  test("the codes scan is pruned by the batch's visited-cell union") {
    val slim = built
    val e = Tables(spark, sf, "embeddings")
    val queries = e.where(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val df = LopqSearcher.annJoin(slim, queries, "q_id", "embedding",
      e, "vec_id", "embedding", quota = 20, k = TopK, rerankK = RerankK)
    df.collect()
    // the partition filter over cell_id must reach the codes scan
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("cell_id"), plan.take(3000))
  }

  /** Total shuffle write through an executed plan, descending through AQE
    * wrappers (same traversal problem as [[SparkSpec.fileScans]]). */
  private def shuffleWriteBytes(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val here = plan match {
      case s: ShuffleExchangeExec =>
        s.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
      case _ => 0L
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children
    }
    here + kids.map(shuffleWriteBytes).sum
  }

  test("halves-dictionary and projection ship modes are bit-identical to the table mode") {
    val base = joinResults(7)
    assert(LopqSearcher.lastPlanNotes(spark)("shipMode") === "tables")
    val (_, p0, _) = planned(7)
    // a budget whose tables gate (B/8) sits one byte under the batch's
    // table payload: past the tables threshold the plan is the
    // half-projection DICTIONARY (r19, VERDICT r18 next-round #1) — the
    // same floats through BroadcastAdcHalvesExpr's pinned fold
    val tableBytes = p0.nPairs * built.slim.m * built.slim.subquantizers(0)(0).length * 8L
    val (dictRows, p1, _) = planned(7, budget = 8 * tableBytes - 8)
    assert(dictRows === base)
    assert(p1.shipMode === Ship.HalvesDict)
    assert(LopqSearcher.lastPlanNotes(spark)("shipMode") === "halvesDict")
    assert(LopqSearcher.lastPlanNotes(spark)("dictBytes").toLong > 0L)
    // no budget for a dictionary → the r8 per-(query, cell) px fallback
    val (pxRows, p2, _) = planned(7, budget = 0L)
    assert(pxRows === base)
    assert(p2.shipMode === Ship.Projection)
    assert(LopqSearcher.lastPlanNotes(spark)("shipMode") === "projection")
  }

  test("projection mode shuffles fewer bytes than table mode through the codes join") {
    built
    // force the join to actually shuffle (the tiny test batch would ride a
    // broadcast and ship nothing) — the pin is about the SHUFFLED payload:
    // O(pairs·D) floats in projection mode vs O(pairs·M·S) doubles of
    // materialized tables (VERDICT r7 "What's wrong #3"). The px plan is
    // the one a dictionary-ineligible batch (non-integral ids, or past the
    // dictionary budget) still runs.
    def totalShuffle(ship: Ship): Long = {
      val (df, _) = LopqSearcher.annJoinPlanned(built, queriesOf(60), "q_id", "embedding",
        Tables(spark, sf, "embeddings"), "vec_id", "embedding", Quota, TopK, RerankK,
        DefaultBudget, _.copy(shipMode = ship, qsideBroadcast = false))
      df.collect()
      shuffleWriteBytes(df.queryExecution.executedPlan)
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val tableBytes = totalShuffle(Ship.Tables)
      val projBytes = totalShuffle(Ship.Projection)
      info(s"shuffle write: tables=$tableBytes B, projections=$projBytes B")
      // at this shape (m=4, S=16, D=64) the table payload is 512 B/pair vs
      // 256 B/pair of projection — the margin scales with M·S/D and reaches
      // 64× at the release shape (m=8, S=256, D=256)
      assert(projBytes < tableBytes,
        s"projection mode shuffled MORE: $projBytes >= $tableBytes")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("repeated annJoin calls reuse the handle's model/histogram broadcasts") {
    val idx = built
    joinResults(3) // initializes the handle's lazy broadcasts + warms plans
    val ids = (idx.slimBroadcast.id, idx.histBroadcast.id, idx.pcaBroadcast.id)
    def broadcastsDuring(body: => Unit): Long = {
      val b0 = spark.sparkContext.broadcast(0).id
      body
      spark.sparkContext.broadcast(0).id - b0 - 1
    }
    val warm = broadcastsDuring(joinResults(3))
    assert((idx.slimBroadcast.id, idx.histBroadcast.id, idx.pcaBroadcast.id) === ids,
      "handle broadcasts were recreated by a repeated call")
    // a FRESH handle pays exactly the three handle broadcasts (slim model,
    // histogram, pca) on top of the same per-call work — the warm handle
    // must not
    val fresh = LopqIndexStore.loadSlim(spark, dir).get
    val e = Tables(spark, sf, "embeddings")
    val queries = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val cold = broadcastsDuring {
      LopqSearcher.annJoin(fresh, queries, "q_id", "embedding",
        e, "vec_id", "embedding", Quota, TopK, RerankK).collect()
    }
    info(s"broadcasts consumed: warm handle=$warm, fresh handle=$cold")
    // cold pays the 3 hoisted broadcasts on top of the same per-call work
    // (± one scan-planning/slice-cache broadcast of variance); if annJoin
    // regressed to re-broadcasting the model per call, the delta collapses
    // to ~0 because the warm path would pay them too
    assert(cold - warm >= 2 && cold - warm <= 4,
      s"fresh-handle overhead should be ~the 3 hoisted broadcasts: warm=$warm cold=$cold")
  }

  /** VERDICT r8 (found by the release-shape parity run): the vector table
    * must be reranked through the pushed id IN-list — the plain
    * `cand ⋈ vectors` gives Catalyst no size estimate on the candidate side,
    * so it sort-merge-SHUFFLES the whole table (32 GB at release deployment
    * shape — ran the test machine out of disk) to rerank a few hundred
    * bounded candidates. Results must be bit-identical in both shapes:
    * pushed-IN lookup and the huge-batch fallback join. 7 probes × rerankK
    * 50 = 350 candidate ids fit the 512-id cap; 11 probes (550) are past
    * it. */
  test("lookup-threshold vectors rerank via a pushed id IN-list, fallback join past the id cap") {
    val base = joinResults(7)
    val base11 = joinResults(11)
    val (lookupRows, lookupPlan, lookupExec) = planned(7)
    assert(lookupRows === base)
    assert(lookupPlan.rerankMode === Rerank.Lookup)
    assert(lookupExec.contains("PushedFilters: [In(vec_id"),
      "lookup rerank did not push the candidate id IN-list into the vector scan:\n" +
        lookupExec.take(3000))
    // past the id cap no IN-list can carry the batch — the equi-join is
    // the correct distributed plan and must kick back in
    val (fallbackRows, fallbackPlan, fallbackExec) = planned(11)
    assert(fallbackRows === base11)
    assert(fallbackPlan.candBound > AnnJoinPlan.MaxLookupIds)
    assert(fallbackPlan.rerankMode === Rerank.BroadcastCand)
    assert(!fallbackExec.contains("PushedFilters: [In(vec_id"),
      "fallback join unexpectedly pushed an id IN-list")
  }

  /** r10: every annJoin run records WHICH regime each gate picked — the
    * corpus-self-dedup probe's claim "this ran through the SMJ fallback"
    * needs a recorded witness, not a timing inference. Pin (a) the default
    * small-batch regimes, (b) that forcing every gate to its LARGE-batch
    * side both flips the record AND leaves the results bit-identical — the
    * fallback regimes are the same answer, differently shuffled. */
  test("regime notes record each gate's decision; forced fallbacks stay bit-identical") {
    val base = joinResults(7)
    def notes = LopqSearcher.lastPlanNotes(spark)
    val n0 = notes
    assert(n0("shipMode") == "tables") // tiny batch: tables ride the broadcast
    assert(n0("balanced") == "false") // under the fan-out gate
    assert(n0("qsideBroadcast") == "true") // payload far under 2B
    assert(n0("nPairs").toLong > 0 && n0("fanOutRows").toLong > 0)
    // every gate on its large-batch side: projection ship, balanced
    // fan-out, SMJ query side, shuffle rerank — the million-probe regime —
    // with the exact stage's broadcast probe matrix
    val huge = (p: AnnJoinPlan) => p.copy(shipMode = Ship.Projection, balanced = true,
      qsideBroadcast = false, rerankMode = Rerank.Shuffle, exactShape = Exact.BroadcastQvec)
    val (r1, p1, _) = planned(7, force = huge)
    assert(r1 === base)
    val n1 = notes
    assert(n1 === p1.notes)
    assert(n1("shipMode") == "projection")
    assert(n1("balanced") == "true")
    assert(n1("qsideBroadcast") == "false")
    assert(n1("rerankMode") == "shuffle")
    // a huge-batch exact stage with a broadcastable probe matrix attaches
    // q_vec by map-side lookup (BroadcastL2DistSqExpr) — bit-identical
    assert(n1("exactShape") == "broadcastQvec")
    // ...and past the probe-matrix bound too, the q_id join is genuinely
    // the only plan left — still bit-identical
    assert(planned(7, force = huge.andThen(_.copy(exactShape = Exact.QidJoin)))._1 === base)
    assert(notes("exactShape") == "qidJoin")
    // middle rerank regime: candidates broadcast, table streams
    val middle = huge.andThen(_.copy(rerankMode = Rerank.BroadcastCand))
    assert(planned(7, force = middle.andThen(_.copy(exactShape = Exact.QidJoin)))._1 === base)
    assert(notes("rerankMode") == "broadcastCand")
    assert(notes("exactShape") == "qidJoin")
    // WIDE-pair regime: a broadcastable candidate set with the probe-matrix
    // lookup (the 4096-d deployment shape) — still bit-identical
    assert(planned(7, force = middle)._1 === base)
    assert(notes("rerankMode") == "broadcastCand")
    assert(notes("exactShape") == "broadcastQvec")
  }

  /** r9: the codes side must pass through a round-robin repartition before
    * the fan-out join — without it, a clustered corpus concentrates the
    * candidate expansion in the few scan tasks holding the heavy cells
    * (measured at the 1000-probe V2 shape: 23 s of stage CPU at average
    * parallelism TWO). The join is broadcast, so no co-location is lost.
    * The balance is SIZE-GATED ([[AnnJoinPlan.BalanceMinFanOutRows]]):
    * below the threshold the fan-out stage is cheaper than the shuffle's
    * latency, so the test-shape plan must NOT carry the exchange; forcing
    * the balance must bring it back (the release-scan regime). */
  test("the fan-out join is fed by a round-robin balanced codes side") {
    val (_, p0, plan0) = planned(3)
    assert(!p0.balanced)
    assert(!plan0.toLowerCase.contains("roundrobinpartitioning"),
      "tiny codes side paid the balancing shuffle anyway")
    assert(planned(3, force = _.copy(balanced = true))._3.toLowerCase
      .contains("roundrobinpartitioning"),
      "no round-robin exchange on the codes side at release-scan sizes")
  }

  /** r9: a repeated batch against one handle must not re-fetch rotation
    * slices from the store — the r8 shape re-fetched the batch's whole
    * working set per call (~124 MB at the V2 release shape: the batch key
    * set cycles the 64 MB per-query LRU) and re-broadcast it on top. */
  test("repeated batches reuse the handle's slice broadcast, zero re-fetch") {
    built
    joinResults(5) // seeds the handle's slice memo with this batch's keys
    val fetched0 = LopqIndexStore.sliceRowsFetched.get()
    joinResults(5)
    assert(LopqIndexStore.sliceRowsFetched.get() === fetched0,
      "a repeated identical batch re-fetched rotation slices from the store")
  }

  /** r9: the slice memo is BOUNDED — past the budget's
    * [[MemoryBudget.sliceMemoBytes]] it resets to the current batch's keys
    * instead of accreting toward the full tensor. At a zero budget every
    * call resets; results must be unchanged (the cap is a memory bound,
    * never a correctness knob). */
  test("slice-memo byte cap resets instead of accreting, results unchanged") {
    val base = joinResults(7)
    assert(planned(3, budget = 0L)._1.nonEmpty) // a differently-keyed batch in between
    assert(planned(7, budget = 0L)._1 === base)
  }

  /** The interpreted (non-codegen) path of `graft_adc_proj` must compute
    * exactly the slim model's projection-fold — stages that fall out of
    * whole-stage codegen still have to be bit-identical. */
  test("graft_adc_proj interpreted eval matches the slim model math") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType, ShortType}
    val slim = built.slim
    val subDim = slim.halfDim / slim.numFineSplits
    val rnd = new scala.util.Random(99L)
    val px = Array.fill(slim.m * subDim)(rnd.nextGaussian().toFloat)
    val fine = Array.tabulate(slim.m)(i => (i % slim.subquantizers(0)(0).length).toShort)
    val expr = graft.functions.AdcProjectionExpr(
      Literal.create(px, ArrayType(FloatType)),
      Literal.create(fine, ArrayType(ShortType)),
      slim.flatSubquantizers, slim.m, subDim)
    assert(expr.eval(null) === slim.adcDistanceFromProjection(px, fine))
    // shape mismatches are null, not garbage
    val bad = graft.functions.AdcProjectionExpr(
      Literal.create(px.take(3), ArrayType(FloatType)),
      Literal.create(fine, ArrayType(ShortType)),
      slim.flatSubquantizers, slim.m, subDim)
    assert(bad.eval(null) === null)
  }

  /** The dedup semantics a bounded batch must deliver: a probe that is a
    * corpus row plus tiny noise (the re-encode/crop shape) finds its
    * source. Rank ≤ 2 rather than == 1 only because the corpus may hold
    * exact duplicate vectors — a probe jittered off one copy is
    * equidistant to both. */
  test("a jittered probe's planted near-duplicate is found at the top of the rerank") {
    val e = Tables(spark, sf, "embeddings")
    val jitterU = org.apache.spark.sql.functions.udf { (id: Long, v: Seq[Float]) =>
      val rn = new java.util.Random(55L + id)
      val nrm = math.sqrt(v.iterator.map(x => x.toDouble * x).sum)
      v.map(x => x + (rn.nextGaussian() * nrm * 1e-4).toFloat)
    }
    val nProbes = 20
    val probes = e.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("q_id"),
        jitterU(col("vec_id"), col("embedding")).as("embedding"))
    val found = LopqSearcher.annJoin(built, probes, "q_id", "embedding",
        e, "vec_id", "embedding", Quota, TopK, RerankK)
      .where(col("id") === col("q_id"))
      .select("q_id", "rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until nProbes.toLong).foreach { qid =>
      assert(found.get(qid).exists(_ <= 2L),
        s"probe $qid: planted source not in the top-2 (got ${found.get(qid)})")
    }
  }

  test("BroadcastL2DistSqExpr interpreted eval matches the sequential double fold") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val q = Array(1.5f, -2.25f, 3.125f)
    val v = Array(0.5f, 0.75f, -1.5f)
    val map = new java.util.HashMap[java.lang.Long, Array[Float]]()
    map.put(42L, q)
    val bc = spark.sparkContext.broadcast(map)
    def mk(id: Long, vec: Array[Float]) = graft.functions.BroadcastL2DistSqExpr(
      Literal(id, LongType), Literal(ArrayData.toArrayData(vec), ArrayType(FloatType)), bc)
    var want = 0.0
    q.indices.foreach { i => val d = q(i).toDouble - v(i).toDouble; want += d * d }
    assert(mk(42L, v).eval(null) == want) // the exact graft_l2sq fold
    assert(mk(7L, v).eval(null) == null) // probe id absent from the map
    assert(mk(42L, v.take(2)).eval(null) == null) // dimension mismatch
  }

  /** r12 (VERDICT r11 next-round #1): the chunked driver loop must give
    * the SAME answer as the one-shot join — per-query results are
    * independent of batch composition, so the concatenation of chunk
    * results is bit-identical. The production shape this exists for (a
    * probe set whose one-shot matrix can never broadcast) was exercised at
    * magnitude by the release dedup probe (PROBES.md r12); this row pins
    * the equivalence. */
  test("chunked driver ≡ the one-shot join, bit-identical across chunk boundaries") {
    val base = joinResults(7)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Double)]
    val n = LopqSearcher.annJoinChunked(built, queriesOf(7), "q_id", "embedding",
      Tables(spark, sf, "embeddings"), "vec_id", "embedding", Quota, TopK, RerankK,
      chunkRows = 3) { (df, _) => buf ++= rowsOf(df) }
    assert(n === 3, "7 probes at chunkRows=3 should make 3 chunks")
    val notes = LopqSearcher.lastPlanNotes(spark)
    assert(notes("chunks") === "3" && notes("chunkRows") === "3")
    assert(buf.sortBy(t => (t._1, t._2)).toSeq === base)
  }

  test("annJoinChunked fails fast on duplicate and on null probe ids") {
    // ADVICE r12: the old boundary-count require was purely positional
    // (could never fire on duplicates), and null ids silently fell out of
    // every range filter — both contracts are now checked directly
    val e = Tables(spark, sf, "embeddings")
    val base = e.where(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val dup = intercept[IllegalArgumentException] {
      LopqSearcher.annJoinChunked(built, base.unionAll(base), "q_id",
        "embedding", e, "vec_id", "embedding", Quota, TopK, RerankK) { (_, _) => () }
    }
    assert(dup.getMessage.contains("unique probe ids"))
    val withNull = base.select(
      when(col("q_id") === 1L, lit(null)).otherwise(col("q_id")).as("q_id"),
      col("embedding"))
    val nul = intercept[IllegalArgumentException] {
      LopqSearcher.annJoinChunked(built, withNull, "q_id", "embedding",
        e, "vec_id", "embedding", Quota, TopK, RerankK) { (_, _) => () }
    }
    assert(nul.getMessage.contains("non-null probe ids"))
  }

  /** r12 (VERDICT r11 "What's wrong #1a"): the broadcast-probe-matrix gate
    * is the budget B = half the driver's maxResultSize, because the matrix
    * is collected before it broadcasts. Shrinking the LIVE enforcement knob
    * (via the package bridge — Spark re-reads it per stage) below the
    * matrix estimate must flip the exact stage to the q_id join, which
    * both matches bit-for-bit AND completes under the shrunken budget;
    * the broadcast plan's collect would have aborted the job here. */
  test("exact-stage matrix gate clamps to the live driver maxResultSize; fallback bit-identical") {
    import org.apache.spark.graft.TestSparkConf
    val e = Tables(spark, sf, "embeddings")
    val nProbes = 400
    // k=1 keeps the final collect tiny — the point of the shrunken budget is
    // to catch the MATRIX collect, not the result fetch. The fan-out query
    // side is forced to its huge-batch SMJ side for both runs: at true
    // deployment scale it would not broadcast either, and a
    // BroadcastExchange's internal collect rides the same task-result
    // budget this test is about to shrink.
    def run(force: AnnJoinPlan => AnnJoinPlan): (Rows, AnnJoinPlan) = {
      val (df, plan) = LopqSearcher.annJoinPlanned(built, queriesOf(nProbes), "q_id",
        "embedding", e, "vec_id", "embedding", Quota, k = 1, rerankK = RerankK,
        MemoryBudget.budgetOf(spark), force.andThen(_.copy(qsideBroadcast = false)))
      (rowsOf(df), plan)
    }
    val sc = spark.sparkContext
    val saved = TestSparkConf.get(sc, "spark.driver.maxResultSize")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (base, p0) = run(_.copy(exactShape = Exact.BroadcastQvec))
      assert(p0.exactShape === Exact.BroadcastQvec)
      // 400 probes × (4·64 + 96) B ≈ 137 KiB of collected matrix; a 200k
      // maxResultSize makes B 100 KiB — closed — while every remaining
      // stage's task results stay far below 200 KiB
      TestSparkConf.set(sc, "spark.driver.maxResultSize", "200k")
      val (rows, p1) = run(identity)
      assert(rows === base)
      val notes = LopqSearcher.lastPlanNotes(spark)
      assert(notes("exactShape") === "qidJoin" && p1.exactShape === Exact.QidJoin,
        s"clamped gate did not fall back: $notes")
      assert(notes("qvecMaxBytes").toLong === 200L * 1024 / 2)
    } finally {
      saved match {
        case Some(v) => TestSparkConf.set(sc, "spark.driver.maxResultSize", v)
        case None => TestSparkConf.remove(sc, "spark.driver.maxResultSize")
      }
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    assert(MemoryBudget.budgetOf(spark) === DefaultBudget)
  }

  /** r12 (VERDICT r11 "What's wrong #1b" + #2): a repeated q_id must fail
    * fast with the contract message in EVERY regime — at the
    * broadcast-matrix shape AND in the q_id-join regimes (where r11 still
    * silently merged two probes' candidate pools into one ranking). Both
    * fail in the cell-union aggregation, which counts the probes and their
    * distinct q_ids at plan-BUILD time, before any frame is built. */
  test("duplicate q_id fails fast in the broadcast AND the counted q_id-join regimes") {
    val e = Tables(spark, sf, "embeddings")
    val dup = queriesOf(7).union(queriesOf(7).where(col("q_id") === 3))
    def buildJoin(force: AnnJoinPlan => AnnJoinPlan): Unit =
      LopqSearcher.annJoinPlanned(built, dup, "q_id", "embedding",
        e, "vec_id", "embedding", Quota, TopK, RerankK, DefaultBudget, force)
    // forced onto the broadcast probe matrix
    val ex = intercept[IllegalArgumentException](
      buildJoin(_.copy(exactShape = Exact.BroadcastQvec)))
    assert(ex.getMessage.contains("unique q_id"), ex.getMessage)
    assert(ex.getMessage.contains("8 probe rows") &&
      ex.getMessage.contains("7 distinct ids"), ex.getMessage)
    // the default plan: lookup rerank, q_id-join exact stage
    val exLookup = intercept[IllegalArgumentException](buildJoin(identity))
    assert(exLookup.getMessage.contains("unique q_id"), exLookup.getMessage)
  }

  /** r12 (ADVICE r11 #2): the size gates compare PRODUCTS of quantities
    * that can each be huge — a wrapping overflow would read as "tiny
    * payload" and disable a gate exactly at the scale where it matters. */
  test("size-gate products saturate at Long.MaxValue instead of wrapping") {
    import graft.engine.LopqSearcher.satMul
    assert(satMul(123L, 456L) === 123L * 456L)
    assert(satMul(0L, Long.MaxValue) === 0L)
    assert(satMul(Long.MaxValue, 1L) === Long.MaxValue)
    assert(satMul(Long.MaxValue / 2, 3L) === Long.MaxValue)
    // the ADVICE shape: candUb · (4·dim + 24) at extreme candUb — the
    // mathematical product overflows Long (the raw multiply wraps to an
    // arbitrary small value, silently disabling the gate); the saturated
    // one reads as huge, keeping the gate on
    val candUb = Long.MaxValue / 100
    assert(BigInt(candUb) * BigInt(4L * 4096 + 24) > BigInt(Long.MaxValue))
    assert(candUb * (4L * 4096 + 24) !== Long.MaxValue) // wrapped, not saturated
    assert(satMul(candUb, 4L * 4096 + 24) === Long.MaxValue)
  }

  test("a query with no reachable cells simply yields no rows") {
    val slim = built
    val e = Tables(spark, sf, "embeddings")
    // quota 0 → every query visits zero cells → empty result, same schema
    val empty = LopqSearcher.annJoin(slim,
      e.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding")),
      "q_id", "embedding", e, "vec_id", "embedding", quota = 0, k = TopK,
      rerankK = RerankK)
    assert(empty.columns.toSeq ===
      Seq("q_id", "rank", "id", "adc_dist", "exact_dist"))
    assert(empty.count() === 0)
  }

  /** Every value of every decision, and every pair of values of two
    * decisions, at least once: a greedy pairwise covering set over the full
    * product of [[Probe.AnnJoinDecisions]] (144 plans). */
  private lazy val pairwiseCover: Seq[Seq[(String, String)]] = {
    val full = Probe.AnnJoinDecisions.foldLeft(Seq(Seq.empty[(String, String)])) {
      case (acc, (name, values)) => for (row <- acc; v <- values) yield row :+ (name -> v)
    }
    def pairsOf(row: Seq[(String, String)]) =
      for (i <- row.indices; j <- row.indices if i < j) yield (row(i), row(j))
    var uncovered = full.flatMap(pairsOf).toSet
    val cover = Seq.newBuilder[Seq[(String, String)]]
    while (uncovered.nonEmpty) {
      val best = full.maxBy(r => pairsOf(r).count(uncovered))
      cover += best
      uncovered --= pairsOf(best)
    }
    cover.result()
  }

  /** ROADMAP item 3's matrix: each forced plan of the covering set must
    * return the default plan's rows bit for bit, report the decisions it
    * ran, and carry the plan shapes those decisions name. */
  test("every forced plan of a pairwise covering set returns the default plan's rows") {
    val base = joinResults(7)
    val cover = pairwiseCover
    val values = Probe.AnnJoinDecisions.flatMap { case (n, vs) => vs.map(n -> _) }
    assert(values.forall(v => cover.exists(_.contains(v))))
    assert(cover.size < 30, s"${cover.size} plans")
    info(s"${cover.size} forced plans cover every pair of decision values")
    cover.foreach { assignment =>
      val (rows, plan, exec) =
        planned(7, force = Probe.annJoinForce(assignment.map { case (k, v) => s"$k=$v" }))
      val label = assignment.map { case (k, v) => s"$k=$v" }.mkString(" ")
      assert(rows === base, label)
      assignment.foreach { case (k, v) => assert(plan.notes(k) === v, label) }
      assert(LopqSearcher.lastPlanNotes(spark) === plan.notes, label)
      assert(exec.toLowerCase.contains("roundrobinpartitioning") === plan.balanced, label)
      assert(exec.contains("PushedFilters: [In(vec_id") === (plan.rerankMode == Rerank.Lookup),
        label)
    }
  }

  /** ROADMAP item 2: the plan record is per call. Two threads plan on one
    * session under budgets that put them on different ship modes; each
    * gets its own plan and rows, and the session's last record is one of
    * the two plans whole. */
  test("concurrent annJoin callers get their own plans; the record is one complete plan") {
    val (want3, plan3, _) = planned(3)
    val (want60, plan60, _) = planned(60, budget = 0L)
    assert(plan3.shipMode === Ship.Tables && plan60.shipMode === Ship.Projection)
    assert(want3 === joinResults(3) && want60 === joinResults(60))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    (1 to 3).foreach { _ =>
      val small = Future(planned(3))
      val big = Future(planned(60, budget = 0L))
      val (rows3, p3, _) = Await.result(small, 5.minutes)
      val (rows60, p60, _) = Await.result(big, 5.minutes)
      assert(rows3 === want3 && p3.notes === plan3.notes)
      assert(rows60 === want60 && p60.notes === plan60.notes)
      val last = LopqSearcher.lastPlanNotes(spark)
      assert(last === plan3.notes || last === plan60.notes, s"a mixed record: $last")
    }
  }

  /** The chunked driver releases each chunk's per-call broadcasts (the
    * halves dictionary and the probe matrix, both `java.util.HashMap`
    * values) once the chunk's sink returns; the handle's cached broadcasts
    * stay. The sink keeps each chunk's frame reachable, as a caller that
    * unions the chunk results does: the ContextCleaner can then reclaim
    * nothing, and before the destroy all six maps stayed resident. */
  test("annJoinChunked destroys each chunk's dictionary and probe-matrix broadcasts") {
    import org.apache.spark.graft.TestBroadcastBlocks
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val base = joinResults(7)
    val marker = spark.sparkContext.broadcast(0)
    marker.destroy()
    def chunkMaps(): Set[Long] = TestBroadcastBlocks.resident().collect {
      case (id, cls) if id > marker.id && cls == "java.util.HashMap" => id
    }.toSet
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val held = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Double)]
    val n = LopqSearcher.annJoinChunkedPlanned(built, queriesOf(7), "q_id", "embedding",
      Tables(spark, sf, "embeddings"), "vec_id", "embedding", Quota, TopK, RerankK,
      chunkRows = 3, DefaultBudget,
      _.copy(shipMode = Ship.HalvesDict, exactShape = Exact.BroadcastQvec)) { (df, _) =>
      held += df
      buf ++= rowsOf(df)
      seen += chunkMaps()
    }
    assert(n === 3 && held.size === 3)
    assert(buf.sortBy(t => (t._1, t._2)).toSeq === base)
    assert(LopqSearcher.lastPlanNotes(spark)("shipMode") === "halvesDict")
    // while its sink ran, each chunk held its own dictionary + probe matrix
    seen.zipWithIndex.foreach { case (ids, c) =>
      val earlier = seen.take(c).flatten.toSet
      assert((ids -- earlier).size >= 2, s"chunk $c: ${seen.toList}")
    }
    eventually(timeout(20.seconds), interval(200.millis)) {
      assert(chunkMaps().isEmpty, s"chunk broadcasts still resident: ${chunkMaps()}")
    }
  }

  /** The default-budget plan of the 7-probe shape runs the jobs the
    * earlier per-gate code ran on its lookup plan (the distinct-halves job
    * stays lazy) less the probe count's own two: 17 was measured with the
    * same listener on the code before the rerank scan shape was deleted,
    * with its lookup threshold at 0, and the probe count now rides the
    * cell-union aggregation. */
  test("the default-budget annJoin runs the same Spark jobs as the earlier gates") {
    joinResults(7) // warm: handle broadcasts and slice memo
    val jobs = jobsDuring(joinResults(7))
    assert(jobs === 15, s"$jobs jobs")
  }
}
