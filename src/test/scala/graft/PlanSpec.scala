package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.ArrayType

import graft.engine.LopqSearcher
import graft.ops.EngineOps

/** Physical-plan shape assertions — the properties that make these
  * operators scale are pinned here so a refactor can't silently lose them:
  * filter/column pushdown to the parquet scan, broadcast joins for small
  * dims, TakeOrderedAndProject for top-k (no global sort), partial
  * (map-side) aggregation, and on-disk partition pruning for the ANN
  * codes scan. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q01 pushes the key-range filter and prunes columns at the scan") {
    val p = planOf("q01_range_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), GreaterThanOrEqual(l_orderkey,100)"))
    // projection reaches the scan: only the 4 selected columns are read
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double>"))
  }

  test("q03 broadcasts both dimension sides") {
    val p = planOf("q03_lookup_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("q06 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = planOf("q06_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q05 aggregation is partial (map-side combine before the shuffle)") {
    val p = planOf("q05_group_agg")
    assert(p.contains("partial_sum") || p.contains("HashAggregate(keys="))
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial + final
  }

  test("q04 anti join stays a broadcast join (no shuffle of the big side)") {
    val p = planOf("q04_anti_join")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
  }

  test("q56 frame sampling is a single-stage generate (no join, no shuffle before explode)") {
    val p = planOf("q56_frame_sample")
    assert(p.contains("Generate explode"), "1→N sampling must be a Generate")
    assert(!p.contains("Join"), "frame sampling must not re-join the source to itself")
  }

  test("q55 crop geometry stays in whole-stage codegen after the decode") {
    val df = SparkEntry.queries("q55_center_crop")(spark, sf)
    df.collect() // finalize the adaptive plan so codegen stages are visible
    val p = df.queryExecution.executedPlan.toString
    // the integer resize/crop math must not fall out of codegen: the final
    // plan has codegen stages (`*(n)` prefixes) above the decode
    assert(p.contains("isFinalPlan=true") && p.contains("*("))
  }

  test("q57 bucketed join sort-merges without a shuffle exchange") {
    val df = SparkEntry.queries("q57_bucketed_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"))
    // both sides are bucketed on the join key with equal bucket counts:
    // the only Exchange allowed is the single-partition one under the
    // final ordered aggregate, never a hashpartitioning on the join key
    assert(!p.contains("Exchange hashpartitioning(o_custkey"),
      "bucketed join must not reshuffle the fact side")
    assert(!p.contains("Exchange hashpartitioning(c_custkey"),
      "bucketed join must not reshuffle the dim side")
  }

  test("salted join spreads a hot key and matches the plain join") {
    import graft.ops.ScaleOps
    val fact = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").multiply(0).as("k"), col("l_quantity")) // ALL rows one key
    val dim = spark.range(1).select(col("id").as("k"),
      org.apache.spark.sql.functions.lit("hot").as("name"))
    val salted = ScaleOps.saltedJoin(fact, dim, "k", 4)
    val plain = fact.join(dim, "k")
    assert(salted.count() === plain.count())
    // the shuffle key includes the salt, so the single hot key occupies
    // saltBuckets shuffle partitions instead of one
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("graft_salt"))
  }

  test("q53 has no unpartitioned window (the r4 scale-killer stays dead)") {
    val p = planOf("q53_ingest_pipeline")
    val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, "q53 should still rank within shards via a window")
    windows.foreach(w =>
      assert(w.contains("shard"), s"window lost its shard partitioning:\n$w"))
  }

  test("q64 candidate generation is a hash equi-join, never a cross product") {
    val p = planOf("q64_simhash_hamming_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band bucket join degenerated to an all-pairs product")
  }

  test("q76 rank window is fed by the stratum hash cutoff, not the whole corpus") {
    val df = SparkEntry.queries("q76_stratified_sample")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val wIdx = p.indexOf("Window")
    assert(wIdx >= 0, "q76 must rank via a window")
    // everything below the Window is its input subtree: it must be the
    // broadcast cutoff join + hash filter, so a whole stratum can never
    // ride one task at corpus scale
    val below = p.substring(wIdx)
    assert(below.contains("BroadcastHashJoin"), "cutoff join must broadcast")
    assert(below.contains("hv") && below.contains("cut"),
      "window input must be pre-filtered by the per-stratum hash cutoff")
  }

  test("q77 prefix sum has no unpartitioned window (stays parallel at any corpus size)") {
    val df = SparkEntry.queries("q77_shard_pack")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, "q77 should compute the running sum via a window")
    windows.foreach(w =>
      assert(w.contains("pid"), s"running-sum window lost its partition-id key:\n$w"))
  }

  test("annJoin's approx top-k window reduces map-side before the shuffle") {
    val df = SparkEntry.queries("q70_ann_join")(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    // the candidate-scoring window must carry Spark's rank-limit pushdown
    // with a PARTIAL stage: each map task keeps only its own top-rerankK
    // per query, so the shuffle moves O(queries·rerankK·tasks) rows, never
    // the full scored candidate set (quota·queries rows at release shape)
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      "approx window lost its partial rank-limit pushdown")
  }

  test("q82 bloom prunes the fact side before the join shuffle") {
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.{call_function, lit, xxhash64}
    val orders = graft.ops.Tables(spark, sf, "orders")
    val lineitem = graft.ops.Tables(spark, sf, "lineitem")
    val dimKeys = orders.where(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val bloom = dimKeys.select(call_function("graft_bloom_agg",
      xxhash64(col("o_orderkey")), lit(200000L), lit(1048576L)).as("bf"))
      .head.getAs[Array[Byte]](0)
    val total = lineitem.count()
    val matched = lineitem.join(dimKeys,
      col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    val pruned = lineitem.where(call_function("graft_bloom_contains",
      lit(bloom), xxhash64(col("l_orderkey")))).count()
    // the bloom keeps every true match (no false negatives) and drops the
    // bulk of the non-matching fact rows before any shuffle would run
    assert(pruned >= matched, "bloom dropped a true match")
    assert(pruned < total / 2,
      s"bloom pruned nothing: $pruned of $total rows survived ($matched true matches)")
  }

  test("q84 PII scrub is one shuffle-free codegen'd projection of a pruned scan") {
    val p = planOf("q84_pii_scrub")
    // only the parallelism repartition (and the orderBy's range exchange)
    // may shuffle — the scrub itself adds no Exchange, no join, no agg
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      "PII scrub grew a shuffle-bearing operator")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan reads more than the two columns the scrub needs")
  }

  test("q85 domain window runs over the aggregated sources, not the corpus") {
    val p = planOf("q85_domain_mix")
    // partial aggregation reduces map-side before the one source shuffle
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-source aggregation lost its map-side combine")
    // the global window must sit ABOVE the aggregate (O(sources) rows),
    // never directly over the corpus scan
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window "))
    val aggIdx = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(winIdx >= 0 && aggIdx > winIdx,
      "window is not fed by the per-source aggregate")
  }

  test("q86 span cut joins back on doc_id and cuts via a higher-order filter, not a UDF") {
    val p = planOf("q86_dup_span_cut")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "span cut fell back to a UDF")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "span cut degenerated to an all-pairs product")
  }

  test("ANN codes scan prunes cell partitions on disk") {
    val h = EngineOps.index(spark, sf)
    val q = spark.read.parquet(s"$sf/embeddings.parquet")
      .where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val approx = LopqSearcher.approxStage(h, q, 200, 10)._1
    val p = approx.queryExecution.executedPlan.toString
    // visited-cell filter must reach the partitioned codes table as
    // PartitionFilters (directory pruning), not a post-scan Filter
    assert(p.contains("PartitionFilters: [cell_id"))
  }

  test("q94 semdedup prunes singleton cells on the skinny codes before vectors attach") {
    val df = SparkEntry.queries("q94_semdedup_cells")(spark, sf)
    df.collect() // finalize AQE so the real join strategies are visible
    val p = df.queryExecution.executedPlan.toString
    // the multi-member-cell screen is a count aggregate over (id, cell_id)
    // rows alone — it must exist (partial+final HashAggregate) and gate at 2,
    // so at deployment width the singleton-cell majority of the vector
    // table never enters the cell self-join's shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "multi-member screen lost its aggregate")
    assert(p.contains(">= 2)"), "membership gate (n >= 2) missing")
  }

  test("q95 removes semdedup losers via a broadcast anti-join (corpus never shuffles)") {
    val df = SparkEntry.queries("q95_semdedup_corpus")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the loser set is orders of magnitude smaller than the corpus: the
    // final cleanup must broadcast it, never shuffle the embeddings table
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "loser anti-join must broadcast")
  }

  test("antiJoinIds broadcasts from the driver-known count even when stats forbid it") {
    // the r13 curatepipe failure mode: a loser set a few MB past
    // Catalyst's 10 MB stats threshold silently flipped the survivor
    // anti-join into a sort-merge that shuffle-wrote the 32 GB vector
    // table. Simulate "stats say don't broadcast" by disabling the
    // automatic thresholds entirely — the helper must still broadcast,
    // because its gate is the driver-known id COUNT, not plan stats.
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val ids = e.select(col("vec_id")).where(col("vec_id") % 7 === 0)
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val savedAdaptive =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    def restore(key: String, v: Option[String]): Unit = v match {
      case Some(x) => spark.conf.set(key, x)
      case None => spark.conf.unset(key)
    }
    try {
      val df = graft.ops.TextOps.antiJoinIds(e, "vec_id", ids)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        "anti-join must broadcast on the driver-known count")
    } finally {
      restore("spark.sql.adaptive.autoBroadcastJoinThreshold", savedAdaptive)
      restore("spark.sql.autoBroadcastJoinThreshold", saved)
    }
  }

  test("q96 chunked semdedup equals the one-shot sweep and broadcasts the id-attach") {
    val one = SparkEntry.queries("q94_semdedup_cells")(spark, sf).collect()
    val chunked = SparkEntry.queries("q96_semdedup_chunked")(spark, sf).collect()
    // cells are whole within a chunk, so the concatenation of chunk
    // results must BE the one-shot sweep — same pairs, same rounding
    assert(chunked.toSeq == one.toSeq,
      "chunk concatenation must equal the one-shot sweep")
    // per-chunk plan: the chunk's SKINNY assignment broadcasts into the
    // id join, so the fat vector table is filtered map-side and never
    // shuffle-written just to learn its cell — the v4 one-shot sweep's
    // measured scale-killer (PROBES.md r12)
    val h = EngineOps.index(spark, sf)
    val cells = h.codes.select(col("id"),
      (col("coarse0") * h.slim.v + col("coarse1")).cast("long").as("cell_id"))
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.ops.VectorQueries.semDedupPairsChunked(cells,
        spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding",
        graft.ops.VectorQueries.NearDupSimThreshold, 3) { (df, _) =>
      df.collect()
      plans += df.queryExecution.executedPlan.toString
    }
    assert(plans.size == 3)
    assert(plans.forall(_.contains("BroadcastHashJoin")),
      "chunk id-attach must broadcast the skinny side")
  }

  test("q100 rank window is fed by the per-cell hash cutoff, not the whole corpus") {
    val df = SparkEntry.queries("q100_cluster_sample")(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    val wIdx = p.indexOf("Window")
    assert(wIdx >= 0, "q100 must rank via a window")
    // q76's guarantee with learned cells as strata: the window's input
    // subtree must be the cutoff join + hash filter, so a whole cell can
    // never ride one task at corpus scale
    val below = p.substring(wIdx)
    assert(below.contains("hv") && below.contains("cut"),
      "window input must be pre-filtered by the per-cell hash cutoff")
  }

  test("q101 protoPrune shuffles only skinny rows (the vector column dies map-side)") {
    val df = SparkEntry.queries("q101_proto_prune")(spark, sf)
    df.collect() // finalize AQE
    val ex = shuffles(df.queryExecution.executedPlan)
    assert(ex.nonEmpty, "the per-cell rank window must shuffle something")
    // at deployment width the vector column is 16 KB/row; the operator's
    // whole scale story is that it never enters an exchange
    assertNoVectorShuffled(ex)
  }

  test("q97 incremental semdedup = the batch-touching subset; corpus scans stay map-side") {
    // pair semantics: the incremental pass must emit EXACTLY the one-shot
    // sweep's pairs that touch the batch (even ids), no more, no less
    val one = SparkEntry.queries("q94_semdedup_cells")(spark, sf).collect()
      .filter(r => r.getLong(0) % 2 == 0 || r.getLong(1) % 2 == 0)
    // plan: with Catalyst's size-based broadcast off (the deployment-width
    // case, where no side's estimate clears the threshold) only the
    // operator's own hints broadcast — the touched-cell prune, the vector
    // attaches and the batch build side — and no vector enters a shuffle
    val key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    try {
      val df = SparkEntry.queries("q97_semdedup_incremental")(spark, sf)
      val inc = df.collect() // finalizes AQE
      assert(inc.toSeq == one.toSeq,
        "incremental pairs must equal the one-shot sweep's batch-touching subset")
      val plan = df.queryExecution.executedPlan
      assert("BroadcastHashJoin".r.findAllIn(plan.toString).size >= 3,
        "touched-cell prune, vector attach and batch build side must broadcast")
      assertNoVectorShuffled(shuffles(plan))
    } finally spark.conf.unset(key)
  }

  /** Every shuffle exchange of an executed plan, AQE query stages
    * included. */
  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] = {
    val here = plan match {
      case s: ShuffleExchangeExec => Seq(s)
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case _ => Seq.empty
    }
    here ++ plan.children.flatMap(shuffles)
  }

  private def assertNoVectorShuffled(ex: Seq[ShuffleExchangeExec]): Unit =
    ex.foreach { e =>
      val fat = e.child.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(fat.isEmpty,
        s"vector column leaked into a shuffle: ${fat.map(_.name).mkString(",")}")
    }
}
