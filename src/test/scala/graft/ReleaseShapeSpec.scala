package graft

import org.apache.spark.sql.functions._

import graft.engine.{LopqIndexStore, LopqParams, LopqPca, LopqSearcher, LopqTrainer, ReleaseShape}

/** Scale-shape proof at a scaled-down release twin (VERDICT r4 "What's
  * missing #2"): same code path as the full release shape Bench builds —
  * PCA front, M=8, S=256 subquantizers, BUCKETED codes layout — with V=64
  * so the build fits a test budget. Pins the properties that must survive
  * V=4096: constant-size plans (ADC data rides a broadcast, never O(V·S)
  * literals), bucket-level directory pruning with the cell IN-list pushed
  * to row-group stats, and O(batch) bucketed appends. */
class ReleaseShapeSpec extends SparkSpec {

  private val N = 8000L
  private val PcaDims = 64
  private val Buckets = 64
  private val p = LopqParams(v = 64, m = 8, subClusters = 256, seed = 7L, kmeansMaxIter = 3)
  private val dir = "/root/repo/target/graft-index-test/release_twin"

  private def deleteDir(d: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(d)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  private lazy val built = {
    graft.functions.GraftFunctions.register(spark)
    deleteDir(dir)
    val e = ReleaseShape.corpus(spark, N).cache()
    val pca = LopqPca.train(e, "embedding", PcaDims)
    val pcaB = spark.sparkContext.broadcast(pca)
    val applyU = udf((v: Seq[Float]) => pcaB.value(v.toArray).toSeq)
    val projected = e.select(col("vec_id"), applyU(col("embedding")).as("pvec")).cache()
    val model = LopqTrainer.train(projected, "pvec", p)
    val codes = LopqSearcher.encode(projected, "vec_id", "pvec", model)
    val h = LopqIndexStore.build(spark, dir, model, Some(pca), codes, p, N,
      ReleaseShape.RawDim, cellBuckets = Buckets)
    ReleaseShape.stageVectors(spark, dir, N)
    projected.unpersist(); e.unpersist()
    h
  }

  private def parquetFiles(d: String): Int = {
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(d), true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  test("bucketed layout bounds directory fan-out below the cell count") {
    val h = built
    assert(h.cellBuckets === Buckets)
    assert(h.cellCounts.size > Buckets,
      "twin must have more populated cells than buckets for the layout to matter")
    val fs = new org.apache.hadoop.fs.Path(s"$dir/codes")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/codes"))
      .count(s => s.isDirectory && s.getPath.getName.startsWith("cell_bucket="))
    assert(dirs <= Buckets, s"$dirs bucket directories exceed the bound $Buckets")
  }

  test("search plan: bucket partition pruning + pushed cell IN-list + broadcast ADC") {
    val h = built
    val df = LopqSearcher.approxStage(h.serving,
      h.pca.get(ReleaseShape.rowVec(42L)), TwinQuota, 10)
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cell_bucket"), plan.take(3000))
    assert(plan.contains("PushedFilters: [In(cell_id"),
      "cell IN-list must reach row-group stats inside each bucket:\n" + plan.take(3000))
    // r19 (VERDICT r18 #3): the per-query ADC tables ride a BROADCAST
    // VARIABLE read by graft_bcast_adc — the per-query LocalRelation +
    // BroadcastExchange + join are gone from the plan entirely
    assert(plan.contains("graft_bcast_adc"),
      "ADC tables must be read through the broadcast-variable expression")
    assert(!plan.contains("BroadcastHashJoin"),
      "the per-query ADC broadcast JOIN should be gone:\n" + plan.take(3000))
    // constant-size plan: at V=4096/S=256 an inlined literal table would be
    // megabytes of codegen; the broadcast keeps the plan O(1)
    assert(plan.length < 50000, s"plan string is ${plan.length} chars — literal bomb?")
  }

  test("executed search scan reads a small pruned fraction of the codes files") {
    val h = built
    val df = LopqSearcher.approxStage(h.serving,
      h.pca.get(ReleaseShape.rowVec(7L)), TwinQuota, 10)
    df.collect()
    val scan = fileScans(df.queryExecution.executedPlan)
    assert(scan.nonEmpty)
    val filesRead = scan.map(_.metrics("numFiles").value).sum
    val total = parquetFiles(s"$dir/codes")
    assert(filesRead > 0 && filesRead.toDouble / total <= 0.5,
      s"search read $filesRead of $total code files — pruning lost")
  }

  // twin-sized search: the full ReleaseShape constants (quota 10000,
  // k 100) assume the 200k corpus; at N=8000 a top-100 outruns the ~16
  // members each synthetic center has
  private val TwinK = 10
  private val TwinQuota = 2000
  private def twinSearch(h: graft.engine.LopqIndex, qid: Long) =
    LopqSearcher.searchSlim(h.serving, ReleaseShape.vectors(spark, dir), "vec_id",
      "embedding", ReleaseShape.rowVec(qid), TwinQuota, TwinK, ReleaseShape.RerankK)

  test("end-to-end release-path search retrieves the query itself") {
    val h = built
    val hits = twinSearch(h, 42L)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(hits.length === TwinK)
    assert(hits.head._1 === 42L && hits.head._2 < 1e-3,
      s"query vector must rank first at ~zero distance, got ${hits.take(3).toSeq}")
    // clustered corpus: the same synthetic center should dominate the top-k
    val sameCenter = hits.count { case (id, _) => id % ReleaseShape.Centers == 42L }
    assert(sameCenter >= TwinK / 2,
      s"only $sameCenter of top-$TwinK share the query's center")
  }

  test("release-path recall@10 vs brute force stays useful through PCA + ADC") {
    val h = built
    import graft.functions.VectorFunctions
    val e = ReleaseShape.corpus(spark, N)
    val queries = Seq(3L, 777L, 4242L)
    val recalls = queries.map { qid =>
      val ann = twinSearch(h, qid).collect().map(_.getLong(0)).toSet
      val qLit = array(ReleaseShape.rowVec(qid).map(lit): _*)
      val brute = e
        .select(col("vec_id"),
          VectorFunctions.l2DistanceSq(qLit, col("embedding")).as("d"))
        .orderBy(col("d"), col("vec_id"))
        .limit(TwinK)
        .collect().map(_.getLong(0)).toSet
      ann.intersect(brute).size.toDouble / TwinK
    }
    info(s"recall@10 per query: ${queries.zip(recalls)}")
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@10 $mean — PCA/ADC path degraded")
  }

  test("lookup rerank (feature-store shape) matches the broadcast-scan rerank") {
    val h = built
    val v = ReleaseShape.vectors(spark, dir)
    def run(shape: graft.engine.RerankShape) =
      LopqSearcher.searchSlim(h.serving, v, "vec_id", "embedding",
        ReleaseShape.rowVec(99L), TwinQuota, TwinK, ReleaseShape.RerankK,
        rerankShape = shape)
    val scan = run(graft.engine.RerankShape.Scan).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val byLookup = run(graft.engine.RerankShape.Lookup)
    val lookup = byLookup.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(lookup === scan, "the two rerank read shapes must be result-identical")
    // the lookup path must push the id IN-list into the vectors scan
    assert(byLookup.queryExecution.executedPlan.toString.contains("In(vec_id"),
      byLookup.queryExecution.executedPlan.toString.take(2000))
  }

  test("Auto rerank shape self-selects from the vector-table size") {
    import graft.engine.RerankShape
    val v = built; val vecs = ReleaseShape.vectors(spark, dir)
    // the 8k-row twin table is far under the threshold → streaming scan
    assert(!RerankShape.useLookup(vecs, RerankShape.Auto))
    // shrink the threshold below the table size → the SAME table flips to
    // the pushed-lookup shape; no caller flag involved (VERDICT r5 #2)
    spark.conf.set(RerankShape.ThresholdConf, "1024")
    try assert(RerankShape.useLookup(vecs, RerankShape.Auto))
    finally spark.conf.unset(RerankShape.ThresholdConf)
    // the benched release corpus (200k × 256-d ≈ 200 MB staged parquet) is
    // over the default 128 MB threshold → release_ann measures the
    // scale-safe lookup shape
    assert(ReleaseShape.N * ReleaseShape.RawDim * 4L >
      RerankShape.DefaultThresholdBytes)
    assert(v.cellBuckets === Buckets)
  }

  test("slim serve path (no rotation tensor on the driver) is bit-identical") {
    val h = built
    val slim = LopqIndexStore.loadSlim(spark, dir).get
    assert(slim.slim.v === h.model.v && slim.cellBuckets === Buckets)
    val v = ReleaseShape.vectors(spark, dir)
    // one serve plan, two rotation sources (resident tensor vs fetched
    // slices), both equal to the driver-side reference
    val ref = new LopqReference(h.model)
    val codes = h.codes.select("id", "cell_id", "fine").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Short](2).toArray)).toSeq
    val vecs = v.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    for (qid <- Seq(42L, 777L)) {
      val full = LopqSearcher.searchSlim(h.serving, v, "vec_id", "embedding",
        ReleaseShape.rowVec(qid), 200, TwinK, ReleaseShape.RerankK).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      val viaSlim = LopqSearcher.searchSlim(slim, v, "vec_id", "embedding",
        ReleaseShape.rowVec(qid), 200, TwinK, ReleaseShape.RerankK).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      assert(viaSlim === full, s"slim serve diverged from the full model for q$qid")
      assert(full === ref.search(codes, vecs, h.cellCounts, h.pca,
        ReleaseShape.rowVec(qid), 200, TwinK, ReleaseShape.RerankK),
        s"serve diverged from the reference for q$qid")
    }
  }

  test("per-query model transfer is O(visited clusters), independent of V") {
    val h = built
    val slim = LopqIndexStore.loadSlim(spark, dir).get
    val q = slim.pca.get(ReleaseShape.rowVec(42L))
    val (d0, d1) = slim.slim.coarseDistances(q)
    val cells = LopqSearcher.selectCellsFrom(slim.slim.v, d0, d1, 200, slim.cellCounts)
    val keys = cells.flatMap { cell =>
      val (c0, c1) = graft.core.CellMath.unpackCell(cell, slim.slim.v)
      Seq((0, c0), (1, c1))
    }.distinct
    val scanDf = LopqIndexStore.rotationSliceScan(spark, dir, keys)
    val fetched = scanDf.collect()
    // exactly the visited clusters' slices move: one (D/2)-row matrix per
    // distinct (split, cluster), nothing else
    assert(fetched.length === keys.size * slim.slim.halfDim)
    val totalRotRows = 2 * slim.slim.v * slim.slim.halfDim
    assert(fetched.length.toDouble / totalRotRows <= 0.6,
      s"slice read fetched ${fetched.length} of $totalRotRows rotation rows")
    // the executed scan must also PRUNE: `part=rot` is a directory filter
    // in the partitioned model layout, so non-tensor files are never listed
    val scan = fileScans(scanDf.queryExecution.executedPlan)
    assert(scan.nonEmpty)
    val filesRead = scan.map(_.metrics("numFiles").value).sum
    val totalModelFiles = parquetFiles(s"$dir/model")
    assert(filesRead < totalModelFiles,
      s"slice read opened $filesRead of $totalModelFiles model files")
  }

  test("rotation-slice LRU makes repeat queries fetch nothing") {
    val h = built
    val slim = LopqIndexStore.loadSlim(spark, dir).get
    val v = ReleaseShape.vectors(spark, dir)
    def run(): Unit =
      LopqSearcher.searchSlim(slim, v, "vec_id", "embedding",
        ReleaseShape.rowVec(6021L), 200, TwinK, ReleaseShape.RerankK).collect()
    val before = LopqIndexStore.sliceRowsFetched.get()
    run()
    val afterFirst = LopqIndexStore.sliceRowsFetched.get()
    assert(afterFirst > before, "first query must fetch its visited slices")
    run()
    assert(LopqIndexStore.sliceRowsFetched.get() === afterFirst,
      "repeat query must be served entirely from the bounded slice cache")
  }

  test("bucketed append is O(batch): new ids land, replayed ids are suppressed") {
    val h = built
    val before = LopqIndexStore.readCodes(spark, dir).count()
    // 100 genuinely new rows + 50 already-indexed ids in one update
    val batch = ReleaseShape.corpus(spark, N + 100)
      .where(col("vec_id") >= N - 50)
    assert(LopqIndexStore.appendUpdate(spark, dir, batch, "vec_id", "embedding",
      "append_000001"))
    val after = LopqIndexStore.readCodes(spark, dir)
    assert(after.count() === before + 100,
      "append must add exactly the new ids (dup ids suppressed)")
    assert(after.columns.contains("cell_bucket"), after.columns.mkString(","))
    // the incremental histogram merge must agree with a full recount
    val loaded = LopqIndexStore.load(spark, dir).get
    val recount = after.groupBy("cell_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(loaded.cellCounts.toMap === recount)
  }
}
