package graft

import org.apache.spark.sql.functions._

import graft.core.UpdateLog
import graft.engine.{LopqIndexStore, LopqParams, LopqSearcher, LopqTrainer, RotationSource}
import graft.ops.{Tables, TextScreen, TextSigStore}

/** Durable-index semantics: model save/load round-trip, on-disk partition
  * pruning of the codes table, incremental append ≡ one-shot encode, and
  * idempotent update replay (ref pickled model `searcher_lopqhbase.py:192`,
  * LMDB cell store `lopq/lopq/search.py:445-470`, incremental `load_codes`
  * `searcher_lopqhbase.py:632-770`). */
class LopqIndexSpec extends SparkSpec {

  private val p = LopqParams(v = 8, m = 4, subClusters = 16, seed = 42L, kmeansMaxIter = 10)
  private val dir = "/root/repo/target/graft-index-test/main"
  private val incrDir = "/root/repo/target/graft-index-test/incr"

  private def deleteDir(d: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(d)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** The trained model and the handle of the index built from it. */
  private lazy val (trained, built) = {
    graft.functions.GraftFunctions.register(spark)
    deleteDir(dir)
    val e = Tables(spark, sf, "embeddings")
    val model = LopqTrainer.train(e, "embedding", p)
    val codes = LopqSearcher.encode(e, "vec_id", "embedding", model)
    (model, LopqIndexStore.build(spark, dir, model, None, codes, p, n = 500, dim = 64))
  }

  test("model round-trips through parquet bit-exactly") {
    val m0 = trained
    val m1 = LopqIndexStore.loadModel(spark, dir)
    val pca1 = LopqIndexStore.loadSlim(spark, dir).get.pca
    assert(pca1.isEmpty)
    assert(m1.v === m0.v && m1.m === m0.m && m1.dim === m0.dim)
    for (s <- 0 until 2; c <- 0 until m0.v) {
      assert(m1.coarse(s)(c).sameElements(m0.coarse(s)(c)))
      assert(m1.mus(s)(c).sameElements(m0.mus(s)(c)))
      for (k <- 0 until m0.halfDim)
        assert(m1.rotations(s)(c)(k).sameElements(m0.rotations(s)(c)(k)))
    }
    for (s <- 0 until 2; f <- 0 until m0.numFineSplits; sc <- 0 until m0.subquantizerClusters)
      assert(m1.subquantizers(s)(f)(sc).sameElements(m0.subquantizers(s)(f)(sc)))
  }

  test("a fresh load serves the same search results without retraining") {
    val h = built
    val loaded = LopqIndexStore.loadSlim(spark, dir).get
    val e = Tables(spark, sf, "embeddings")
    val qv = e.where(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    def run(index: graft.engine.LopqSlimIndex) =
      LopqSearcher.searchSlim(index, e, "vec_id", "embedding", qv, 200, 10, 50)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(run(loaded) === run(h.copy(rotations = RotationSource.Resident(trained.rotations))))
  }

  test("visited-cell filter prunes partitions on disk") {
    val h = built
    val qv = Tables(spark, sf, "embeddings").where(col("vec_id") === 1)
      .select("embedding").head().getSeq[Float](0).toArray
    val df = LopqSearcher.approxStage(h, qv, 200, 10)._1
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    // the IN-list over cell_id must land in PartitionFilters, not a
    // post-scan Filter: the scan reads ONLY the visited cells' directories
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("cell_id"), pf)
  }

  test("cell counts on disk match the codes table") {
    val h = built
    val fromCodes = h.codes.groupBy("cell_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(h.cellCounts.toMap === fromCodes)
    assert(h.cellCounts.total === 500L)
  }

  test("loadIfValid rejects a changed fingerprint") {
    built
    assert(LopqIndexStore.loadSlimIfValid(spark, dir, p, n = 500).isDefined)
    assert(LopqIndexStore.loadSlimIfValid(spark, dir, p, n = 501).isEmpty)
    assert(LopqIndexStore.loadSlimIfValid(spark, dir, p.copy(v = 16), n = 500).isEmpty)
  }

  test("incremental appends reproduce the one-shot encode, replay is a no-op") {
    deleteDir(incrDir)
    LopqIndexStore.initEmpty(spark, incrDir, trained, None, p, 64)
    val e = Tables(spark, sf, "embeddings")
    val b1 = e.where(col("vec_id") < 250)
    val b2 = e.where(col("vec_id") >= 250)
    assert(LopqIndexStore.appendUpdate(spark, incrDir, b1, "vec_id", "embedding", "u000"))
    assert(LopqIndexStore.appendUpdate(spark, incrDir, b2, "vec_id", "embedding", "u001"))
    assert(!LopqIndexStore.appendUpdate(spark, incrDir, b1, "vec_id", "embedding", "u000"),
      "replaying an applied update must be skipped")
    assert(LopqIndexStore.watermark(spark, incrDir) === Some("u001"))

    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "coarse0", "coarse1", "fine", "cell_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getSeq[Short](3).toSeq, r.getInt(4)))
      .sortBy(_._1).toSeq
    assert(snap(LopqIndexStore.readCodes(spark, incrDir))
      === snap(LopqIndexStore.readCodes(spark, dir)))

    // duplicate-id suppression on insert (ref lopq/lopq/search.py:340-364):
    // a NEW update id carrying already-indexed vectors must add no rows —
    // batch-level replay is caught by the manifest, row-level overlap by
    // the id anti-join
    val before = LopqIndexStore.readCodes(spark, incrDir).count()
    assert(LopqIndexStore.appendUpdate(spark, incrDir,
      b1.unionAll(b1), "vec_id", "embedding", "u002"))
    assert(LopqIndexStore.readCodes(spark, incrDir).count() === before,
      "overlapping ids must be suppressed, in-batch and cross-batch")
  }

  test("appendUpdate's dedup scan reads only the touched cell partitions") {
    val h = built
    val cells = h.cellCounts.cellIds.toSeq.sorted
    assert(cells.size > 4, "need several populated cells for a pruning test")
    val some = cells.take(2)
    // the exact read path appendUpdate anti-joins against
    val df = LopqIndexStore.indexedIdsInCells(spark, dir, some)
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cell_id"), plan.take(2000))
    // executed metrics: the scan must touch strictly fewer files than the
    // codes table holds — r4's dedup read the ENTIRE index per append
    df.collect()
    val scan = fileScans(df.queryExecution.executedPlan)
    assert(scan.nonEmpty, "expected a FileSourceScanExec under the dedup read")
    val filesRead = scan.map(_.metrics("numFiles").value).sum
    val fs = new org.apache.hadoop.fs.Path(s"$dir/codes")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/codes"), true)
    var totalFiles = 0
    while (it.hasNext)
      if (it.next().getPath.getName.endsWith(".parquet")) totalFiles += 1
    assert(filesRead > 0 && filesRead < totalFiles,
      s"dedup scan read $filesRead of $totalFiles files — not partition-pruned")
  }

  test("a PCA-fronted index persists and appends through the PCA transform") {
    // the release `lopq_pca` shape: model trained in PCA space, raw
    // vectors appended — the store must apply the persisted PCA before
    // encoding (ref LOPQModelPCA predict, lopq/lopq/model.py:980-1044)
    val pdir = "/root/repo/target/graft-index-test/pca"
    deleteDir(pdir)
    val e = Tables(spark, sf, "embeddings")
    val pca = graft.engine.LopqPca.train(e, "embedding", 32)
    val pcaB = spark.sparkContext.broadcast(pca)
    val applyU = org.apache.spark.sql.functions.udf(
      (v: Seq[Float]) => pcaB.value(v.toArray).toSeq)
    val projected = e.select(col("vec_id"), applyU(col("embedding")).as("pvec"))
    val model = LopqTrainer.train(projected, "pvec", p)
    LopqIndexStore.initEmpty(spark, pdir, model, Some(pca), p, dim = 64)
    // append RAW 64-d vectors; the store projects them to 32-d internally
    assert(LopqIndexStore.appendUpdate(spark, pdir, e, "vec_id", "embedding", "u000"))
    val loaded = LopqIndexStore.loadSlim(spark, pdir).get
    assert(loaded.pca.isDefined && loaded.pca.get.pcaDims === 32)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "coarse0", "coarse1", "fine").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getSeq[Short](3).toSeq))
        .sortBy(_._1).toSeq
    assert(snap(loaded.codes) === snap(
      LopqSearcher.encode(projected, "vec_id", "pvec", model)),
      "store-side PCA append must equal encoding the projected vectors")
    // and the loaded index searches raw-dim queries through the PCA front
    val qv = e.where(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0).toArray
    val hits = LopqSearcher.searchSlim(loaded, e, "vec_id", "embedding",
      qv, 200, 10, 50).collect()
    assert(hits.length === 10)
    assert(hits.map(_.getAs[Long]("id")).contains(7L),
      "the query vector itself must be retrievable through the PCA front")
  }

  test("slim append encode (no tensor on the driver) equals the classic path") {
    val h = built
    val sdir = incrDir + "_slimenc"
    deleteDir(sdir)
    LopqIndexStore.initEmpty(spark, sdir, trained, None, p, 64)
    val e = Tables(spark, sf, "embeddings")
    assert(LopqIndexStore.appendUpdate(spark, sdir,
      e.where(col("vec_id") < 250), "vec_id", "embedding", "u000"))
    assert(LopqIndexStore.appendUpdate(spark, sdir,
      e.where(col("vec_id") >= 250), "vec_id", "embedding", "u001"))
    def snap(d: String) = LopqIndexStore.readCodes(spark, d)
      .select("id", "coarse0", "coarse1", "fine", "cell_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getSeq[Short](3).toSeq, r.getInt(4)))
      .sortBy(_._1).toSeq
    assert(snap(sdir) === snap(dir),
      "slim-encoded appends must equal the one-shot full-model encode")
    // the one encoder, under both rotation sources (the build's resident
    // tensor, the appends' fetched slices), equals the reference's predict
    val ref = new LopqReference(trained)
    val want = e.select("vec_id", "embedding").collect().map { r =>
      val ((c0, c1), fine) = ref.predict(r.getSeq[Float](1).toArray)
      (r.getLong(0), c0, c1, fine.toSeq, c0 * h.slim.v + c1)
    }.sortBy(_._1).toSeq
    assert(snap(dir) === want, "encode diverged from the reference predict")
  }

  test("append adds an O(batch) counts delta file, never a histogram rewrite") {
    val ddir = incrDir + "_delta"
    deleteDir(ddir)
    LopqIndexStore.initEmpty(spark, ddir, trained, None, p, 64)
    val e = Tables(spark, sf, "embeddings")
    def countsFiles: Int = {
      val cp = new org.apache.hadoop.fs.Path(s"$ddir/cell_counts")
      val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(cp)) 0
      else fs.listStatus(cp).count(_.getPath.getName.endsWith(".parquet"))
    }
    assert(LopqIndexStore.appendUpdate(spark, ddir,
      e.where(col("vec_id") < 200), "vec_id", "embedding", "u000"))
    val afterFirst = countsFiles
    assert(LopqIndexStore.appendUpdate(spark, ddir,
      e.where(col("vec_id") >= 200), "vec_id", "embedding", "u001"))
    // one delta file per append: the histogram is a log, not a rewrite
    // (r5 read + rewrote the WHOLE histogram through the driver per batch)
    assert(countsFiles === afterFirst + 1)
    val loaded = LopqIndexStore.loadSlim(spark, ddir).get
    val recount = loaded.codes.groupBy("cell_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(loaded.cellCounts.toMap === recount, "summed deltas must equal a recount")
  }

  test("appends are O(1) files; past the threshold the delta promotes into the base") {
    // the 2048-row release update previously fanned into one file PER
    // TOUCHED PARTITION (~1000 at V=1024) and append latency grew with the
    // table's file count (measured via graft.Probe maintain) — the delta
    // log writes ONE file per append and promotes in bulk
    val ldir = incrDir + "_lsm"
    deleteDir(ldir)
    LopqIndexStore.initEmpty(spark, ldir, trained, None, p, 64)
    val e = Tables(spark, sf, "embeddings")
    def files(sub: String): Int = {
      val cp = new org.apache.hadoop.fs.Path(s"$ldir/$sub")
      val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(cp)) 0
      else {
        val it = fs.listFiles(cp, true)
        var n = 0
        while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        n
      }
    }
    spark.conf.set(LopqIndexStore.CompactDeltaAtConf, "3")
    try {
      for (i <- 0 until 3)
        assert(LopqIndexStore.appendUpdate(spark, ldir,
          e.where(col("vec_id") >= i * 100 && col("vec_id") < (i + 1) * 100),
          "vec_id", "embedding", f"u$i%03d"))
      assert(files("codes_delta") === 3, "exactly ONE delta file per append")
      assert(files("codes") === 0, "no base writes below the threshold")
      // 4th append crosses the threshold → the whole delta (incl. this
      // batch) promotes into the partitioned base
      assert(LopqIndexStore.appendUpdate(spark, ldir,
        e.where(col("vec_id") >= 300 && col("vec_id") < 400),
        "vec_id", "embedding", "u003"))
      assert(files("codes_delta") === 0, "promotion must consume the delta")
      assert(files("codes") > 0)
      assert(LopqIndexStore.readCodes(spark, ldir).count() === 400)
      // crash-replay idempotence: a compacting dir whose rows are ALREADY
      // in the base (crash after the base append, before the dir delete)
      // must promote to nothing — the anti-join eats the duplicates
      LopqIndexStore.readCodes(spark, ldir)
        .select("id", "coarse0", "coarse1", "fine", "cell_id")
        .where(col("id") < 100).repartition(1)
        .write.parquet(s"$ldir/codes_delta_compacting")
      assert(LopqIndexStore.readCodes(spark, ldir).count() === 400,
        "replayed promotion must not duplicate rows")
      assert(files("codes_delta_compacting") === 0, "recovery must consume the dir")
      // and the healed histogram agrees with a recount
      val loaded = LopqIndexStore.loadSlim(spark, ldir).get
      val recount = loaded.codes.groupBy("cell_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(loaded.cellCounts.toMap === recount)
    } finally spark.conf.unset(LopqIndexStore.CompactDeltaAtConf)
  }

  test("counts-log compaction is a distributed job — no histogram through the driver") {
    val cdir = incrDir + "_compact"
    deleteDir(cdir)
    LopqIndexStore.initEmpty(spark, cdir, trained, None, p, 64)
    val e = Tables(spark, sf, "embeddings")
    def countsFiles: Int = {
      val cp = new org.apache.hadoop.fs.Path(s"$cdir/cell_counts")
      val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(cp)) 0
      else fs.listStatus(cp).count(_.getPath.getName.endsWith(".parquet"))
    }
    spark.conf.set(LopqIndexStore.CompactDeltaAtConf, "3")
    try {
      for (i <- 0 until 3)
        assert(LopqIndexStore.appendUpdate(spark, cdir,
          e.where(col("vec_id") >= i * 100 && col("vec_id") < (i + 1) * 100),
          "vec_id", "embedding", f"u$i%03d"))
      assert(countsFiles === 3)
      // the 4th append crosses the threshold → compaction back to one base
      // file, via a pure Spark aggregation (r6 routed the merged histogram
      // through the driver with readCounts().toSeq — O(populated cells))
      val collectedBefore = LopqIndexStore.histogramRowsCollected.get()
      assert(LopqIndexStore.appendUpdate(spark, cdir,
        e.where(col("vec_id") >= 300 && col("vec_id") < 400),
        "vec_id", "embedding", "u003"))
      assert(countsFiles === 1, "compaction must collapse the delta log")
      assert(LopqIndexStore.histogramRowsCollected.get() === collectedBefore,
        "compaction pulled histogram rows through the driver")
      // delta-log semantics unchanged: post-compaction totals still heal
      val loaded = LopqIndexStore.loadSlim(spark, cdir).get
      val recount = loaded.codes.groupBy("cell_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(loaded.cellCounts.toMap === recount)
    } finally spark.conf.unset(LopqIndexStore.CompactDeltaAtConf)
  }

  test("stream update ids order lexically across any batch-id magnitude") {
    // the ≤-watermark replay check requires monotone ids forever: %06d
    // rolled over at 1M micro-batches ("stream_1000000" < "stream_999999")
    // and would have refused every append from then on
    val ids = Seq(0L, 1L, 999999L, 1000000L, Long.MaxValue)
      .map(b => f"stream_$b%019d")
    assert(ids === ids.sorted)
  }

  test("a legacy %06d tip keeps accepting %019d appends (watermark normalization)") {
    // an index persisted before the stream-id format changed holds e.g.
    // 'stream_000001', which sorts ABOVE every new-format id — without
    // normalization isApplied would refuse every future append: silent,
    // permanent data loss on any pre-existing streaming index
    val ldir = incrDir + "_legacy"
    deleteDir(ldir)
    LopqIndexStore.initEmpty(spark, ldir, trained, None, p, 64)
    val e = Tables(spark, sf, "embeddings")
    assert(LopqIndexStore.appendUpdate(spark, ldir,
      e.where(col("vec_id") < 100), "vec_id", "embedding", "stream_000001"))
    // new-format id for micro-batch 2 — lexically BELOW the legacy tip raw,
    // numerically above it
    assert(f"stream_${2L}%019d" < "stream_000001", "precondition: raw order is inverted")
    assert(LopqIndexStore.appendUpdate(spark, ldir,
      e.where(col("vec_id") >= 100 && col("vec_id") < 200),
      "vec_id", "embedding", f"stream_${2L}%019d"),
      "a new-format id above the legacy watermark must be applied")
    // and a replay at-or-below the (numeric) watermark is still refused
    assert(!LopqIndexStore.appendUpdate(spark, ldir,
      e.where(col("vec_id") < 100), "vec_id", "embedding", f"stream_${1L}%019d"))
    assert(!LopqIndexStore.appendUpdate(spark, ldir,
      e.where(col("vec_id") < 100), "vec_id", "embedding", "stream_000002"))
    // ids without a trailing digit run pass through normalization verbatim
    assert(UpdateLog.normalizeUpdateId("0000-00-00_full_build")
      === "0000-00-00_full_build")
    assert(UpdateLog.normalizeUpdateId("stream_000001")
      === f"stream_${1L}%019d")
    // the text store commits through the same tip: a legacy-tipped store
    // applies a new-format update, and its delta is visible in `sigs`
    val tdir = incrDir + "_legacy_text"
    deleteDir(tdir)
    TextSigStore.build(spark, tdir, docs(0 until 20))
    assert(TextScreen.screenAndAppend(spark, tdir, docs(0 until 20),
      docs(20 until 25), "stream_000001").applied)
    val next = f"stream_${2L}%019d"
    assert(TextScreen.screenAndAppend(spark, tdir, docs(0 until 25),
      docs(25 until 30), next).applied,
      "a new-format id above the legacy text watermark must be applied")
    assert(new java.io.File(s"$tdir/sigs/$next").isDirectory)
    assert(TextSigStore.sigs(spark, tdir).select("doc_id").collect()
      .map(_.getLong(0)).toSet === (0L until 30L).toSet)
    assert(!TextScreen.screenAndAppend(spark, tdir, docs(0 until 30),
      docs(30 until 35), "stream_000002").applied)
  }

  /** Synthetic documents sharing no shingle: every batch doc survives. */
  private def docs(ids: Range): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    ids.map(i => (i.toLong, (0 until 12).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("cache entries of a stopped SparkSession are swept on insert") {
    val h = built
    // populate the session-keyed slice cache for the live session (the
    // model caches share the same sweep, called on their insert paths too)
    LopqIndexStore.rotationSlices(spark, dir, Seq((0, 0)))
    assert(LopqIndexStore.sessionCacheEntries > 0)
    // a sweep that believes every session is stopped drops everything —
    // the production predicate is sparkContext.isStopped, checked on every
    // insert path, so a long-lived JVM cycling sessions cannot accumulate
    // model copies + slice LRUs for dead sessions
    LopqIndexStore.sweepStoppedSessions(_ => true)
    assert(LopqIndexStore.sessionCacheEntries === 0)
    // the live session repopulates on next use
    LopqIndexStore.rotationSlices(spark, dir, Seq((0, 0)))
    assert(LopqIndexStore.sessionCacheEntries > 0)
  }

  test("a refused replay is decided from the tip alone — zero Spark jobs") {
    deleteDir(incrDir + "_tip")
    LopqIndexStore.initEmpty(spark, incrDir + "_tip", trained, None, p, 64)
    val e = Tables(spark, sf, "embeddings")
    assert(LopqIndexStore.appendUpdate(spark, incrDir + "_tip", e, "vec_id",
      "embedding", "u000"))
    // r5 collected the FULL manifest per append (O(updates-ever) driver
    // work); the tip makes the replay check one sidecar-file read — pinned
    // by asserting the refusal path schedules no Spark job at all
    // the text store's screened cycle refuses its replay the same way
    val tdir = incrDir + "_tip_text"
    deleteDir(tdir)
    TextSigStore.build(spark, tdir, docs(0 until 20))
    val (corpus, batch) = (docs(0 until 20), docs(20 until 25))
    assert(TextScreen.screenAndAppend(spark, tdir, corpus, batch, "u000").applied)
    spark.sparkContext.setJobGroup("replay-refusal", "must stay empty")
    try {
      assert(!LopqIndexStore.appendUpdate(spark, incrDir + "_tip", e, "vec_id",
        "embedding", "u000"))
      assert(!TextScreen.screenAndAppend(spark, tdir, corpus, batch, "u000").applied)
      val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("replay-refusal")
      assert(jobs.isEmpty, s"refusal ran Spark jobs: ${jobs.toSeq}")
    } finally spark.sparkContext.clearJobGroup()
  }

  test("load self-heals a cell histogram skewed by a crashed append") {
    import org.apache.spark.sql.functions.{col => c, lit}
    val cdir = incrDir + "_crash"
    deleteDir(cdir)
    LopqIndexStore.initEmpty(spark, cdir, trained, None, p, 64)
    val e = Tables(spark, sf, "embeddings")
    assert(LopqIndexStore.appendUpdate(spark, cdir, e, "vec_id", "embedding", "u000"))
    // simulate the crash window between the codes append and the counts
    // merge: halve every count on disk, out of band
    val skewed = spark.read.parquet(s"$cdir/cell_counts")
      .withColumn("cnt", (c("cnt") / lit(2)).cast("long")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    import spark.implicits._
    skewed.toDF("cell_id", "cnt").repartition(1)
      .write.mode("overwrite").parquet(s"$cdir/cell_counts")
    val loaded = LopqIndexStore.loadSlim(spark, cdir).get
    val recount = loaded.codes.groupBy("cell_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(loaded.cellCounts.toMap === recount, "load must rebuild a skewed histogram")
  }

  test("evictModel makes appends see an out-of-process model swap") {
    val adir = incrDir + "_swap"
    deleteDir(adir)
    LopqIndexStore.initEmpty(spark, adir, trained, None, p, 64)
    val e = Tables(spark, sf, "embeddings")
    // populate the model cache for adir
    assert(LopqIndexStore.appendUpdate(spark, adir,
      e.where(col("vec_id") < 100), "vec_id", "embedding", "u000"))
    // out-of-band rebuild: a DIFFERENT model lands under adir (copy the
    // model files of a fresh differently-seeded index, no saveModel in
    // this JVM → the cache has no idea)
    val otherDir = incrDir + "_swap_other"
    deleteDir(otherDir)
    val m2 = LopqTrainer.train(e, "embedding", p.copy(seed = 4242L))
    LopqIndexStore.initEmpty(spark, otherDir, m2, None, p.copy(seed = 4242L), 64)
    val fs = new org.apache.hadoop.fs.Path(adir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$adir/model"), true)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$otherDir/model"),
      fs, new org.apache.hadoop.fs.Path(s"$adir/model"),
      false, spark.sparkContext.hadoopConfiguration)
    // the ADVICE r5 scenario: without the evict, this append would encode
    // with the STALE cached model
    LopqIndexStore.evictModel(adir)
    val batch = e.where(col("vec_id") >= 100 && col("vec_id") < 200)
    assert(LopqIndexStore.appendUpdate(spark, adir, batch, "vec_id", "embedding", "u001"))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "coarse0", "coarse1", "fine").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getSeq[Short](3).toSeq))
        .sortBy(_._1).toSeq
    val appended = LopqIndexStore.readCodes(spark, adir)
      .where(col("id") >= 100 && col("id") < 200)
    assert(snap(appended) === snap(
      LopqSearcher.encode(batch, "vec_id", "embedding", m2)),
      "append after evictModel must encode with the swapped-in model")
  }

  test("a streaming query maintains the persisted index incrementally") {
    val streamDir = "/root/repo/target/graft-index-test/stream"
    deleteDir(streamDir)
    LopqIndexStore.initEmpty(spark, streamDir, trained, None, p, 64)
    val e = Tables(spark, sf, "embeddings")
    // first half arrives as a batch seed; second half streams in two
    // micro-batches through foreachBatch → appendUpdate
    assert(LopqIndexStore.appendUpdate(spark, streamDir,
      e.where(col("vec_id") < 250), "vec_id", "embedding", "seed_000000"))
    val staged = "/root/repo/target/graft-index-test/stream_staged"
    deleteDir(staged)
    e.where(col("vec_id") >= 250 && col("vec_id") < 375)
      .repartition(1).write.mode("append").parquet(staged)
    e.where(col("vec_id") >= 375)
      .repartition(1).write.mode("append").parquet(staged)
    def drain(ckpt: String): Unit = {
      val src = spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
      graft.streaming.IndexMaintenance
        .maintain(spark, streamDir, src, "vec_id", "embedding", ckpt)
        .awaitTermination()
    }
    drain(s"$streamDir/_ckpt1")

    def snap(d: String) = LopqIndexStore.readCodes(spark, d)
      .select("id", "coarse0", "coarse1", "fine", "cell_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getSeq[Short](3).toSeq, r.getInt(4)))
      .sortBy(_._1).toSeq
    assert(snap(streamDir) === snap(dir),
      "streamed index must equal the one-shot encode")
    assert(LopqIndexStore.watermark(spark, streamDir).exists(_.startsWith("stream_")))

    // a replayed drain (fresh checkpoint, same files → same batch-id update
    // ids) must be refused by the manifest and add nothing
    val before = LopqIndexStore.readCodes(spark, streamDir).count()
    drain(s"$streamDir/_ckpt2")
    assert(LopqIndexStore.readCodes(spark, streamDir).count() === before,
      "manifest must make the stream replay a no-op")
  }
}
