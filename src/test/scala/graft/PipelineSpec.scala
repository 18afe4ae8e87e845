package graft

import org.apache.spark.sql.functions._

import graft.engine.AnnIndexes
import graft.ops.{Extract, PipelineOps, Transport}

/** Specs for the round-4 pipeline surface: detector/featurizer UDTF,
  * upsert sink, transport abstraction, AnnIndex plugin, and the new
  * catalog entries end-to-end at sf0.001 (the oracle gate re-checks them
  * at sf0.01 against DuckDB). */
class PipelineSpec extends SparkSpec {

  test("stub detector is deterministic and emits 1-3 detections") {
    val payload = "some document text".getBytes("UTF-8")
    val a = Extract.StubDetector.detect(payload)
    val b = Extract.StubDetector.detect(payload)
    assert(a == b)
    assert(a.nonEmpty && a.size <= 3)
    a.foreach { bb =>
      assert(bb.right > bb.left && bb.bottom > bb.top)
      assert(bb.score >= 0.0 && bb.score <= 1.0)
    }
    val f = Extract.StubFeaturizer.featurize(payload, a.head)
    assert(f.length == Extract.StubFeaturizer.dim)
    assert(f.sameElements(Extract.StubFeaturizer.featurize(payload, a.head)))
  }

  test("extract explodes one row per detection (UDTF shape)") {
    import spark.implicits._
    val ds = Seq((1L, "alpha beta".getBytes("UTF-8")), (2L, "gamma".getBytes("UTF-8")))
      .toDS()
    val out = Extract.extract(ds, Extract.StubDetector, Extract.StubFeaturizer)
    val n1 = Extract.StubDetector.detect("alpha beta".getBytes("UTF-8")).size
    val n2 = Extract.StubDetector.detect("gamma".getBytes("UTF-8")).size
    assert(out.count() == n1 + n2)
    assert(out.columns.toSeq ==
      Seq("doc_id", "det_idx", "left", "top", "right", "bottom", "score", "feature"))
  }

  test("upsert keeps the latest version per key") {
    import spark.implicits._
    val base = Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "version")
    val u1 = Seq((2L, "b2", 1L), (3L, "c", 1L)).toDF("k", "v", "version")
    val got = PipelineOps.upsert(base, u1, Seq("k"), "version")
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", 0L), (2L, "b2", 1L), (3L, "c", 1L)))
  }

  test("transport file endpoint streams; kafka connector absent in sandbox") {
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val src = Transport.source(spark,
      Transport.FileEndpoint(s"$sf/events*.parquet", schema))
    assert(src.isStreaming)
    assert(!Transport.kafkaAvailable) // documents the sandbox's classpath
  }

  test("AnnIndex brute-force returns exact ascending top-k") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = AnnIndexes.brute(e, "vec_id", "embedding")
    val q = e.where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val top = idx.search(q, 5).collect()
    assert(top.length == 5)
    assert(top.head.getLong(0) == 0L) // self-match at distance 0
    val dists = top.map(_.getDouble(1)).toSeq
    assert(dists == dists.sorted)
  }

  test("new catalog entries run end-to-end at sf0.001 with rows > 0") {
    for (name <- Seq("q40_detect", "q46_binary_dir_source", "q47_api_response_shape",
        "q48_dead_letter_repair", "q49_upsert_sink", "q50_stream_foreachbatch",
        "q51_unprocessed_filter", "q52_update_id_parse")) {
      val n = SparkEntry.queries(name)(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("q52 round-trip flag is true for every row") {
    val df = SparkEntry.queries("q52_update_id_parse")(spark, sf)
    assert(df.where(!col("roundtrip_ok")).count() == 0)
  }

  test("q53 ingest pipeline claims, dedups, and batches on ImageRecord") {
    val df = SparkEntry.queries("q53_ingest_pipeline")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).distinct.length == rows.length) // sha-unique
    assert(rows.forall(_.getString(1).startsWith("index_update_")))
  }

  test("GraftApi searchByIds returns shaped JSON matching brute search") {
    val api = new GraftApi(spark, sf, searcherName = "brute")
    val out = api.searchByIds(Seq(0L, 3L), 4).collect()
    assert(out.length == 2)
    val resp0 = out(0).getString(1)
    assert(out(0).getLong(0) == 0L)
    assert(resp0.startsWith("""{"queryId":0,"similarIds":["""))
    // brute search of vec 0 starts with itself (distance 0)
    assert(resp0.contains(""""similarIds":[0,"""))
    assert(resp0.contains("distancesMicro"))
  }

  test("GraftApi refresh reloads the persisted lopq index") {
    val api = new GraftApi(spark, sf, searcherName = "lopq")
    api.refresh() // must rebuild-or-reload without error and stay servable
    val out = api.searchByIds(Seq(1L), 3).collect()
    assert(out.length == 1 && out(0).getString(1).contains(""""queryId":1"""))
  }

  test("GraftApi searchByImages runs payload→detect→featurize→rank end to end") {
    val docs = graft.ops.Tables(spark, sf, "documents").where(col("doc_id") < 2)
      .select(col("doc_id"), col("text").cast("binary").as("p"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq.sortBy(_._1)
    val api = new GraftApi(spark, sf)
    val out = api.searchByImages(docs, 3).collect()
    // exactly k ranked neighbors per query image, ranks 1..k in order
    assert(out.length == docs.length * 3)
    docs.map(_._1).foreach { q =>
      assert(out.filter(_.getLong(0) == q).map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    }
    // the query's own image never appears among its neighbors
    assert(out.forall(r => r.getLong(2) != r.getLong(0)))
    // distances are non-decreasing with rank (per query)
    docs.map(_._1).foreach { q =>
      val micros = out.filter(_.getLong(0) == q).sortBy(_.getLong(1)).map(_.getLong(4))
      assert(micros.sameElements(micros.sorted))
    }
    // deterministic: a second call returns the identical rows
    assert(api.searchByImages(docs, 3).collect().toSeq == out.toSeq)
  }

  test("GraftApi lopq_slim serves the same responses as lopq") {
    // the release-magnitude searcher is a conf-name swap for a facade user
    val full = new GraftApi(spark, sf, searcherName = "lopq")
      .searchByIds(Seq(0L, 7L), 5).collect().map(_.getString(1)).toSeq
    val slim = new GraftApi(spark, sf, searcherName = "lopq_slim")
      .searchByIds(Seq(0L, 7L), 5).collect().map(_.getString(1)).toSeq
    assert(slim === full)
    // and both (resident vs fetched rotation slices) are the reference's
    // serve semantics, shaped like the API response
    val h = graft.ops.EngineOps.index(spark, sf)
    val ref = new LopqReference(graft.engine.LopqIndexStore.loadModel(spark, h.dir))
    val codes = h.codes.select("id", "cell_id", "fine").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Short](2).toArray)).toSeq
    val vecs = graft.ops.Tables(spark, sf, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val want = Seq(0L, 7L).map { q =>
      val hits = ref.search(codes, vecs, h.cellCounts, None, vecs(q), 200, 5, 50)
        .map { case (id, _, exact) => (math.floor(exact * 1e6 + 0.5).toLong, id) }.sorted
      s"""{"queryId":$q,"similarIds":[${hits.map(_._2).mkString(",")}],""" +
        s""""distancesMicro":[${hits.map(_._1).mkString(",")}]}"""
    }
    assert(full === want)
  }

  /** The catalog serves (q34 resident, q69 fetched, q70 batch join) and the
    * API searchers share ONE handle per (session, dir): the index is loaded
    * once — one histogram-heal count — and `refreshIndex` replaces the
    * handle and evicts the dir's cached model. */
  test("one index handle per (session, dir) across the catalog serves and the API") {
    import graft.engine.LopqIndexStore
    import graft.ops.EngineOps
    val e = graft.ops.Tables(spark, sf, "embeddings")
    val queries = e.where(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("embedding"))
    val probe = e.where(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    // SQL executions by call site: AQE runs one count as two jobs
    val heals = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(ev: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        ev match {
          case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if x.description.startsWith("count at LopqIndexStore.scala") =>
            heals.incrementAndGet(); ()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val handles = try {
      val h0 = EngineOps.refreshIndex(spark, sf)
      h0 +: Seq[() => Unit](
        () => SparkEntry.queries("q34_lopq_ann")(spark, sf).collect(),
        () => SparkEntry.queries("q69_lopq_ann_slim")(spark, sf).collect(),
        () => SparkEntry.queries("q70_ann_join")(spark, sf).collect(),
        () => new GraftApi(spark, sf).searchBulk(queries, "q_id", "embedding", 5).collect(),
        () => new GraftApi(spark, sf, "lopq").searchByVectors(Seq(3L -> probe), 5).collect()
      ).map { run => run(); EngineOps.index(spark, sf) }
    } finally {
      org.apache.spark.sql.graft.GraftBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(handles.forall(_ eq handles.head), "a serve path loaded its own handle")
    assert(heals.get === 1, "the histogram heal must run once, at the one load")
    LopqIndexStore.sweepStoppedSessions()
    val before = LopqIndexStore.sessionCacheEntries
    val h1 = EngineOps.refreshIndex(spark, sf)
    assert(!(h1 eq handles.head), "refreshIndex must hand back a fresh handle")
    assert(EngineOps.index(spark, sf) eq h1)
    // the dir's cached model pair and slice cache are evicted; the reload
    // re-opens only its slice cache
    assert(LopqIndexStore.sessionCacheEntries === before - 1)
  }

  /** The one-call self-dedup facade must reproduce q73's oracle-gated pair
    * set through the CHUNKED driver (here 500 probes at 64/chunk → 8
    * chunks, per-chunk verify + parquet append, global distinct at read
    * back) when run at the same exactness bounds. */
  test("GraftApi dedupCorpus (chunked) reproduces the exact verified pair set") {
    import graft.ops.EngineOps
    val out = java.nio.file.Files.createTempDirectory("graft_dedup_corpus").toString
    val got = new GraftApi(spark, sf)
      .dedupCorpus(out, quota = EngineOps.DedupQuota, k = EngineOps.DedupK,
        rerankK = EngineOps.dedupRerankK(500L), chunkRows = 64)
      .collect().toSeq
    val want = SparkEntry.queries("q73_anndedup_pairs")(spark, sf).collect().toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  /** The semantic-dedup facade must return exactly q95's survivor rows
    * (every original embeddings column, non-canonical members gone). */
  test("GraftApi semDedupCorpus survivors match the q95 gate") {
    val got = new GraftApi(spark, sf).semDedupCorpus()
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val want = SparkEntry.queries("q95_semdedup_corpus")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got === want)
    val all = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(got.size < all.toInt, "facade must actually drop duplicates")
  }

  /** The multi-probe corpus dedup can only ever DROP MORE: extra top-2
    * edges merge components, and a non-minimum member stays non-minimum
    * when its component's min can only decrease. The chunked multi-probe
    * route must agree with the one-shot despite a both-cells-shared pair
    * draining from two chunks (duplicate edges, CC-idempotent). */
  test("GraftApi semDedupCorpus multiProbe survivors ⊆ single-cell; chunked ≡ one-shot") {
    val api = new GraftApi(spark, sf)
    val single = api.semDedupCorpus()
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val multi = api.semDedupCorpus(multiProbe = true)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(multi.subsetOf(single), "multi-probe must only drop more")
    val out = java.nio.file.Files
      .createTempDirectory("graft_mp_pairs").toString + "/pairs"
    val chunkedMulti = api
      .semDedupCorpusChunked(out, nChunks = 3, multiProbe = true)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(chunkedMulti === multi)
  }

  /** The one-shot default route must refuse to run past the session's
    * scratch bound instead of dying mid-shuffle (VERDICT r13 "What's
    * wrong #1": curateCorpus() at deployment width reproduced the r12
    * ENOSPC with the fix one parameter away) — and the error must NAME
    * the chunked route, which keeps working under the same bound. */
  test("semDedupCorpus/curateCorpus fail fast past the scratch bound, naming outDir") {
    import graft.ops.VectorQueries
    val api = new GraftApi(spark, sf)
    val want = api.semDedupCorpus() // default bound: one-shot fits
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // bound tight enough that the gate corpus needs >1 chunk
    spark.conf.set(VectorQueries.SemDedupChunkShuffleMaxBytesConf, "65536")
    try {
      val ex = intercept[IllegalArgumentException](api.semDedupCorpus())
      assert(ex.getMessage.contains("semDedupCorpusChunked") &&
        ex.getMessage.contains("outDir"), ex.getMessage)
      val ex2 = intercept[IllegalArgumentException](api.curateCorpus())
      assert(ex2.getMessage.contains("outDir"), ex2.getMessage)
      // multiProbe must be refused BEFORE the full-corpus top-P encode
      // (VERDICT r14 "what's wrong #1"): the encode path ends in a
      // localCheckpoint, which registers a persistent RDD — a guard that
      // fired after it would leave one behind here
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      val ex3 = intercept[IllegalArgumentException](
        api.semDedupCorpus(multiProbe = true))
      assert(ex3.getMessage.contains("semDedupCorpusChunked"), ex3.getMessage)
      assert(spark.sparkContext.getPersistentRDDs.keySet === rddsBefore,
        "the multiProbe guard must fire before the assignment encode " +
          "materializes anything")
      // the named route runs under the SAME bound and returns the same rows
      val out = java.nio.file.Files
        .createTempDirectory("graft_footgun_pairs").toString + "/pairs"
      val got = api.semDedupCorpusChunked(out)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got === want)
    } finally spark.conf.unset(VectorQueries.SemDedupChunkShuffleMaxBytesConf)
  }

  /** Ingest screening: a batch of EXACT copies of corpus vectors under
    * fresh ids must each be flagged against its source — encode is
    * deterministic, so a copy lands in its source's cell and pairs at
    * cos = 1.0. Ids the batch doesn't duplicate must not be flagged
    * against each other unless they near-duplicate within the batch's
    * touched cells (subset check against the full sweep's semantics). */
  test("GraftApi semDedupIncrement flags planted exact copies against their sources") {
    val offset = 10000000L
    val batch = spark.read.parquet(s"$sf/embeddings.parquet")
      .where(col("vec_id") % 5 === 0)
      .select((col("vec_id") + offset).as("vec_id"), col("embedding"))
    val srcIds = batch.select(col("vec_id") - offset).collect().map(_.getLong(0)).toSet
    assert(srcIds.nonEmpty)
    val pairs = new GraftApi(spark, sf)
      .semDedupIncrement(batch, "vec_id", "embedding")
      .collect()
    // every planted copy pairs with its own source at cosine 1
    val got = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
      r.getAs[Double]("cos_sim")))
    srcIds.foreach { s =>
      assert(got.exists(p => p._1 == s && p._2 == s + offset && p._3 == 1.0),
        s"planted copy of $s not flagged")
    }
    // and nothing pairs corpus-with-corpus: one side of every pair is new
    got.foreach { case (a, b, _) =>
      assert(a >= offset || b >= offset, s"corpus-only pair ($a,$b) leaked in")
    }
  }

  /** VERDICT r14 next-round #6: the probe's `_DRAINED`-gated restart
    * lever, promoted into the library. Pins (a) a completed drain resumes
    * WITHOUT re-sweeping — the pair parquet under outDir is untouched
    * byte-for-byte and the manifest is identical; (b) a MID-sweep crash
    * (sentinel absent, pair set partial) is NOT resumable-as-is — the
    * sweep re-runs from scratch and heals to the same manifest (chunk 0's
    * overwrite wipes the partial remains); (c) resume without outDir is
    * refused (only the chunked drain persists a resumable pair set). */
  test("curateCorpus(multiProbe) resume reuses a completed drain; a mid-sweep crash re-sweeps") {
    val api = new GraftApi(spark, sf)
    val out = java.nio.file.Files
      .createTempDirectory("graft_resume_pairs").toString + "/pairs"
    def manifest(resume: Boolean) = api
      .curateCorpus(outDir = Some(out), nChunks = 3, multiProbe = true,
        resume = resume)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val full = manifest(resume = false)
    assert(full.nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val drained = new org.apache.hadoop.fs.Path(s"$out/_DRAINED")
    assert(fs.exists(drained), "a completed drain must leave the sentinel")
    def snapshot() = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1).toSeq
    val before = snapshot()
    // (a) resume on a completed drain: identical manifest, outDir untouched
    assert(manifest(resume = true) === full)
    assert(snapshot() === before,
      "resume on a completed drain must not rewrite the pair set")
    // (b) mid-sweep crash: sentinel gone, pair set partial → must re-sweep
    fs.delete(drained, false)
    val somePart = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.delete(somePart, false)
    assert(manifest(resume = true) === full,
      "a mid-sweep crash window must heal to the same manifest")
    assert(fs.exists(drained), "the healed drain must re-commit the sentinel")
    // (c) resume is chunked-route-only
    val ex = intercept[IllegalArgumentException](
      api.curateCorpus(multiProbe = true, resume = true))
    assert(ex.getMessage.contains("outDir"), ex.getMessage)
    // (d) ADVICE r15: the sentinel carries the drain's operating point
    // (simThreshold / multiProbe / corpus rows) — resuming at a different
    // point must fail fast, never silently reuse the wrong pair set
    val ex2 = intercept[IllegalArgumentException](
      api.curateCorpus(simThreshold = 0.777, outDir = Some(out),
        nChunks = 3, multiProbe = true, resume = true))
    assert(ex2.getMessage.contains("operating"), ex2.getMessage)
    val ex3 = intercept[IllegalArgumentException](
      api.curateCorpus(outDir = Some(out), nChunks = 3, multiProbe = false,
        resume = true))
    assert(ex3.getMessage.contains("operating"), ex3.getMessage)
  }
}
