package graft

import org.apache.spark.sql.SparkSession

import graft.engine.{LopqIndexStore, LopqSearcher, ReleaseShape, ReleaseShapeDef}

/** Dev probes at the release shapes, one mode per question. Each mode runs
  * on the [[Probe.session]] and accepts `conf:key=value` args
  * ([[Probe.confArgs]]); shape names are `v1`–`v4` ([[Probe.shape]]).
  * The per-stage split of one slim query is `runMain graft.Probe serve`.
  * Usage: runMain graft.ProbeRelease histogram
  *        runMain graft.ProbeRelease rerank [v4|wide|ann_v4] [passes]
  *        runMain graft.ProbeRelease annjoin [v1..v4] [nQueries...]
  *        runMain graft.ProbeRelease dedup [v1..v4] [nProbes] [quota] [rerankK] [jitter[:eps]] [chunk[:rows]] [passes:N]
  *        runMain graft.ProbeRelease semdedup [v1..v4] [threshold] [sample:mod] [chunk[:n]] [incr:mod] [multi[:P]]
  *        runMain graft.ProbeRelease ingest [v1..v4] [batchRows] [sweep:t1,t2,...] [multi]
  *        runMain graft.ProbeRelease stream [v1..v4] [nBatches] [batchRows] [compactAt]
  *        runMain graft.ProbeRelease curation [v1..v4] [quota] [keepFrac]
  *        runMain graft.ProbeRelease curatepipe [v1..v4] [threshold] [keepFrac] [chunk[:n]] [multi] [resume]
  *        runMain graft.ProbeRelease cellmiss [v1..v4] [nSample] [eps:e1,e2,...]
  *
  * Every mode also takes `maxResultSize:<size>`, the session's
  * `spark.driver.maxResultSize` (dedup: 4g by default); the annJoin gates
  * derive from half of it ([[graft.engine.AnnJoinPlan]]).
  *
  * `annjoin` mode times the SET-ORIENTED batch path at each given batch
  * size (default 250 1000 2000) against the chosen release index — the
  * amortized ms/query across sizes is the flat-scaling evidence for the
  * bulk-probe regime (`annjoin_release_v2` records the 1000-probe point;
  * this probe shows the trend around it).
  *
  * `histogram` mode instead times [[graft.core.CellHistogram.selectCells]]
  * on a synthetic FULLY-SATURATED release grid (V=4096/split → 16.7M
  * populated cells) — the 100-TB worst case the driver-resident histogram
  * must survive (VERDICT r6 "What's wrong #2" done-condition). */
object ProbeRelease {

  /** Worst-case selection probe: every one of the 16,777,216 cells
    * populated, release quota. Prints per-pass latency; no Spark needed. */
  private def probeHistogram(): Unit = {
    val v = 4096
    val p = v * v
    val rnd = new scala.util.Random(7L)
    val ids = Array.range(0, p)
    val cnts = Array.fill(p)(1L + rnd.nextInt(200))
    val hist = graft.core.CellHistogram.fromSorted(ids, cnts)
    val mb = (ids.length * 12L) >> 20
    println(s"[probe-release] synthetic histogram: P=$p cells, ~$mb MB primitive arrays")
    (1 to 5).foreach { pass =>
      val d0 = Array.fill(v)(rnd.nextDouble())
      val d1 = Array.fill(v)(rnd.nextDouble())
      val t0 = System.nanoTime()
      val cells = hist.selectCells(v, d0, d1, ReleaseShape.Quota)
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[probe-release] selectCells pass $pass%d ${ms}%9.1f ms (${cells.size} cells)")
    }
  }

  /** Batch-path flat-scaling probe: one annJoin per batch size, amortized
    * ms/query printed per pass (handle — and its hoisted broadcasts —
    * shared across passes like a resident bulk service). */
  private def probeAnnJoin(spark: SparkSession, s: ReleaseShapeDef,
      sizes: Seq[Int]): Unit = {
    val idx = LopqIndexStore.loadSlim(spark, s.dir).get
    sizes.foreach { n =>
      (1 to 3).foreach { pass =>
        val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        Probe.noop(ReleaseShape.annJoinFor(spark, s, idx, n))
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => cachedBefore(id) }
          .values.foreach(_.unpersist(blocking = false))
        println(f"[probe-release] annjoin ${s.name} n=$n%-6d pass $pass " +
          f"${sec}%7.2f s total  ${sec * 1000 / n}%7.2f ms/query")
      }
    }
  }

  /** I/O-attributed probe of the big-table release rows (VERDICT r11
    * next-round #4): the rows that drifted r10→r11 (`release_rerank_v4`,
    * `release_rerank_wide`, `release_ann_v4`) are exactly the rows whose
    * rerank reads the ≥16 GB staged feature tables — tables too big to
    * stay fully page-cached on this machine — so each pass prints the
    * machine read-bytes delta next to its wall-clock. If a pass whose
    * bytes collapse to ~0 (pre-primed cache) also collapses to the r10
    * medians, the drift is PAGE-CACHE STATE, not a plan regression.
    * Runs the bench row's exact shape: 5 serial queries (qid = q·997),
    * each fully materialized through a noop write. */
  private def probeRerank(spark: SparkSession, which: String, passes: Int): Unit = {
    val searchFor: Long => org.apache.spark.sql.DataFrame = which match {
      case "wide" => qid => ReleaseShape.rerankWide(spark, qid)
      case "ann_v4" =>
        val idx = LopqIndexStore.loadSlim(spark, ReleaseShape.V4.dir).get
        qid => ReleaseShape.searchSlim(spark, ReleaseShape.V4, idx, qid)
      case "v4" => qid => ReleaseShape.rerankV4(spark, qid)
      case other => throw new IllegalArgumentException(
        s"unknown rerank table '$other' (want one of v4|wide|ann_v4)")
    }
    println(s"[probe-release] rerank $which passes=$passes (5 serial queries/pass)")
    (1 to passes).foreach { pass =>
      val b0 = graft.core.DiskStats.readBytes()
      val t0 = System.nanoTime()
      (0 until 5).foreach(q => Probe.noop(searchFor(q.toLong * 997L)))
      val sec = (System.nanoTime() - t0) / 1e9
      val mb = (graft.core.DiskStats.readBytes() - b0) / 1e6
      println(f"[probe-release] rerank $which pass $pass  ${sec}%6.2f s   " +
        f"disk-read ${mb}%8.1f MB")
    }
  }

  /** Corpus-SELF-dedup probe at release magnitude (VERDICT r9 "What's
    * missing #1" / next-round #3): every corpus vector is a probe through
    * ONE [[LopqSearcher.annJoin]] plan — the vector-granularity analogue
    * of the reference's extraction dedup pass
    * (`updater/extraction_checker.py:225-258`), at the probe count where
    * the batch gates cross into their large-batch regimes: the query
    * payload passes the query-side broadcast bound (SMJ fan-out join) and
    * the candidate set passes the broadcast-candidate bound (shuffle rerank
    * join); both derive from the session's `spark.driver.maxResultSize`
    * ([[graft.engine.AnnJoinPlan]]). The regimes that RAN are printed from the engine's own gate
    * notes ([[LopqSearcher.lastPlanNotes]]), not inferred from timings.
    *
    * Unlike the exactness-gated q73 (tiny model, rerank prefix = whole
    * candidate pool), this is the PRODUCTION configuration: the candidate
    * POOL is bounded by a dedup-sized quota (a near-duplicate shares its
    * probe's top cells — visiting 10k codes per probe buys nothing) and
    * the rerank prefix is BOUNDED (`rerankK` ≪ pool). The price of those
    * bounds is measured, not assumed: exact top-k neighbors of a sampled
    * probe set are brute-forced and the recall of the bounded batch
    * output against them is printed. */
  private def probeDedup(spark: SparkSession, s: ReleaseShapeDef,
      nProbesArg: Option[Int], quota: Int, rerankK: Int, jitterEps: Option[Double],
      chunkRows: Option[Long], passesArg: Option[Int]): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val k = 10
    val idx = LopqIndexStore.loadSlim(spark, s.dir).get
    val vectors = ReleaseShape.vectors(spark, s.dir)
    val nProbes = nProbesArg.getOrElse(s.n.toInt)
    println(s"[probe-release] dedup ${s.name} nProbes=$nProbes quota=$quota " +
      s"rerankK=$rerankK k=$k" +
      jitterEps.map(e => s" jitterEps=$e").getOrElse("") +
      chunkRows.map(r => s" chunked(rows=${if (r > 0) r.toString else "auto"})")
        .getOrElse(""))
    // Two probe modes, two questions:
    //   - SELF (default): probes ARE corpus rows → recall measures the
    //     in-cluster kNN ranking of the bounded prefix — the hard ANN
    //     metric, and on a synthetic corpus with NO planted near-dups
    //     (every cluster sibling roughly equidistant) the prefix ranks the
    //     tail near-randomly at wide D, so the number can collapse without
    //     meaning the DEDUP job fails.
    //   - JITTERED: each probe is a corpus row plus eps·N(0,1) noise — a
    //     PLANTED near-duplicate whose distance gap to every non-source
    //     row is huge (eps·√D vs √2·√D), i.e. the re-encode/crop shape
    //     real dedup hunts. recall@1 then measures exactly "does the
    //     bounded pipeline find the near-identical source".
    val rawProbes = vectors.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val probes = jitterEps match {
      case None => rawProbes
      case Some(eps) =>
        val jitterU = udf { (id: Long, v: Seq[Float]) =>
          val rn = new java.util.Random(9182736L + id)
          v.map(x => x + (rn.nextGaussian() * eps).toFloat)
        }
        rawProbes.select(col("q_id"), jitterU(col("q_id"), col("q_vec")).as("q_vec"))
    }
    // ask for k+1 so self (dist 0, rank 1) does not crowd out a true
    // neighbor; the dedup read drops self and re-ranks
    val out = s"${graft.ops.EngineOps.indexRoot}/${s.name}_dedup_probe"
    // one pass of the probe join: one-shot annJoin by default; the CHUNKED
    // driver loop when `chunk[:rows]` was given — each chunk's regime is
    // printed from the engine's own gate notes, the witness that every
    // chunk ran the broadcastQvec exact stage instead of the fat-shuffle
    // fallback (VERDICT r11 next-round #1)
    def runPass(write: Boolean): Unit = {
      def sinkOf(df: org.apache.spark.sql.DataFrame, c: Int): Unit =
        if (write) df.write.mode(if (c == 0) "overwrite" else "append").parquet(out)
        else Probe.noop(df)
      chunkRows match {
        case None =>
          sinkOf(LopqSearcher.annJoin(idx, probes, "q_id", "q_vec",
            vectors, "vec_id", "embedding", quota, k + 1, rerankK), 0)
        case Some(rows) =>
          val n = LopqSearcher.annJoinChunked(idx, probes, "q_id", "q_vec",
            vectors, "vec_id", "embedding", quota, k + 1, rerankK, rows) { (df, c) =>
            sinkOf(df, c)
            val notes = LopqSearcher.lastPlanNotes(spark)
            println(s"[probe-release]   chunk $c " +
              s"exactShape=${notes.getOrElse("exactShape", "?")} " +
              s"rerankMode=${notes.getOrElse("rerankMode", "?")} " +
              s"shipMode=${notes.getOrElse("shipMode", "?")}")
          }
          println(s"[probe-release]   chunks=$n chunkRows=" +
            LopqSearcher.lastPlanNotes(spark).getOrElse("chunkRows", "?"))
      }
    }
    // full-corpus runs are minutes per pass — 2 passes (cold, warm+write);
    // dev-scale runs keep the 3-pass cold/warm/warm-write split; a
    // `passes:N` arg overrides (the 2M deployment sweep is ~2 h per pass,
    // one cold+write pass is the affordable full-corpus record)
    val nPasses = passesArg.getOrElse(if (nProbes > 100000) 2 else 3)
    (1 to nPasses).foreach { pass =>
      val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      // final pass persists the result for the recall check (parquet write
      // of O(nProbes·k) small rows — labeled, so the cold/warm noop passes
      // stay comparable)
      runPass(write = pass == nPasses)
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => cachedBefore(id) }
        .values.foreach(_.unpersist(blocking = false))
      val label = if (pass == 1) "cold" else if (pass < nPasses) "warm" else "warm+parquet"
      println(f"[probe-release] dedup pass $pass ($label%-12s) ${sec}%8.2f s " +
        f"total  ${sec * 1000 / nProbes}%7.3f ms/probe")
      if (pass == 1) LopqSearcher.lastPlanNotes(spark).toSeq.sorted.foreach {
        case (kk, v) => println(f"[probe-release]   regime $kk%-18s = $v")
      }
    }
    // ---- bounded-prefix recall vs a brute-forced exact oracle ----
    // Self mode drops the trivial self hit (id == q_id) from BOTH sides;
    // jittered mode keeps it — there the probe is NOT a corpus row and
    // id == q_id is the PLANTED near-duplicate the dedup exists to find.
    val sampleN = 128
    val sampleIds = (0 until sampleN).map(i => i.toLong * nProbes / sampleN).distinct
    val sampleDf = probes.where(col("q_id").isin(sampleIds: _*))
    val exact = vectors.crossJoin(broadcast(sampleDf))
      .where(if (jitterEps.isEmpty) col("vec_id") =!= col("q_id") else lit(true))
      .withColumn("d", graft.functions.VectorFunctions.l2DistanceSq(
        col("q_vec"), col("embedding")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("d"), col("vec_id"))))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("id"), col("rnk"))
    val ann = spark.read.parquet(out)
      .where(col("q_id").isin(sampleIds: _*))
      .where(if (jitterEps.isEmpty) col("id") =!= col("q_id") else lit(true))
      .withColumn("nrnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("rank"))))
      .where(col("nrnk") <= k)
      .select("q_id", "id")
    val exactP = exact.persist()
    val annP = ann.persist()
    val truePairs = exactP.count()
    val hit = exactP.where(col("rnk") <= k).select("q_id", "id")
      .intersect(annP.select("q_id", "id")).count()
    // recall@1 is the DEDUP-relevant number: the nearest non-self
    // neighbor is the near-duplicate partner candidate; @10 additionally
    // demands the whole in-cluster ranking, a far stricter ask of a
    // bounded pool
    val true1 = exactP.where(col("rnk") === 1).count()
    val hit1 = exactP.where(col("rnk") === 1).select("q_id", "id")
      .intersect(annP.select("q_id", "id")).count()
    println(f"[probe-release] dedup recall@$k (bounded quota=$quota, " +
      f"rerankK=$rerankK) over ${sampleIds.size} sampled probes: " +
      f"$hit/$truePairs = ${hit.toDouble / truePairs}%.4f")
    println(f"[probe-release] dedup recall@1 (nearest-partner) : " +
      f"$hit1/$true1 = ${hit1.toDouble / true1}%.4f")
  }

  /** SemDeDup at release magnitude: the q94 operator
    * ([[graft.ops.VectorQueries.semDedupPairs]]) over a release shape's
    * persisted codes + staged vector table — the witness that the
    * within-cell sweep's scale levers (skinny-codes multi-member prune
    * before any vector moves, cosine computed inside the cell self-join)
    * hold where the vector table is GBs, not test rows. Prints per-pass
    * wall-clock, the multi-member-cell row count (what fraction of the
    * corpus attached a vector at all), and the emitted pair count.
    *
    * `sample:<mod>` sweeps only members with `id % mod == 0`, filtering
    * BOTH the skinny assignment and the vector table — the local witness
    * for shapes whose FULL sweep out-shuffles a single machine's scratch
    * (v4: the id-attach join alone shuffle-writes the 32 GB vector
    * table; cell-level sampling cannot reach that side, id-level
    * sampling drops (mod−1)/mod of it before the shuffle). The plan
    * shape is the production one; per-cell membership shrinks ~mod, so
    * pair counts scale ~1/mod² and wall-clock is a same-plan lower
    * bound, not a linear extrapolation.
    *
    * `chunk[:n]` routes the sweep through
    * [[graft.ops.VectorQueries.semDedupPairsChunked]] — the
    * scratch-bounded driver loop (n = 0 or omitted sizes chunks from the
    * member count and the shape's raw width). ONE timed pass, per-chunk
    * lines + the total: this is the endurance run that makes the FULL v4
    * sweep complete on this machine's ~27 GB scratch, where the one-shot
    * plan dies mid-shuffle.
    *
    * `incr:<mod>` probes the INCREMENTAL pass
    * ([[graft.ops.VectorQueries.semDedupPairsIncremental]]) at release
    * magnitude: ids with `id % mod == 0` play the new batch, the rest the
    * indexed corpus — the nightly-ingest shape, whose cost should track
    * the BATCH (touched cells × membership), not the corpus. */
  /** INGEST-CYCLE probe at release magnitude: one nightly batch through
    * [[graft.ops.IngestOps.screenAndAppend]] against a pristine CLONE of
    * the chosen release index (codes + model + manifest copied — ~620 MB
    * at v4; the 31 GB staged vector table is read IN PLACE as the feature
    * store, never copied or mutated). Each pass re-clones so every
    * measurement is the clean nightly shape: screen (q97's incremental
    * sweep), conservative-prefix drop, O(batch) watermarked append.
    *
    * The batch is half JITTERED corpus copies (cos ≈ 0.9997 vs their
    * sources — must flag at the 0.4 default, since nothing organic in the
    * isotropic release corpus crosses it) and half PURE-NOISE novels
    * (cos ≈ 0 vs everything — must survive), so flagged/appended have
    * expected values (≈nJit / =nNovel) the printout makes checkable. */
  private def probeIngest(spark: SparkSession, s: ReleaseShapeDef,
      nBatchArg: Option[Int], sweepArg: Option[Seq[Double]],
      multiProbe: Boolean): Unit = {
    import org.apache.spark.sql.functions._
    val nBatch = nBatchArg.getOrElse(2000)
    if (multiProbe)
      spark.conf.set(graft.ops.VectorQueries.ScreenMultiProbeConf, "true")
    val srcDir = s.dir
    val cloneDir = srcDir + "_ingest_probe"
    val corpusVectors = ReleaseShape.vectors(spark, srcDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
    def reclone(): Double = {
      val t0 = System.nanoTime()
      val dst = new org.apache.hadoop.fs.Path(cloneDir)
      if (fs.exists(dst)) fs.delete(dst, true)
      fs.mkdirs(dst)
      Seq("model", "meta.json", "model.pb", "codes", "cell_counts",
          "manifest", "tip").foreach { name =>
        val sp = new org.apache.hadoop.fs.Path(s"$srcDir/$name")
        if (fs.exists(sp))
          org.apache.hadoop.fs.FileUtil.copy(fs, sp, fs,
            new org.apache.hadoop.fs.Path(s"$cloneDir/$name"), false, conf)
      }
      LopqIndexStore.evictModel(cloneDir)
      (System.nanoTime() - t0) / 1e9
    }
    import spark.implicits._
    val nJit = nBatch / 2
    val n = s.n
    val rawDim = s.rawDim
    def batchFor(pass: Int): org.apache.spark.sql.DataFrame =
      spark.range(0, nBatch, 1, 32).map { i =>
        val id = n + pass.toLong * 10000000L + i
        val vec =
          if (i < nJit) {
            val v = ReleaseShape.rowVecFor(s, i * 97L % n)
            val r = new java.util.Random(31L + id)
            v.map(x => x + 0.001f * r.nextGaussian().toFloat)
          } else {
            val r = new java.util.Random(77L + id)
            Array.fill(rawDim)(r.nextGaussian().toFloat)
          }
        (id, vec.toSeq)
      }.toDF("vec_id", "embedding")
    println(s"[probe-release] ingest ${s.name} batchRows=$nBatch " +
      s"(jittered=$nJit novel=${nBatch - nJit})" +
      (if (multiProbe) " multiProbe=true" else ""))
    sweepArg match {
      case Some(thresholds) =>
        // threshold sweep: same batch (pass 1) screened at each threshold
        // against a fresh clone — DECISION quality (jittered leaks, novel
        // false-drops) and flagged-pair VOLUME vs the cosine cut, the
        // production-guidance curve for the screen's one tunable
        println("[probe-release] ingest sweep: threshold | flaggedPairs | " +
          "jitteredLeaked (expect 0) | novelsDropped (expect 0) | warm s")
        thresholds.foreach { th =>
          reclone()
          // pass 1 untimed (page-cache population), pass 2 timed — the
          // cycle is deterministic, so decisions are checked on pass 2
          graft.ops.IngestOps.screenAndAppend(spark, cloneDir,
            corpusVectors, batchFor(1), "vec_id", "embedding",
            f"ingest_$th%.3f_warm", simThreshold = th)
          reclone()
          val t0 = System.nanoTime()
          val r = graft.ops.IngestOps.screenAndAppend(spark, cloneDir,
            corpusVectors, batchFor(1), "vec_id", "embedding",
            f"ingest_$th%.3f", simThreshold = th)
          val sec = (System.nanoTime() - t0) / 1e9
          val base = n + 1L * 10000000L
          val appended = LopqIndexStore.readCodes(spark, cloneDir)
            .select("id").where(col("id") >= n)
            .collect().map(_.getLong(0)).toSet
          val jitLeaked = (0L until nJit.toLong).count(i => appended(base + i))
          val novDropped = (nJit.toLong until nBatch.toLong)
            .count(i => !appended(base + i))
          println(f"[probe-release] ingest sweep th=$th%5.3f  " +
            f"flagged=${r.flaggedPairs}%9d  jitteredLeaked=$jitLeaked%4d  " +
            f"novelsDropped=$novDropped%4d  $sec%7.2f s")
        }
      case None =>
        (1 to 3).foreach { pass =>
          val cs = reclone()
          val t0 = System.nanoTime()
          val r = graft.ops.IngestOps.screenAndAppend(spark, cloneDir,
            corpusVectors, batchFor(pass), "vec_id", "embedding",
            f"ingest_$pass%019d")
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"[probe-release] ingest pass $pass  $sec%8.2f s (+ clone $cs%5.1f s)  " +
            f"flagged=${r.flaggedPairs} appended=${r.appended}/${r.batchRows}  " +
            f"${sec * 1000.0 / nBatch}%.2f ms/batch-row")
        }
    }
  }

  /** Streaming screened-ingest CADENCE probe — [[graft.streaming.ScreenedIngest]]
    * driven for `nBatches` real micro-batches against a CLONE of the
    * release index, per-trigger wall-clock from the streaming listener and
    * the side-store's un-folded update-dir count after every batch. The
    * q99 gate proves the cycle's SEMANTICS at test scale; this shows the
    * CADENCE holds at release magnitude: per-batch cost stays flat as the
    * store grows (nothing O(updates-ever) in the loop), the LSM promote
    * fires at `compactAt` and resets the dir count, and the FINAL batch —
    * near-copies of batch 0's survivors — is dropped against vectors that
    * by then live only in the compacted base (the hours-later-duplicate
    * case, ref `extraction_checker.py:225-258`, at magnitude).
    * Usage: runMain graft.ProbeRelease stream [v1..v4] [nBatches] [batchRows] [compactAt] */
  private def probeStreamIngest(spark: SparkSession, s: ReleaseShapeDef,
      nBatchesArg: Option[Int], rowsArg: Option[Int],
      compactAtArg: Option[Int]): Unit = {
    import org.apache.spark.sql.functions._
    val srcDir = s.dir
    // check the source index first: everything below deletes, copies or
    // stages batch files
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$srcDir/meta.json")),
      s"no release index under $srcDir (meta.json missing); build it first " +
        "with runMain graft.BuildRelease")
    val nBatches = nBatchesArg.getOrElse(16)
    val batchRows = rowsArg.getOrElse(1000)
    val compactAt = compactAtArg.getOrElse(6)
    spark.conf.set(graft.ops.SideStoreFold.CompactAtConf, compactAt.toString)
    val cloneDir = srcDir + "_stream_probe"
    val stagedDir = srcDir + "_stream_probe_src"
    val ckpt = cloneDir + "/_ckpt"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
    Seq(cloneDir, stagedDir).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      if (fs.exists(p)) fs.delete(p, true)
    }
    var t0 = System.nanoTime()
    fs.mkdirs(new org.apache.hadoop.fs.Path(cloneDir))
    Seq("model", "meta.json", "model.pb", "codes", "cell_counts",
        "manifest", "tip").foreach { name =>
      val sp = new org.apache.hadoop.fs.Path(s"$srcDir/$name")
      if (fs.exists(sp))
        org.apache.hadoop.fs.FileUtil.copy(fs, sp, fs,
          new org.apache.hadoop.fs.Path(s"$cloneDir/$name"), false, conf)
    }
    LopqIndexStore.evictModel(cloneDir)
    // seed the side-store by MOUNTING the source's staged flat vector
    // table as the read-only external base (r13: the previous seed COPIED
    // the corpus into one update dir — a corpus-sized write that cannot
    // even fit this machine's free disk at the v4 deployment width, and
    // exactly the migration cost mountVectorsBase exists to avoid; the
    // screen reads the mounted table in place, compaction never touches it)
    graft.ops.IngestOps.mountVectorsBase(spark, cloneDir,
      s"$srcDir/vectors", "vec_id", "embedding")
    println(f"[probe-release] stream ${s.name} clone+seed ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"nBatches=$nBatches batchRows=$batchRows compactAt=$compactAt")

    val n = s.n
    val rawDim = s.rawDim
    val nJit = batchRows / 2
    // batch b: half jittered corpus copies (must drop), half pure-noise
    // novels (must survive) — EXCEPT the last batch, which is near-copies
    // of batch 0's NOVEL survivors: by then their vectors have been folded
    // into the compacted base, so surviving this batch would mean the
    // promote lost rows
    def novelVec(id: Long): Array[Float] = {
      val r = new java.util.Random(77L + id)
      Array.fill(rawDim)(r.nextGaussian().toFloat)
    }
    def idOf(b: Int, i: Long): Long = n + (b + 1).toLong * 10000000L + i
    import spark.implicits._
    def batchDf(b: Int): org.apache.spark.sql.DataFrame =
      spark.range(0, batchRows, 1, 8).map { i =>
        val id = idOf(b, i)
        val vec =
          if (b == nBatches - 1 && nBatches > 1) {
            // near-copy of batch 0's i-th NOVEL row (ids nJit..batchRows)
            val src = novelVec(idOf(0, nJit + (i % (batchRows - nJit))))
            val r = new java.util.Random(13L + id)
            src.map(x => x + 0.0005f * r.nextGaussian().toFloat)
          } else if (i < nJit) {
            val v = ReleaseShape.rowVecFor(s, (b.toLong * batchRows + i) * 97L % n)
            val r = new java.util.Random(31L + id)
            v.map(x => x + 0.001f * r.nextGaussian().toFloat)
          } else novelVec(id)
        (id, vec.toSeq)
      }.toDF("vec_id", "embedding")
    t0 = System.nanoTime()
    (0 until nBatches).foreach { b =>
      batchDf(b).repartition(1)
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(stagedDir)
    }
    println(f"[probe-release] stream staged $nBatches batch files in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    def sideDirs(): Int =
      graft.core.UpdateLog.updateDirs(spark, s"$cloneDir/vectors").size
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val ms = Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue()).getOrElse(-1L)
          println(f"[probe-release] stream batch ${p.batchId}%3d  ${ms / 1000.0}%8.2f s  " +
            f"rows=${p.numInputRows}%5d  sideDirs=${sideDirs()}%3d")
        }
      }
    }
    spark.streams.addListener(listener)
    t0 = System.nanoTime()
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
    graft.streaming.ScreenedIngest
      .maintain(spark, cloneDir, src, "vec_id", "embedding", ckpt)
      .awaitTermination()
    val total = (System.nanoTime() - t0) / 1e9
    spark.streams.removeListener(listener)

    // survivors audit, straight off the clone's codes: per batch, jittered
    // leaks (expect 0), novels kept (expect all but the last batch's,
    // which must be dropped against the compacted base)
    val appended = LopqIndexStore.readCodes(spark, cloneDir)
      .select("id").where(col("id") >= n)
      .collect().map(_.getLong(0)).toSet
    (0 until nBatches).foreach { b =>
      val ids = (0L until batchRows.toLong).map(idOf(b, _))
      val jitLeaked =
        if (b == nBatches - 1 && nBatches > 1) -1L
        else ids.take(nJit).count(appended).toLong
      val novKept =
        if (b == nBatches - 1 && nBatches > 1) ids.count(appended).toLong
        else ids.drop(nJit).count(appended).toLong
      val tag = if (b == nBatches - 1 && nBatches > 1) "copies-of-batch0 kept" else "novels kept"
      println(f"[probe-release] stream audit batch $b%3d  jitteredLeaked=$jitLeaked%3d  $tag=$novKept")
    }
    println(f"[probe-release] stream TOTAL $total%8.2f s for $nBatches batches " +
      f"(${total / nBatches}%.2f s/batch amortized)  finalSideDirs=${sideDirs()}  " +
      s"tip=${LopqIndexStore.watermark(spark, cloneDir).getOrElse("-")}")
  }

  private def probeSemDedup(spark: SparkSession, s: ReleaseShapeDef,
      thresholdArg: Option[Double], sampleMod: Option[Long], chunkArg: Option[Int],
      incrMod: Option[Long], multiProbe: Boolean): Unit = {
    import org.apache.spark.sql.functions._
    // release vectors are synthetic-isotropic (nothing crosses the
    // near-dup 0.4 default) — probe at a threshold the shape's cluster
    // siblings actually reach so the sweep emits real pairs
    val th = thresholdArg.getOrElse(0.0)
    val idx = LopqIndexStore.loadSlim(spark, s.dir).get
    val vectors = ReleaseShape.vectors(spark, s.dir)
    // `multi`: the q104 top-P assignment (P = MultiProbeCellsConf,
    // default 2) instead of the persisted codes — the deployment-width
    // price of the multi-probe sweep next to the r12 single-cell baseline
    // (same threshold, same chunk driver)
    val all =
      if (multiProbe)
        // pin the encoded assignment: unlike the persisted codes it is a
        // full-corpus ENCODE (PCA front + coarse argmin per row), and the
        // chunk driver re-scans the skinny assignment per chunk
        LopqIndexStore.assignCellsMulti(spark, s.dir, vectors,
          "vec_id", "embedding").localCheckpoint()
      else idx.codes.select(col("id"), col("cell_id").cast("long").as("cell_id"))
    val (cells, vecs) = sampleMod match {
      case Some(m) => (all.where(pmod(col("id"), lit(m)) === 0),
        vectors.where(pmod(col("vec_id"), lit(m)) === 0))
      case None => (all, vectors)
    }
    val multiRows = cells.groupBy("cell_id").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2).agg(sum(col("n")), count(lit(1))).head()
    println(s"[probe-release] semdedup ${s.name} threshold=$th " +
      sampleMod.map(m => s"sampleMod=$m ").getOrElse("") +
      (if (multiProbe) s"multiProbe=${LopqIndexStore.multiProbeCells(spark)} " else "") +
      s"multiCellRows=${multiRows.getLong(0)} multiCells=${multiRows.getLong(1)}")
    chunkArg match {
      case Some(n0) =>
        val n = if (n0 > 0) n0 else graft.ops.VectorQueries
          .semDedupChunkCount(multiRows.getLong(0), s.rawDim, spark)
        println(s"[probe-release] semdedup chunked nChunks=$n rawDim=${s.rawDim}")
        val t0 = System.nanoTime()
        var total = 0L
        graft.ops.VectorQueries.semDedupPairsChunked(cells, vecs,
            "vec_id", "embedding", th, n) { (df, c) =>
          val tc = System.nanoTime()
          val p = df.count()
          total += p
          println(f"[probe-release] semdedup chunk $c%3d  " +
            f"${(System.nanoTime() - tc) / 1e9}%8.2f s  pairs=$p")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[probe-release] semdedup chunked TOTAL  $sec%8.2f s  pairs=$total")
      case None => incrMod match {
        case Some(m) =>
          val isNew = pmod(col("id"), lit(m)) === 0
          val isNewV = pmod(col("vec_id"), lit(m)) === 0
          val nb = cells.where(isNew).count()
          println(s"[probe-release] semdedup incremental batchMod=$m batchRows=$nb")
          (1 to 3).foreach { pass =>
            val t0 = System.nanoTime()
            val nPairs = graft.ops.VectorQueries.semDedupPairsIncremental(
                cells.where(!isNew), cells.where(isNew),
                vecs.where(!isNewV), vecs.where(isNewV),
                "vec_id", "embedding", th)
              .count()
            val sec = (System.nanoTime() - t0) / 1e9
            println(f"[probe-release] semdedup incr pass $pass  $sec%8.2f s  " +
              f"pairs=$nPairs  ${sec * 1000.0 / nb}%.3f ms/batch-row")
          }
        case None =>
          (1 to 3).foreach { pass =>
            val t0 = System.nanoTime()
            val nPairs = graft.ops.VectorQueries
              .semDedupPairs(cells, vecs, "vec_id", "embedding", th)
              .count()
            val sec = (System.nanoTime() - t0) / 1e9
            println(f"[probe-release] semdedup pass $pass  $sec%8.2f s  pairs=$nPairs")
          }
      }
    }
  }

  /** Curation-operator probe: cluster-balanced sampling + prototypicality
    * pruning against a persisted release index — the release-magnitude
    * evidence for q100/q101 (per-cell quota over 1M+ learned strata;
    * slim-model scoring of the full corpus with the fat vectors never
    * shuffling). */
  private def probeCuration(spark: SparkSession, s: ReleaseShapeDef,
      quotaArg: Option[Int], keepFracArg: Option[Double]): Unit = {
    import org.apache.spark.sql.functions._
    val quota = quotaArg.getOrElse(10)
    val keepFrac = keepFracArg.getOrElse(0.7)
    val idx = LopqIndexStore.loadSlim(spark, s.dir).get
    val cells = idx.codes.select(
      org.apache.spark.sql.functions.col("id"),
      col("cell_id").cast("long").as("cell_id"))
    println(s"[probe-release] curation ${s.name} quota=$quota keepFrac=$keepFrac")
    (1 to 3).foreach { pass =>
      val t0 = System.nanoTime()
      val n = graft.ops.VectorQueries.clusterBalancedSample(cells, quota).count()
      println(f"[probe-release] clusterSample pass $pass  " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    val vectors = ReleaseShape.vectors(spark, s.dir)
    (1 to 3).foreach { pass =>
      val t0 = System.nanoTime()
      val r = graft.ops.VectorQueries.protoPrune(vectors, "vec_id",
          "embedding", idx.slim, keepFrac, idx.pca)
        .agg(sum(when(col("keep"), 1L).otherwise(0L)), count(lit(1))).head()
      println(f"[probe-release] protoPrune pass $pass  " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  kept=${r.getLong(0)}/${r.getLong(1)}")
    }
  }

  /** The COMPOSED semantic-curation pipeline at release magnitude
    * (VERDICT r12 next-round #1 — the curateCorpus chain with the chunked
    * pair sweep, no one-shot sweep anywhere in the loop): chunked
    * within-cell pair sweep drained to parquet per cell group → min-label
    * components → survivor anti-join → slim prototypicality keep-set →
    * cluster-tempered draw. Per-stage wall-clock, machine read-bytes and
    * scratch footprint printed after every stage.
    * Usage: runMain graft.ProbeRelease curatepipe [v1..v4] [threshold] [keepFrac] [chunk[:n]] */
  private def probeCurationPipeline(spark: SparkSession, s: ReleaseShapeDef,
      thresholdArg: Option[Double], keepFracArg: Option[Double],
      chunkArg: Option[Int], resume: Boolean, multiProbe: Boolean): Unit = {
    import org.apache.spark.sql.functions._
    val th = thresholdArg.getOrElse(graft.ops.VectorQueries.NearDupSimThreshold)
    val keepFrac = keepFracArg.getOrElse(0.7)
    val idx = LopqIndexStore.loadSlim(spark, s.dir).get
    val vectors = ReleaseShape.vectors(spark, s.dir)
    // `multi`: the composed pipeline over the TOP-2 probe assignment
    // (VERDICT r13 next-round #3) — pinned like probeSemDedup's, since
    // every chunk re-scans the skinny assignment
    val cells =
      if (multiProbe)
        LopqIndexStore.assignCellsMulti(spark, s.dir, vectors,
          "vec_id", "embedding").localCheckpoint()
      else idx.codes.select(col("id"), col("cell_id").cast("long").as("cell_id"))
    val outDir = s.dir + (if (multiProbe) "_curation_pairs_mp" else "_curation_pairs")
    val op = new org.apache.hadoop.fs.Path(outDir)
    val fs = op.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!resume && fs.exists(op)) fs.delete(op, true)
    val memberRows = cells.groupBy("cell_id").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2).agg(sum(col("n"))).head().getLong(0)
    val n = chunkArg.filter(_ > 0).getOrElse(
      graft.ops.VectorQueries.semDedupChunkCount(memberRows, s.rawDim, spark))
    println(s"[probe-release] curatepipe ${s.name} threshold=$th keepFrac=$keepFrac " +
      s"nChunks=$n multiCellRows=$memberRows" +
      (if (multiProbe) " multiProbe=true" else ""))
    def stage[A](label: String)(body: => A): A =
      Probe.timed("probe-release", f"curatepipe stage $label%-12s",
        f"  scratch=${graft.core.DiskStats.scratchBytes() / 1e9}%6.2f GB")(body)
    val t0 = System.nanoTime()
    // `resume`: a crashed post-sweep stage should not re-pay the chunked
    // sweep. Gate on an explicit drain-complete SENTINEL written after
    // the LAST chunk — parquet's own _SUCCESS is rewritten by every
    // per-chunk append, so it cannot distinguish a full drain from a
    // mid-sweep crash (ADVICE r13: resuming on it would silently reuse a
    // partially drained pair set and record wrong loser/kept counts).
    // The same lever ships in the library as
    // GraftApi.semDedupCorpusChunked/curateCorpus(resume = true),
    // spec-pinned in PipelineSpec (r15).
    val drained = new org.apache.hadoop.fs.Path(s"$outDir/_DRAINED")
    val reuse = resume && fs.exists(drained)
    if (reuse) println(s"[probe-release] curatepipe resume: reusing $outDir")
    else stage("sweep") {
      if (fs.exists(drained)) fs.delete(drained, false)
      graft.ops.VectorQueries.semDedupPairsChunked(cells, vectors,
          "vec_id", "embedding", th, n) { (df, c) =>
        val tc = System.nanoTime()
        df.select("id_a", "id_b")
          .write.mode(if (c == 0) "overwrite" else "append").parquet(outDir)
        println(f"[probe-release] curatepipe   chunk $c%3d " +
          f"${(System.nanoTime() - tc) / 1e9}%8.2f s  scratch=${graft.core.DiskStats.scratchBytes() / 1e9}%6.2f GB")
      }
      fs.create(drained, true).close()
    }
    val losers = stage("components") {
      val edges = spark.read.parquet(outDir)
      val l = graft.ops.TextOps.minLabelComponents(edges)
        .where(col("id") =!= col("comp")).select(col("id").as("vec_id"))
        .localCheckpoint()
      println(s"[probe-release] curatepipe   losers=${l.count()}")
      l
    }
    val kept = stage("protoPrune") {
      val surv = graft.ops.TextOps.antiJoinIds(vectors, "vec_id", losers)
      val k = graft.ops.VectorQueries
        .protoPrune(surv, "vec_id", "embedding", idx.slim, keepFrac, idx.pca)
        .where(col("keep"))
        .select(col("id"), col("cell_id"), col("proto_dist"))
        .localCheckpoint()
      println(s"[probe-release] curatepipe   kept=${k.count()}")
      k
    }
    stage("temperedDraw") {
      val manifest = graft.ops.VectorQueries
        .clusterTemperedSample(kept.select("id", "cell_id"))
        .join(kept.select(col("id"), col("proto_dist")), "id")
        .select(col("cell_id"), col("id"), col("rk"), col("proto_dist"))
      println(s"[probe-release] curatepipe   manifest=${manifest.count()}")
    }
    println(f"[probe-release] curatepipe TOTAL ${(System.nanoTime() - t0) / 1e9}%9.2f s  " +
      f"scratch=${graft.core.DiskStats.scratchBytes() / 1e9}%6.2f GB")
    if (fs.exists(op)) fs.delete(op, true)
  }

  /** SemDeDup cross-cell MISS-RATE probe (VERDICT r12 "What's missing
    * #1"): the within-cell sweep and the ingest screen can only see a
    * near-duplicate pair whose two members quantize into the SAME coarse
    * cell — this measures how often a planted jittered near-dup actually
    * does, per jitter magnitude, against a shape's persisted model. For
    * each sampled corpus row: jitter with isotropic gaussian noise at
    * ε × the row's RMS amplitude, encode both, and report (a) same-cell %
    * — visible to the sweep/screen; (b) top-2 % — the source's cell among
    * the jittered row's two multiProbe cells (visible to the conf-gated
    * multi-probe screen); (c) the mean measured cosine, mapping ε onto
    * the near-dup-threshold axis a user actually tunes. All driver-side:
    * O(sample · V · D) flops, no Spark jobs after the model load.
    * Usage: runMain graft.ProbeRelease cellmiss [v1..v4] [nSample] [eps:e1,e2,...] */
  private def probeCellMiss(spark: SparkSession, s: ReleaseShapeDef,
      nArg: Option[Int], epsArg: Option[Seq[Double]]): Unit = {
    val nSample = nArg.getOrElse(2000)
    val epss = epsArg.getOrElse(Seq(0.05, 0.1, 0.2, 0.5, 1.0, 1.5))
    val idx = LopqIndexStore.loadSlim(spark, s.dir).get
    val slim = idx.slim
    def cellOf(x: Array[Float]): Long = {
      val (c0, c1) = slim.predictCoarse(x)
      c0.toLong * slim.v + c1
    }
    println(s"[probe-release] cellmiss ${s.name} sample=$nSample grid=${slim.v}x${slim.v}")
    println("[probe-release] cellmiss eps | meanCos | sameCell% | top2% | top3% | top4%")
    epss.foreach { eps =>
      var same = 0L
      var top2 = 0L
      var top3 = 0L
      var top4 = 0L
      var cosSum = 0.0
      (0 until nSample).foreach { i =>
        val src = ReleaseShape.rowVecFor(s, (i.toLong * 997L) % s.n)
        var ss = 0.0
        src.foreach(x => ss += x.toDouble * x)
        val rms = math.sqrt(ss / src.length)
        val rnd = new java.util.Random(51L * (i + 1) + (eps * 1000).toLong)
        val jit = src.map(x => (x + eps * rms * rnd.nextGaussian()).toFloat)
        var dot = 0.0; var nj = 0.0
        var k = 0
        while (k < src.length) {
          dot += src(k).toDouble * jit(k); nj += jit(k).toDouble * jit(k); k += 1
        }
        cosSum += dot / (math.sqrt(ss) * math.sqrt(nj))
        val srcX = idx.pca.map(_.apply(src)).getOrElse(src)
        val jitX = idx.pca.map(_.apply(jit)).getOrElse(jit)
        val srcCell = cellOf(srcX)
        // one top-4 walk covers every P column (prefix property: top-P is
        // the first P pops of the same frontier)
        val probed = slim.predictCoarseTopP(jitX, 4)
          .map { case (c0, c1) => c0.toLong * slim.v + c1 }
        val rank = probed.indexOf(srcCell) // -1 = missed all four
        if (rank == 0) same += 1
        if (rank >= 0 && rank < 2) top2 += 1
        if (rank >= 0 && rank < 3) top3 += 1
        if (rank >= 0) top4 += 1
      }
      println(f"[probe-release] cellmiss $eps%5.3f  ${cosSum / nSample}%7.4f  " +
        f"${100.0 * same / nSample}%7.2f%%  ${100.0 * top2 / nSample}%7.2f%%  " +
        f"${100.0 * top3 / nSample}%7.2f%%  ${100.0 * top4 / nSample}%7.2f%%")
    }
  }

  private val Modes = Seq("annjoin", "cellmiss", "curatepipe", "curation", "dedup",
    "histogram", "ingest", "rerank", "semdedup", "stream")

  /** `multi:P` of the semdedup mode: the top-P probe width, P ≥ 2. */
  private def multiWidth(a: String): Int = {
    val raw = a.stripPrefix("multi:")
    val p = try raw.toInt catch {
      case _: NumberFormatException =>
        sys.error(s"multi:P — P must be an integer, got '$raw'")
    }
    require(p >= 2,
      s"multi:P needs P >= 2 (omit 'multi' for the single-cell sweep), got $p")
    p
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Modes.contains(mode), s"unknown ProbeRelease mode '$mode' " +
      s"(want one of ${Modes.mkString("|")}; the per-stage split of one slim " +
      "query is `runMain graft.Probe serve`)")
    if (mode == "histogram") { probeHistogram(); return }
    // a bad P must fail before the Spark session and index load (ADVICE
    // r14), not minutes later inside assignCellsMulti
    if (mode == "semdedup") args.filter(_.startsWith("multi:")).foreach(multiWidth)
    // the annJoin memory budget is half of spark.driver.maxResultSize, a
    // session-build conf: `maxResultSize:<size>` sets it. dedup's
    // broadcast-qvec exact stage collects the probe matrix (O(probes·D) —
    // ~1.2 GB at the 600k × 512-d self-dedup) to the driver before
    // broadcasting, so dedup defaults to 4g (a 2 GiB budget)
    val (budgetArgs, modeArgs) = args.toSeq.drop(1).partition(_.startsWith("maxResultSize:"))
    val maxResult = budgetArgs.map(_.stripPrefix("maxResultSize:")) ++
      (if (mode == "dedup" && budgetArgs.isEmpty) Seq("4g") else Nil)
    val spark = Probe.session(maxResult.map("spark.driver.maxResultSize" -> _): _*)
    try run(spark, mode, Probe.confArgs(spark, modeArgs, "probe-release").toSeq)
    finally spark.stop()
  }

  private def run(spark: SparkSession, mode: String, rest: Seq[String]): Unit = {
    val (shapeArgs, other) = rest.partition(Probe.isShapeArg)
    val s = Probe.shape(shapeArgs.headOption, ReleaseShape.V2)
    mode match {
      case "curatepipe" =>
        val (resumeArgs, rest0) = other.partition(_ == "resume")
        val (multiArgs, restM) = rest0.partition(_ == "multi")
        val (chunkArgs, nums) = restM.partition(_.startsWith("chunk"))
        probeCurationPipeline(spark, s,
          nums.lift(0).map(_.toDouble), nums.lift(1).map(_.toDouble),
          chunkArgs.headOption.map(a =>
            if (a.startsWith("chunk:")) a.stripPrefix("chunk:").toInt else 0),
          resume = resumeArgs.nonEmpty,
          multiProbe = multiArgs.nonEmpty)
      case "cellmiss" =>
        val (epsArgs, nums) = other.partition(_.startsWith("eps:"))
        probeCellMiss(spark, s, nums.headOption.map(_.toInt),
          epsArgs.headOption.map(_.stripPrefix("eps:").split(",").toSeq.map(_.toDouble)))
      case "curation" =>
        probeCuration(spark, s, other.lift(0).map(_.toInt), other.lift(1).map(_.toDouble))
      case "semdedup" =>
        val (sampleArgs, rest1) = other.partition(_.startsWith("sample:"))
        val (chunkArgs, rest2) = rest1.partition(_.startsWith("chunk"))
        val (incrArgs, rest3) = rest2.partition(_.startsWith("incr:"))
        val (multiArgs, nums) = rest3.partition(_.startsWith("multi"))
        // `multi` = top-2 (the default width); `multi:P` sets the probe
        // width conf before the assignment is built (q104 at top-P)
        multiArgs.headOption.filter(_.startsWith("multi:")).foreach { a =>
          spark.conf.set(LopqIndexStore.MultiProbeCellsConf, multiWidth(a).toString)
        }
        probeSemDedup(spark, s, nums.headOption.map(_.toDouble),
          sampleArgs.headOption.map(_.stripPrefix("sample:").toLong),
          chunkArgs.headOption.map(a =>
            if (a.startsWith("chunk:")) a.stripPrefix("chunk:").toInt else 0),
          incrArgs.headOption.map(_.stripPrefix("incr:").toLong),
          multiProbe = multiArgs.nonEmpty)
      case "ingest" =>
        val (sweepArgs, rest1) = other.partition(_.startsWith("sweep:"))
        val (multiArgs, nums) = rest1.partition(_ == "multi")
        probeIngest(spark, s, nums.headOption.map(_.toInt),
          sweepArgs.headOption.map(_.stripPrefix("sweep:").split(",").toSeq.map(_.toDouble)),
          multiProbe = multiArgs.nonEmpty)
      case "stream" =>
        val ints = other.map(_.toInt)
        probeStreamIngest(spark, s, ints.lift(0), ints.lift(1), ints.lift(2))
      case "rerank" =>
        probeRerank(spark, rest.headOption.getOrElse("v4"),
          rest.lift(1).map(_.toInt).getOrElse(3))
      case "dedup" =>
        val (jitterArgs, rest1) = other.partition(_.startsWith("jitter"))
        val jitterEps = jitterArgs.headOption.map {
          case "jitter" => 0.1
          case a => a.stripPrefix("jitter:").toDouble
        }
        val (chunkArgs, rest2) = rest1.partition(_.startsWith("chunk"))
        val chunkRows = chunkArgs.headOption.map {
          case "chunk" => 0L // auto-size from the broadcast-matrix bound
          case a => a.stripPrefix("chunk:").toLong
        }
        val (passArgs, numArgs) = rest2.partition(_.startsWith("passes:"))
        val nums = numArgs.map(_.toInt)
        probeDedup(spark, s, nums.headOption,
          quota = nums.lift(1).getOrElse(1000),
          rerankK = nums.lift(2).getOrElse(32),
          jitterEps = jitterEps,
          chunkRows = chunkRows,
          passesArg = passArgs.headOption.map(_.stripPrefix("passes:").toInt))
      case "annjoin" =>
        // `maxResultSize:<size>` moves the join's memory gates together
        val sizes = if (other.nonEmpty) other.map(_.toInt) else Seq(250, 1000, 2000)
        probeAnnJoin(spark, s, sizes)
    }
  }
}
