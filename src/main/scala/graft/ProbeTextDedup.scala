package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Release-magnitude probes of the TEXT dedup family — per-stage
  * wall-clock / machine read-bytes / scratch like `curatepipe`, over a
  * synthetic corpus of millions of documents with PLANTED structure
  * (deterministic, seeded by doc id — regenerating any row needs no
  * state):
  *   - ORGANIC docs: 120–280 tokens from a 50k-word vocabulary;
  *   - NEAR-DUP clusters: ids ≡ 1,2,3 (mod 50) are ~3 %-token-substituted
  *     copies of their base (id − id%50) — 3-shingle jaccard ≈ 0.8;
  *   - one BOILERPLATE CLIQUE: the last `clique` ids share one
  *     byte-identical text — the C4-style pathological shape.
  *
  * Modes (first arg):
  *   - (none)    — the r14 batch chain: [nDocs] [clique:K] [naive] [keep]
  *     (`naive` = raw [[graft.ops.TextOps.lshPairsOf]] listing, the A/B
  *     witness for the clique quadratics; default = the production
  *     [[graft.ops.TextOps.dedupEdgesOf]] collapse);
  *   - screen    — the r15 INCREMENTAL loop: [nDocs] [clique:K] [batch:N]
  *     [rerun] [keep]: build/reuse a [[graft.ops.TextSigStore]] over the
  *     corpus, screen a planted batch against it
  *     ([[graft.ops.TextScreen.screenAndAppend]]), replay it (must be
  *     inert), audit per planted class; `rerun` also prices the naive
  *     alternative (re-running the batch chain over corpus ∪ batch);
  *     `batches:M` (M > 1) switches to the SELF-CONTAINED store mode the
  *     streaming twin runs (`storeTexts = true`, the store maintaining
  *     both sides): M sequential batches screen against the growing
  *     store with `compactAt` forced low enough to witness the LSM fold
  *     mid-sequence — the per-batch cost must stay flat;
  *   - simhash   — q64's hamming chain at magnitude: [nDocs] [clique:K]
  *     [naive] [bits:W] [keep] (`naive` = raw
  *     [[graft.ops.TextOps.simhashPairsOf]] listing; default = the
  *     [[graft.ops.TextOps.simhashEdgesOf]] exact-content collapse;
  *     `bits:` sets the signature-width conf — 32-bit/h≤3 percolates at
  *     corpus magnitude, 60 is the wide point) + components + clique
  *     audit;
  *   - lshcurve  — the banding OPERATING-POINT table (VERDICT r14
  *     missing #2): [nPairs] [corpus:N] — planted pairs spanning
  *     jaccard ∈ (0.2, 1.0) measure per-pair candidate recall per
  *     (numHashes × bands) setting, and a real-corpus
  *     [[graft.ops.TextOps.lshPairsOf]] run per setting anchors the cost.
  *
  * Every mode runs on the [[Probe.session]] and accepts `conf:key=value`
  * args ([[Probe.confArgs]]). (SPARK_DRIVER_MEM ≥ 32g recommended at 4M
  * docs.)
  */
object ProbeTextDedup {

  private val Vocab = 50000
  private val SubRate = 0.03
  private val ClusterMod = 50

  private def tokenOf(r: java.util.Random): String = f"w${r.nextInt(Vocab)}%05d"

  /** Organic text for `id` — also the base text near-dup members mutate. */
  private def organic(id: Long): Array[String] = {
    val r = new java.util.Random(0x5eed7ea1L + id * 2654435761L)
    Array.fill(120 + r.nextInt(161))(tokenOf(r))
  }

  /** Deterministic per-row text: boilerplate clique / mutated near-dup /
    * organic (see object doc). */
  private def textFor(id: Long, nDocs: Long, clique: Int): String = {
    val tokens =
      if (id >= nDocs - clique) organic(-1L) // the shared boilerplate
      else if (id % ClusterMod >= 1 && id % ClusterMod <= 3 &&
          id - id % ClusterMod < nDocs - clique) {
        val base = organic(id - id % ClusterMod)
        val r = new java.util.Random(0xd00d1e5L + id)
        base.map(t => if (r.nextDouble() < SubRate) tokenOf(r) else t)
      } else organic(id)
    tokens.mkString(" ")
  }

  /** Probe scratch root — derived via [[graft.ops.Tables.scratch]]
    * (conf override, else `user.dir`/target) instead of a hardcoded repo
    * path; under sbt this resolves to the same `target/graft-text/...`
    * the earlier rounds staged, so corpora keep being reused. */
  private def textRoot(spark: SparkSession, nDocs: Long, clique: Int): String =
    graft.ops.Tables.scratch(spark, s"graft-text/n${nDocs}_c$clique")

  private def stage[A](label: String)(body: => A): A =
    Probe.timed("probe-text", f"stage $label%-12s",
      f"  scratch=${graft.core.DiskStats.scratchBytes() / 1e9}%6.2f GB")(body)

  private def dropCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc() // release finished stages' shuffle files (chunk-driver discipline)
  }

  /** Stage (or reuse) the planted corpus; the dir encodes nDocs + clique. */
  private def ensureCorpus(spark: SparkSession, nDocs: Long, clique: Int)
      : String = {
    import spark.implicits._
    val root = textRoot(spark, nDocs, clique)
    val staged = s"$root/docs"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$staged/_SUCCESS")
    if (fs.exists(marker)) println(s"[probe-text] corpus reused: $staged")
    else stage("corpus") {
      val n = nDocs; val c = clique
      spark.range(0L, n, 1L, 256)
        .map(id => (id, textFor(id, n, c)))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(staged)
    }
    staged
  }

  def main(args: Array[String]): Unit = {
    val spark = Probe.session()
    try {
      val rest = Probe.confArgs(spark, args.toSeq, "probe-text")
      rest.headOption match {
        case Some("screen") => runScreen(spark, rest.drop(1))
        case Some("simhash") => runSimhash(spark, rest.drop(1))
        case Some("lshcurve") => runLshCurve(spark, rest.drop(1))
        case _ => runChain(spark, rest)
      }
    } finally spark.stop()
  }

  // ------------------------------------------------ r14: the batch chain

  private def runChain(spark: SparkSession, args: Array[String]): Unit = {
    val nums = args.filter(_.forall(_.isDigit)).map(_.toLong)
    val nDocs = nums.headOption.getOrElse(4000000L)
    val clique = args.find(_.startsWith("clique:"))
      .map(_.stripPrefix("clique:").toInt).getOrElse(5000)
    val naive = args.contains("naive")
    val keep = args.contains("keep")

    val route = if (naive) "naive" else "collapsed"
    val root = textRoot(spark, nDocs, clique)
    val edgesDir = s"$root/edges_$route"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    println(s"[probe-text] nDocs=$nDocs clique=$clique route=$route")
    val t0 = System.nanoTime()
    val docsDf = spark.read.parquet(ensureCorpus(spark, nDocs, clique))

    // ---- edges: the chain's candidate generation + verification ----
    stage("edges") {
      val edges =
        if (naive) graft.ops.TextOps.lshPairsOf(docsDf).select("id_a", "id_b")
        else graft.ops.TextOps.dedupEdgesOf(docsDf)
      edges.write.mode("overwrite").parquet(edgesDir)
      println(s"[probe-text]   edges=${spark.read.parquet(edgesDir).count()}")
    }
    dropCaches(spark)

    // ---- components ----
    val labels = stage("components") {
      val l = graft.ops.TextOps
        .minLabelComponents(spark.read.parquet(edgesDir))
        .localCheckpoint()
      println(s"[probe-text]   labeled=${l.count()}")
      l
    }

    // ---- corpus materialization: survivors = corpus minus losers ----
    stage("materialize") {
      val losers = labels.where(col("id") =!= col("comp"))
        .select(col("id").as("doc_id"))
      val surv = graft.ops.TextOps.antiJoinIds(docsDf, "doc_id", losers)
      surv.write.format("noop").mode("overwrite").save()
      println(s"[probe-text]   survivors=${surv.count()} of $nDocs")
    }

    // ---- audit vs the planted structure ----
    stage("audit") {
      auditComponents(spark, docsDf, labels, nDocs, clique)
    }
    println(f"[probe-text] TOTAL ${(System.nanoTime() - t0) / 1e9}%9.2f s  " +
      f"scratch=${graft.core.DiskStats.scratchBytes() / 1e9}%6.2f GB")
    if (!keep) fs.delete(new org.apache.hadoop.fs.Path(edgesDir), true)
  }

  private def auditComponents(spark: SparkSession, docsDf: DataFrame,
      labels: DataFrame, nDocs: Long, clique: Int): Unit = {
    // boilerplate clique: one component rooted at its min id, K−1 losers
    val cliqueMin = nDocs - clique
    val cl = labels.where(col("id") >= cliqueMin)
      .agg(count(lit(1)), countDistinct(col("comp")), min(col("comp"))).head()
    println(s"[probe-text]   clique labeled=${cl.getLong(0)}/$clique " +
      s"components=${cl.getLong(1)} (expect 1) root=${cl.getLong(2)} (expect $cliqueMin)")
    // near-dup clusters: fraction fully merged (all 4 members one comp)
    val planted = docsDf.select(col("doc_id"))
      .where(col("doc_id") < cliqueMin &&
        (col("doc_id") % ClusterMod) <= 3 &&
        (col("doc_id") - col("doc_id") % ClusterMod) < cliqueMin)
    val byCluster = planted
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .groupBy((col("doc_id") - col("doc_id") % ClusterMod).as("cl"))
      .agg(count(lit(1)).as("n"), countDistinct(col("comp")).as("nc"),
        count(col("comp")).as("labeled"))
    val r = byCluster.agg(
      count(lit(1)),
      sum(when(col("nc") === 1 && col("labeled") === col("n"), 1L).otherwise(0L)),
      sum(when(col("labeled") < col("n"), 1L).otherwise(0L))).head()
    val (total, full, partial) = (r.getLong(0), r.getLong(1), r.getLong(2))
    println(f"[probe-text]   clusters=$total fullyMerged=$full " +
      f"(${100.0 * full / total}%.2f%%) withUnpairedMember=$partial")
  }

  // -------------------------------------- r15: the incremental screen

  /** Planted batch classes by id (mod 10), ids starting at nDocs:
    *   1,2 → ~3 %-substituted NEAR-DUP of a corpus organic doc;
    *   3   → EXACT copy of a corpus organic doc;
    *   4,5 → the same NEW text shared pairwise (batch × batch exact dup);
    *   6 (mod 1000 only) → EXACT copy of the corpus BOILERPLATE (the
    *       worst-case collision: the store was built over the RAW corpus,
    *       so this one doc collides with the whole K-clique — measuring
    *       exactly why the store contract says "build over the DEDUPED
    *       corpus");
    *   else → organic new. */
  private def batchTextFor(b: Long, nDocs: Long): String = {
    val m = b % 10
    val toks =
      if (b % 1000 == 6) organic(-1L)
      else if (m == 1 || m == 2) {
        val src = (b * 2654435761L % (nDocs / ClusterMod / 2)) * ClusterMod + 10
        val r = new java.util.Random(0xbadc0deL + b)
        organic(src).map(t => if (r.nextDouble() < SubRate) tokenOf(r) else t)
      } else if (m == 3) {
        val src = (b * 40503L % (nDocs / ClusterMod / 2)) * ClusterMod + 20
        organic(src)
      } else if (m == 4 || m == 5) organic(nDocs + b - m + 4)
      else organic(nDocs + b)
    toks.mkString(" ")
  }

  private def runScreen(spark: SparkSession, args: Array[String]): Unit = {
    val nums = args.filter(_.forall(_.isDigit)).map(_.toLong)
    val nDocs = nums.headOption.getOrElse(4000000L)
    val clique = args.find(_.startsWith("clique:"))
      .map(_.stripPrefix("clique:").toInt).getOrElse(5000)
    val batchN = args.find(_.startsWith("batch:"))
      .map(_.stripPrefix("batch:").toLong).getOrElse(50000L)
    val nBatches = args.find(_.startsWith("batches:"))
      .map(_.stripPrefix("batches:").toInt).getOrElse(1)
    require(nBatches >= 1, s"batches: must be >= 1, got $nBatches")
    // `major:R` (seq mode only) → force the tiered valve's major-fold
    // ratio, so a magnitude run can witness the base rewrite cost the
    // geometric trigger amortizes (default 1.0 = tier rivals base)
    val majorRatio = args.find(_.startsWith("major:"))
      .map(_.stripPrefix("major:").toDouble)
    if (nBatches > 1) {
      runScreenSeq(spark, nDocs, clique, batchN, nBatches, majorRatio, args); return
    }
    val rerun = args.contains("rerun")
    val keep = args.contains("keep")
    val (simTier, simBits) = applyScreenConfs(spark, args)
    val lp = graft.ops.TextOps.lshParams(spark)
    import spark.implicits._
    println(s"[probe-text] screen nDocs=$nDocs clique=$clique batch=$batchN " +
      s"lsh=${lp.numHashes}x${lp.bands}" +
      (if (simTier) s" simtier=$simBits-bit" else "") +
      (if (args.contains("nobroadcast")) " nobroadcast" else ""))
    val t0 = System.nanoTime()
    val root = textRoot(spark, nDocs, clique)
    val storeDir = s"$root/sigstore_${lp.numHashes}x${lp.bands}" +
      (if (simTier) s"_sim$simBits" else "")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docsDf = spark.read.parquet(ensureCorpus(spark, nDocs, clique))

    // ---- the one-time index build (amortized across every nightly batch) ----
    val haveStore = fs.exists(new org.apache.hadoop.fs.Path(s"$storeDir/meta")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$storeDir/sigs/_base/_SUCCESS")) &&
      (!simTier ||
        fs.exists(new org.apache.hadoop.fs.Path(s"$storeDir/simsigs/_base/_SUCCESS")))
    if (haveStore) println(s"[probe-text] sig store reused: $storeDir")
    else stage("buildstore") {
      graft.ops.TextSigStore.build(spark, storeDir, docsDf, simhashTier = simTier)
      println(s"[probe-text]   sigs=${graft.ops.TextSigStore.sigs(spark, storeDir).count()}")
    }
    dropCaches(spark)

    // ---- the batch: staged as parquet like the corpus (a localCheckpoint
    // would die under the inter-stage dropCaches — truncated lineage,
    // blocks gone — exactly how the first r15 run crashed in audit) ----
    val batchDf = stage("batchgen") {
      val staged = s"$root/batch_$batchN"
      val marker = new org.apache.hadoop.fs.Path(s"$staged/_SUCCESS")
      if (fs.exists(marker)) println(s"[probe-text] batch reused: $staged")
      else {
        val n = nDocs
        spark.range(nDocs, nDocs + batchN, 1L, 32)
          .map(id => (id, batchTextFor(id, n)))
          .toDF("doc_id", "text")
          .write.mode("overwrite").parquet(staged)
      }
      val b = spark.read.parquet(staged)
      println(s"[probe-text]   batch=${b.count()}")
      b
    }

    // ---- the screened cycle: pairs → survivors → append (O(batch)) ----
    val report = stage("screen") {
      val r = graft.ops.TextScreen.screenAndAppend(
        spark, storeDir, docsDf, batchDf, "u0000000000000000001")
      println(s"[probe-text]   applied=${r.applied} batchRows=${r.batchRows} " +
        s"flaggedPairs=${r.flaggedPairs} appended=${r.appended}")
      println(s"[probe-text]   bandJoin=" +
        spark.conf.get(graft.ops.TextScreen.LastBandJoinNote, "?") +
        (if (simTier) " simBandJoin=" +
          spark.conf.get(graft.ops.TextScreen.LastSimBandJoinNote, "?")
         else ""))
      r
    }
    require(report.applied, "first screen must apply")
    dropCaches(spark)

    // ---- replay: at-least-once redelivery must be inert (O(1) tip read) ----
    stage("replay") {
      val r = graft.ops.TextScreen.screenAndAppend(
        spark, storeDir, docsDf, batchDf, "u0000000000000000001")
      require(!r.applied, s"replay must be inert, got $r")
      println(s"[probe-text]   replay applied=${r.applied} (inert)")
    }

    // ---- audit per planted class ----
    stage("audit") {
      val stored = graft.ops.TextSigStore.sigs(spark, storeDir)
        .where(col("doc_id") >= nDocs).select("doc_id").localCheckpoint()
      val byClass = batchDf.select(col("doc_id"),
          when(col("doc_id") % 1000 === 6, "boilerplate")
            .when(col("doc_id") % 10 === 1 || col("doc_id") % 10 === 2, "neardup")
            .when(col("doc_id") % 10 === 3, "exactcopy")
            .when(col("doc_id") % 10 === 4 || col("doc_id") % 10 === 5, "batchpair")
            .otherwise("organic").as("cls"))
        .join(stored.withColumn("kept", lit(true)), Seq("doc_id"), "left")
        .groupBy("cls")
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept"))
        .orderBy("cls")
      byClass.collect().foreach { r =>
        val (c, n, k) = (r.getString(0), r.getLong(1), r.getLong(2))
        println(f"[probe-text]   class=$c%-12s n=$n%7d kept=$k%7d dropped=${n - k}%7d " +
          f"(${100.0 * (n - k) / n}%.2f%% dropped)")
      }
      // batchpair classes: exactly the smaller id of each {4,5} pair survives
      val pairKept = batchDf.where(col("doc_id") % 10 === 4)
        .join(stored, Seq("doc_id")).count()
      val pairDroppedHi = batchDf.where(col("doc_id") % 10 === 5)
        .join(stored, Seq("doc_id")).count()
      println(s"[probe-text]   batchpair smaller-id kept=$pairKept larger-id kept=$pairDroppedHi (expect all / 0)")
    }

    // ---- the priced alternative: nightly full re-band over corpus ∪ batch ----
    if (rerun) {
      dropCaches(spark)
      stage("rerun") {
        val edges = graft.ops.TextOps
          .dedupEdgesOf(docsDf.unionAll(batchDf.select("doc_id", "text")))
        edges.write.format("noop").mode("overwrite").save()
        println(s"[probe-text]   full-chain edges=${edges.count()} (the cost a nightly re-band pays)")
      }
    }
    println(f"[probe-text] TOTAL ${(System.nanoTime() - t0) / 1e9}%9.2f s  " +
      f"scratch=${graft.core.DiskStats.scratchBytes() / 1e9}%6.2f GB")
    if (!keep) fs.delete(new org.apache.hadoop.fs.Path(storeDir), true)
  }

  /** M sequential batches against a SELF-CONTAINED store — the streaming
    * twin's regime ([[graft.ops.TextScreen.screenAndAppend]] with
    * `storeTexts = true`, corpus = the store's own
    * [[graft.ops.TextSigStore.textStore]]): the claim under test is that
    * per-batch cost stays FLAT as the store absorbs survivors, and the
    * LSM fold (forced to fire mid-sequence via `compactAt = 4`) is the
    * only super-batch-sized event, amortized across the batches between
    * folds. */
  /** Apply the screen modes' shared conf args to a fresh session:
    * `lsh:NxB` (the banding operating point — PROBES r15 lshcurve),
    * `bits:W` (simhash width; 60 at corpus magnitude), `nobroadcast`
    * (force every byte-gated broadcast onto the shuffle fallback — the
    * cluster-regime shape, VERDICT r15 #7). Returns the `simtier` flag
    * (the store carries the simhash near-exact side, r16) plus the
    * resolved width. Shared by the single and seq modes so no flag is
    * ever silently dropped by a `batches:` dispatch (r16 review). */
  private def applyScreenConfs(spark: SparkSession, args: Array[String])
      : (Boolean, Int) = {
    args.find(_.startsWith("lsh:")).map(_.stripPrefix("lsh:")).foreach { s =>
      val Array(nh, nb) = s.split("x").map(_.trim)
      spark.conf.set(graft.ops.TextOps.NumHashesConf, nh)
      spark.conf.set(graft.ops.TextOps.BandsConf, nb)
    }
    args.find(_.startsWith("bits:")).map(_.stripPrefix("bits:")).foreach(b =>
      spark.conf.set(graft.ops.TextOps.SimhashBitsConf, b))
    if (args.contains("nobroadcast"))
      spark.conf.set(graft.ops.TextOps.CcBroadcastMaxBytesConf, "0")
    (args.contains("simtier"), graft.ops.TextOps.simhashBits(spark))
  }

  /** Per-batch store-lifetime report (VERDICT r16 next-round #1): what
    * the valve did this cycle ([[graft.ops.SideStoreFold.FoldNoteConf]]),
    * each side's base bytes / run-ladder layout / un-folded delta count,
    * and the reader's root-list size — the minor-cost-vs-tier-size curve
    * and read-path health the lifetime run records. */
  private def printStoreState(spark: SparkSession, storeDir: String,
      simTier: Boolean): Unit = {
    val note = spark.conf
      .get(graft.ops.SideStoreFold.FoldNoteConf, "")
    if (note.nonEmpty) println(s"[probe-text]   folds: $note")
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (side <- Seq("sigs", "texts") ++ (if (simTier) Seq("simsigs") else Nil)) {
      val root = s"$storeDir/$side"
      val rp = new org.apache.hadoop.fs.Path(root)
      if (fs.exists(rp)) {
        val basePath = new org.apache.hadoop.fs.Path(s"$root/_base")
        val baseMb =
          if (fs.exists(basePath))
            fs.getContentSummary(basePath).getLength / 1e6
          else 0.0
        val runs = graft.ops.SideStoreFold.runLayout(fs, root)
        // COMMITTED (tip-visible) deltas only — readers union exactly
        // these, so the roots line reports the real read-path list size
        // (an above-tip orphan dir is invisible; r17 review)
        val deltas = graft.core.UpdateLog.committed(spark, storeDir, root).size
        val roots = graft.ops.SideStoreFold.storedRoots(fs, root).size + deltas
        println(f"[probe-text]   $side%-8s base=$baseMb%8.1fMB  runs=[" +
          runs.map { case (n, b) => f"$n:${b / 1e6}%.1fMB" }.mkString(" ") +
          s"]  deltas=$deltas roots=$roots")
      }
    }
  }

  private def runScreenSeq(spark: SparkSession, nDocs: Long, clique: Int, batchN: Long,
      m: Int, majorRatio: Option[Double], args: Array[String]): Unit = {
    import spark.implicits._
    majorRatio.foreach(r =>
      spark.conf.set(graft.ops.SideStoreFold.MajorRatioConf, r.toString))
    val (simTier, simBits) = applyScreenConfs(spark, args)
    // `compactAt:N` — the valve cadence (default 4, the r15/r16 probes'
    // forced-low shape); `stream` — drive every batch through the REAL
    // streaming twin (graft.streaming.ScreenedTextIngest, one file-source
    // micro-batch per staged file) instead of calling screenAndAppend
    // directly (VERDICT r16 next-round #5's composition shape)
    val compactAt = args.find(_.startsWith("compactAt:"))
      .map(_.stripPrefix("compactAt:").toInt).getOrElse(4)
    val viaStream = args.contains("stream")
    // `mergeRatio:R` — the ladder cascade trigger; 0 makes every fold
    // collapse the whole ladder into ONE run (byte-for-byte the r16
    // single-`_tier` behavior, the lifetime run's A/B control)
    val mergeRatio = args.find(_.startsWith("mergeRatio:"))
      .map(_.stripPrefix("mergeRatio:").toDouble)
    mergeRatio.foreach(r =>
      spark.conf.set(graft.ops.SideStoreFold.RunMergeRatioConf, r.toString))
    println(s"[probe-text] screenseq nDocs=$nDocs clique=$clique " +
      s"batch=$batchN batches=$m compactAt=$compactAt" +
      mergeRatio.map(r => s" mergeRatio=$r").getOrElse("") +
      majorRatio.map(r => s" majorRatio=$r").getOrElse("") +
      (if (simTier) s" simtier=$simBits-bit" else "") +
      (if (viaStream) " stream" else "") +
      (if (args.contains("nobroadcast")) " nobroadcast" else ""))
    val t0 = System.nanoTime()
    val root = textRoot(spark, nDocs, clique)
    val storeDir = s"$root/sigstore_seq"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docsDf = spark.read.parquet(ensureCorpus(spark, nDocs, clique))
    spark.conf.set(graft.ops.SideStoreFold.CompactAtConf, compactAt.toString)
    val ckpt = s"$storeDir/_probeckpt"
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    stage("buildstore") {
      graft.ops.TextSigStore.build(spark, storeDir, docsDf,
        storeTexts = true, simhashTier = simTier)
      println(s"[probe-text]   sigs=${graft.ops.TextSigStore.sigs(spark, storeDir).count()} (self-contained: texts seeded too)")
    }
    dropCaches(spark)
    for (k <- 0 until m) {
      val staged = s"$root/batchseq_${batchN}_$k"
      val marker = new org.apache.hadoop.fs.Path(s"$staged/_SUCCESS")
      if (!fs.exists(marker)) {
        val n = nDocs
        spark.range(nDocs + k * batchN, nDocs + (k + 1) * batchN, 1L, 32)
          .map(id => (id, batchTextFor(id, n)))
          .toDF("doc_id", "text")
          .write.mode("overwrite").parquet(staged)
      }
      val bDf = spark.read.parquet(staged)
      graft.ops.SideStoreFold.resetFoldNote(spark)
      stage(f"screen_$k%02d") {
        if (viaStream) {
          // the streaming twin: stage this batch as ONE file into the
          // stream's source dir, drain it as one micro-batch (the q108
          // one-drain-per-file discipline keeps batch order deterministic)
          val srcDir = s"$storeDir/_probesrc"
          bDf.repartition(1).write.mode("append").parquet(srcDir)
          val src = spark.readStream.schema(bDf.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir)
          graft.streaming.ScreenedTextIngest.maintain(spark, storeDir, src, ckpt)
            .awaitTermination()
          require(graft.core.UpdateLog
            .isApplied(spark, storeDir, f"stream_$k%019d"),
            s"stream batch $k must have applied")
          println(s"[probe-text]   batch $k drained via ScreenedTextIngest")
        } else {
          val r = graft.ops.TextScreen.screenAndAppend(spark, storeDir,
            graft.ops.TextSigStore.textStore(spark, storeDir), bDf,
            f"u$k%019d", storeTexts = true)
          require(r.applied, s"batch $k must apply, got $r")
          println(s"[probe-text]   batch $k flagged=${r.flaggedPairs} " +
            s"appended=${r.appended} of ${r.batchRows}")
        }
      }
      // reporting OUTSIDE the timed stage (r17 review): the store-state
      // walk stats the base + every run per side — O(store files)
      // metadata that must not inflate the per-batch cost curve the
      // lifetime run exists to record
      println(s"[probe-text]   bandJoin=" +
        spark.conf.get(graft.ops.TextScreen.LastBandJoinNote, "?") +
        (if (simTier) " simBandJoin=" +
          spark.conf.get(graft.ops.TextScreen.LastSimBandJoinNote, "?")
         else ""))
      printStoreState(spark, storeDir, simTier)
      dropCaches(spark)
    }
    stage("audit") {
      val sigIds = graft.ops.TextSigStore.sigs(spark, storeDir).select("doc_id")
      val textIds = graft.ops.TextSigStore.textStore(spark, storeDir)
        .select("doc_id")
      val onlySigs = sigIds.exceptAll(textIds).count()
      val onlyTexts = textIds.exceptAll(sigIds).count()
      println(s"[probe-text]   store rows=${sigIds.count()} " +
        s"sig-only=$onlySigs text-only=$onlyTexts (expect 0/0)")
      require(onlySigs == 0 && onlyTexts == 0,
        "self-contained store sides must agree")
      val sides = Seq("sigs", "texts").map { s =>
        val dirs = graft.core.UpdateLog.updateDirs(spark, s"$storeDir/$s")
        s"$s unfoldedDeltas=${dirs.length}"
      }
      println(s"[probe-text]   ${sides.mkString("  ")}")
      // order-independent content fingerprint (sum of per-row hashes):
      // two runs of the same batches through different REGIMES (broadcast
      // vs shuffle, direct vs streaming twin) must land the same store
      val storeHash = graft.ops.TextSigStore.sigs(spark, storeDir)
        .select(sum(xxhash64(col("doc_id"), concat_ws(",", col("sig")))
          .cast("decimal(38,0)")).as("h")) // ANSI: a long sum overflows
        .head().getDecimal(0)
      println(s"[probe-text]   storeHash=$storeHash")
      // per planted batch class (the single-mode audit over ALL batches):
      // catch rates per class — the combined-operating-point record
      val batchLo = nDocs
      val stored = graft.ops.TextSigStore.sigs(spark, storeDir)
        .where(col("doc_id") >= batchLo).select("doc_id").localCheckpoint()
      val allBatches = spark.range(nDocs, nDocs + m * batchN).toDF("doc_id")
      allBatches.select(col("doc_id"),
          when(col("doc_id") % 1000 === 6, "boilerplate")
            .when(col("doc_id") % 10 === 1 || col("doc_id") % 10 === 2, "neardup")
            .when(col("doc_id") % 10 === 3, "exactcopy")
            .when(col("doc_id") % 10 === 4 || col("doc_id") % 10 === 5, "batchpair")
            .otherwise("organic").as("cls"))
        .join(stored.withColumn("kept", lit(true)), Seq("doc_id"), "left")
        .groupBy("cls")
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept"))
        .orderBy("cls")
        .collect().foreach { r =>
          val (c, n, k) = (r.getString(0), r.getLong(1), r.getLong(2))
          println(f"[probe-text]   class=$c%-12s n=$n%7d kept=$k%7d " +
            f"dropped=${n - k}%7d (${100.0 * (n - k) / n}%.2f%% dropped)")
        }
    }
    println(f"[probe-text] TOTAL ${(System.nanoTime() - t0) / 1e9}%9.2f s  " +
      f"scratch=${graft.core.DiskStats.scratchBytes() / 1e9}%6.2f GB")
    fs.delete(new org.apache.hadoop.fs.Path(storeDir), true)
  }

  // ------------------------------------------------ r15: simhash chain

  private def runSimhash(spark: SparkSession, args: Array[String]): Unit = {
    val nums = args.filter(_.forall(_.isDigit)).map(_.toLong)
    val nDocs = nums.headOption.getOrElse(4000000L)
    val clique = args.find(_.startsWith("clique:"))
      .map(_.stripPrefix("clique:").toInt).getOrElse(5000)
    val naive = args.contains("naive")
    val keep = args.contains("keep")
    // `bits:W` → the signature-width conf (r15: 32-bit/h≤3 percolates at
    // corpus magnitude — the width sweep is this probe's reason to exist)
    val bits = args.find(_.startsWith("bits:"))
      .map(_.stripPrefix("bits:").toInt)
    bits.foreach(b =>
      spark.conf.set(graft.ops.TextOps.SimhashBitsConf, b.toString))
    val route = if (naive) "naive" else "collapsed"
    println(s"[probe-text] simhash nDocs=$nDocs clique=$clique route=$route" +
      s" bits=${graft.ops.TextOps.simhashBits(spark)}")
    val t0 = System.nanoTime()
    val root = textRoot(spark, nDocs, clique)
    val edgesDir = s"$root/simedges_${route}_b${graft.ops.TextOps.simhashBits(spark)}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docsDf = spark.read.parquet(ensureCorpus(spark, nDocs, clique))

    stage("simedges") {
      val edges =
        if (naive) graft.ops.TextOps.simhashPairsOf(docsDf).select("id_a", "id_b")
        else graft.ops.TextOps.simhashEdgesOf(docsDf)
      edges.write.mode("overwrite").parquet(edgesDir)
      println(s"[probe-text]   edges=${spark.read.parquet(edgesDir).count()}")
    }
    dropCaches(spark)

    val labels = stage("components") {
      val l = graft.ops.TextOps
        .minLabelComponents(spark.read.parquet(edgesDir))
        .localCheckpoint()
      println(s"[probe-text]   labeled=${l.count()}")
      l
    }

    stage("audit") {
      auditComponents(spark, docsDf, labels, nDocs, clique)
    }
    println(f"[probe-text] TOTAL ${(System.nanoTime() - t0) / 1e9}%9.2f s  " +
      f"scratch=${graft.core.DiskStats.scratchBytes() / 1e9}%6.2f GB")
    if (!keep) fs.delete(new org.apache.hadoop.fs.Path(edgesDir), true)
  }

  // ------------------------------------- r15: LSH operating-point curve

  /** Planted pair for curve slot `i`: 200 base tokens; the twin
    * substitutes a deterministic fraction (i mod 50)/72 of them, sweeping
    * 3-shingle jaccard from ≈1.0 down through the verification threshold
    * into the never-candidate regime. */
  private def curvePair(i: Long): (String, String) = {
    val r = new java.util.Random(0xcafe0000L + i)
    val base = Array.fill(200)(tokenOf(r))
    val rate = (i % 50) / 72.0
    val rv = new java.util.Random(0xfeed0000L + i)
    val variant = base.map(t => if (rv.nextDouble() < rate) tokenOf(rv) else t)
    (base.mkString(" "), variant.mkString(" "))
  }

  private def runLshCurve(spark: SparkSession, args: Array[String]): Unit = {
    val nums = args.filter(_.forall(_.isDigit)).map(_.toLong)
    val nPairs = nums.headOption.getOrElse(50000L)
    val corpusN = args.find(_.startsWith("corpus:"))
      .map(_.stripPrefix("corpus:").toLong).getOrElse(500000L)
    import spark.implicits._
    import graft.ops.TextOps
    val points = Seq((16, 2), (16, 4), (16, 8), (32, 8), (32, 16))
    println(s"[probe-text] lshcurve nPairs=$nPairs points=${points.mkString(",")}")

    // ---- per-pair candidate recall vs exact jaccard, per point ----
    stage("curve") {
      val docsDf = spark.range(0L, nPairs, 1L, 64).flatMap { i =>
        val (a, b) = curvePair(i)
        Seq((2 * i, a), (2 * i + 1, b))
      }.toDF("doc_id", "text").localCheckpoint()
      val sh = docsDf.select(col("doc_id"),
        array_distinct(graft.functions.TextFunctions.shingles(col("text"), 3)).as("sh"))
      val jac = sh.where(col("doc_id") % 2 === 0)
        .select((col("doc_id") / 2).cast("long").as("pid"), col("sh").as("sa"))
        .join(sh.where(col("doc_id") % 2 === 1)
          .select(((col("doc_id") - 1) / 2).cast("long").as("pid"), col("sh").as("sb")), "pid")
        .select(col("pid"),
          graft.functions.TextFunctions.jaccard(col("sa"), col("sb")).as("j"))
        .localCheckpoint()
      val withCand = points.foldLeft(jac) { case (acc, (nh, nb)) =>
        val p = TextOps.LshParams(nh, nb, 0.5)
        val sig = TextOps.minhashSigsOf(docsDf, p)
        val rpb = p.rowsPerBand
        val a = sig.where(col("doc_id") % 2 === 0)
          .select((col("doc_id") / 2).cast("long").as("pid"), col("sig").as("ga"))
        val b = sig.where(col("doc_id") % 2 === 1)
          .select(((col("doc_id") - 1) / 2).cast("long").as("pid"), col("sig").as("gb"))
        val candCol = (0 until nb).map { bi =>
          (0 until rpb).map(r =>
            element_at(col("ga"), bi * rpb + r + 1) ===
              element_at(col("gb"), bi * rpb + r + 1)).reduce(_ && _)
        }.reduce(_ || _)
        acc.join(a.join(b, "pid").select(col("pid"), candCol.as(s"c_${nh}x$nb")), "pid")
      }.localCheckpoint()
      // bucketed candidate-recall table
      val bucket = (floor(col("j") * 20) / 20).as("j_bucket")
      val aggs = points.map { case (nh, nb) =>
        round(avg(col(s"c_${nh}x$nb").cast("double")), 4).as(s"recall_${nh}x$nb") }
      println("[probe-text] candidate recall by exact-jaccard bucket:")
      withCand.where(col("j") >= 0.2).groupBy(bucket)
        .agg(count(lit(1)).as("n"), aggs: _*)
        .orderBy("j_bucket")
        .collect().foreach { r =>
          val cols = (0 until points.size).map(k => f"${r.getDouble(2 + k)}%6.4f")
          println(f"[probe-text]   j=${r.getDouble(0)}%4.2f n=${r.getLong(1)}%6d  " +
            points.map(p => s"${p._1}x${p._2}").zip(cols)
              .map { case (n, v) => s"$n=$v" }.mkString("  "))
        }
      // operator-level recall at the verification threshold
      val atThr = withCand.where(col("j") >= 0.5)
      val summary = atThr.agg(count(lit(1)).as("n"),
        points.map { case (nh, nb) =>
          round(avg(col(s"c_${nh}x$nb").cast("double")), 4).as(s"r_${nh}x$nb") }: _*)
        .head()
      println(s"[probe-text] P(candidate | j >= 0.5), n=${summary.getLong(0)}: " +
        points.zipWithIndex.map { case ((nh, nb), k) =>
          s"${nh}x$nb=${summary.getDouble(1 + k)}" }.mkString("  "))
    }
    dropCaches(spark)

    // ---- real-corpus cost anchor per point ----
    val staged = ensureCorpus(spark, corpusN, 0)
    val corpus = spark.read.parquet(staged)
    points.foreach { case (nh, nb) =>
      spark.conf.set(TextOps.NumHashesConf, nh.toString)
      spark.conf.set(TextOps.BandsConf, nb.toString)
      stage(s"cost_${nh}x$nb") {
        val pairs = TextOps.lshPairsOf(corpus)
        pairs.write.format("noop").mode("overwrite").save()
        println(s"[probe-text]   verified pairs=${pairs.count()} at ${nh}x$nb over $corpusN docs")
      }
      dropCaches(spark)
    }
    spark.conf.unset(TextOps.NumHashesConf)
    spark.conf.unset(TextOps.BandsConf)
  }
}
