package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.UpdateLog
import graft.ops.{SideStoreFold, TextOps, TextScreen, TextSigStore}

/** The incremental / screened TEXT dedup loop (VERDICT r14 next-round #1):
  * pair semantics pinned against the batch chain, the conservative-prefix
  * survivor rule pinned brute-force, the store's replay / crash-window /
  * compaction discipline, and the conf-lifted LSH operating point. */
class TextScreenSpec extends SparkSpec {
  import spark.implicits._
  graft.functions.GraftFunctions.register(spark) // graft_minhash on synthetic frames

  /** Deterministic corpus with near-dup pairs CROSSING the corpus/batch
    * split: base texts on ids 0..n-1; ids ≡ 0 (mod 5) play the batch.
    * Every id ≡ 1 (mod 10) shares its text with id+9 (which is ≡ 0 mod
    * 10, so every such pair is corpus×batch when id+9 ≡ 0 mod 5); ids
    * ≡ 2 (mod 25) share with id+23 (≡ 0 mod 25 → batch×batch when both
    * ≡ 0 mod 5 fails — keeps a mix). */
  private def corpusOf(n: Int): DataFrame =
    spark.range(0, n).map { jid =>
      val id: Long = jid
      val r = new java.util.Random(0xc0ffeeL + id)
      val base =
        if (id % 10 == 9 && id >= 9) id - 9 // corpus copies a BATCH doc
        else if (id % 20 == 15 && id >= 15) id - 5 // batch copies a BATCH doc
        else id
      val rb = new java.util.Random(0xc0ffeeL + base)
      val toks = Array.fill(30 + rb.nextInt(20))(s"w${rb.nextInt(500)}")
      // ids ≡ 4 (mod 20): a ~6 %-substituted NEAR copy of id−4's text
      val out =
        if (id % 20 == 4 && id >= 4) {
          val b2 = new java.util.Random(0xc0ffeeL + (id - 4))
          val t2 = Array.fill(30 + b2.nextInt(20))(s"w${b2.nextInt(500)}")
          t2.map(t => if (r.nextDouble() < 0.06) s"x${r.nextInt(500)}" else t)
        } else toks
      (id, out.mkString(" "))
    }.toDF("doc_id", "text")

  private def splitOf(all: DataFrame): (DataFrame, DataFrame) =
    (all.where(col("doc_id") % 5 =!= 0), all.where(col("doc_id") % 5 === 0))

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("screenPairs ≡ the batch chain's pairs restricted to ≥1 batch side, " +
      "contracted onto batch exact-dup representatives; survivors raw-equal") {
    val all = corpusOf(400).localCheckpoint()
    val (corpus, batch) = splitOf(all)
    val p = TextOps.lshParams(spark)
    val got = pairSet(TextScreen.screenPairs(
      corpus, TextOps.minhashSigsOf(corpus, p), batch))
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    val full = pairSet(TextOps.lshPairsOf(all))
      .filter(p => batchIds(p._1) || batchIds(p._2))
    // r16 listing semantics (r15 "what's wrong #2"): batch byte-identical
    // docs contract onto their min-id representative — a clique is K−1
    // star edges, a cross-content pair lists the representative side —
    // so the expectation is the RAW restricted chain with batch members
    // mapped to reps (self-pairs dropped) plus the star edges themselves
    val batchTexts = batch.select("doc_id", "text").as[(Long, String)]
      .collect()
    val repOf: Map[Long, Long] = batchTexts.groupBy(_._2)
      .values.flatMap { g =>
        val rep = g.map(_._1).min
        g.map(d => d._1 -> rep)
      }.toMap
    val stars = repOf.collect { case (m, r) if m != r => (r, m) }.toSet
    assert(stars.nonEmpty, "the generator must plant batch exact groups " +
      "(ids ≡ 15 mod 20 copy id−5) or this pin is vacuous")
    val contracted = full.flatMap { case (a, b) =>
      val (a2, b2) = (repOf.getOrElse(a, a), repOf.getOrElse(b, b))
      if (a2 == b2) None
      else Some((math.min(a2, b2), math.max(a2, b2)))
    }
    assert(got === contracted ++ stars)
    // the semantic contract is DROP-rule equivalence: survivors from the
    // collapsed listing equal survivors from the raw restricted chain
    // (an identical member near-dups exactly what its rep near-dups and
    // always drops against it)
    def survivorsFrom(ps: Set[(Long, Long)]): Set[Long] = {
      val df = ps.toSeq.toDF("id_a", "id_b")
      graft.ops.VectorQueries.screenDrops(df, batchIds).survivors(batch, "doc_id")
        .select("doc_id").as[Long].collect().toSet
    }
    assert(survivorsFrom(got) === survivorsFrom(full))
    assert(got.exists { case (a, b) => !batchIds(a) || !batchIds(b) },
      "planted corpus×batch dups must flag")
    assert(got.exists { case (a, b) => batchIds(a) && batchIds(b) },
      "planted batch×batch dups must flag")
    // and nothing corpus×corpus leaks in
    got.foreach { case (a, b) =>
      assert(batchIds(a) || batchIds(b), s"corpus-only pair ($a,$b)")
    }
  }

  test("screened store loop: survivors by the conservative-prefix rule; replay inert") {
    val all = corpusOf(300).localCheckpoint()
    val (corpus, batch) = splitOf(all)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_textstore").toString + "/store"
    TextSigStore.build(spark, dir, corpus)
    val pairs = TextScreen.screenPairs(
      corpus, TextSigStore.sigs(spark, dir), batch).localCheckpoint()
    val r1 = TextScreen.screenAndAppend(spark, dir, corpus, batch, "u0001")
    assert(r1.applied && r1.flaggedPairs == pairs.count())
    // brute-force the rule: drop a batch doc near-dupping any corpus doc
    // (either id order) or any smaller-id batch doc
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    val ps = pairSet(pairs)
    val drops = batchIds.filter(x => ps.exists { case (a, b) =>
      (b == x && (!batchIds(a) || a < x)) || (a == x && !batchIds(b))
    })
    val stored = TextSigStore.sigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    val corpusIds = corpus.select("doc_id").as[Long].collect().toSet
    assert(stored === corpusIds ++ (batchIds -- drops))
    assert(drops.nonEmpty && (batchIds -- drops).nonEmpty)
    // replay of the same update id is inert: no new rows, applied=false
    val r2 = TextScreen.screenAndAppend(spark, dir, corpus, batch, "u0001")
    assert(!r2.applied && r2.batchRows == 0)
    assert(TextSigStore.sigs(spark, dir).count() === stored.size.toLong)
  }

  test("second batch screens against corpus + batch-1 SURVIVORS only (order semantics)") {
    val all = corpusOf(300).localCheckpoint()
    val (corpus, batch1) = splitOf(all)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_textstore2").toString + "/store"
    TextSigStore.build(spark, dir, corpus)
    TextScreen.screenAndAppend(spark, dir, corpus, batch1, "u0001")
    val stored1 = TextSigStore.sigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    val b1Ids = batch1.select("doc_id").as[Long].collect().toSet
    val surv1 = b1Ids.intersect(stored1)
    val dropped1 = (b1Ids -- surv1).toSeq.sorted
    assert(surv1.nonEmpty && dropped1.nonEmpty)
    // batch 2: one exact copy of a batch-1 SURVIVOR (must drop), one
    // exact copy of a batch-1 DROPPED doc whose content never entered
    // the store — it must drop only if its content still matches the
    // store (the dropped doc's DUPLICATE SOURCE is stored); take a
    // dropped doc that was flagged against a CORPUS doc so the copy
    // still collides, pinning that the rule keys on stored CONTENT,
    // not batch membership
    val survSrc = surv1.head
    val texts = all.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    val batch2 = Seq(
      (100000L, texts(survSrc)), // copy of a stored batch-1 survivor
      (100001L, "zq unique brand new tokens nothing shares these at all" +
        " pad pad pad lorem alpha beta gamma delta epsilon zeta eta theta" +
        " iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon")
    ).toDF("doc_id", "text")
    // corpus for verification now includes batch-1 survivors' text
    val corpus2 = all.where(col("doc_id").isin(stored1.toSeq: _*))
    val r = TextScreen.screenAndAppend(spark, dir, corpus2, batch2, "u0002")
    assert(r.applied)
    val stored2 = TextSigStore.sigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(!stored2.contains(100000L), "copy of a stored survivor must drop")
    assert(stored2.contains(100001L), "novel content must survive")
  }

  test("crash window self-heals: delta written but tip not advanced → replay is clean") {
    val all = corpusOf(200).localCheckpoint()
    val (corpus, batch) = splitOf(all)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_textstore3").toString + "/store"
    TextSigStore.build(spark, dir, corpus)
    // simulate the crash: the delta parquet lands, the tip write never ran
    val p = TextOps.lshParams(spark)
    TextOps.minhashSigsOf(batch, p)
      .write.mode("overwrite").parquet(s"$dir/sigs/u0001")
    assert(!UpdateLog.isApplied(spark, dir, "u0001"))
    // the replay re-screens, overwrites the delta with the SURVIVOR rows,
    // and advances the tip — no duplicate rows, no double-append
    val r = TextScreen.screenAndAppend(spark, dir, corpus, batch, "u0001")
    assert(r.applied)
    val stored = TextSigStore.sigs(spark, dir).groupBy("doc_id")
      .agg(count(lit(1)).as("n"))
    assert(stored.where(col("n") > 1).isEmpty, "no id may hold two sig rows")
    assert(UpdateLog.isApplied(spark, dir, "u0001"))
  }

  test("compaction folds deltas into one base with identical content") {
    val all = corpusOf(200).localCheckpoint()
    val (corpus, batch) = splitOf(all)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_textstore4").toString + "/store"
    TextSigStore.build(spark, dir, corpus)
    TextScreen.screenAndAppend(spark, dir, corpus, batch, "u0001")
    val before = TextSigStore.sigs(spark, dir)
      .select(col("doc_id"), concat_ws(",", col("sig")).as("s"))
      .as[(Long, String)].collect().toSet
    TextSigStore.compact(spark, dir)
    val after = TextSigStore.sigs(spark, dir)
      .select(col("doc_id"), concat_ws(",", col("sig")).as("s"))
      .as[(Long, String)].collect().toSet
    assert(after === before)
    // all deltas folded: only the base remains under sigs/
    val roots = new java.io.File(s"$dir/sigs").listFiles().map(_.getName)
    assert(roots.toSet === Set("_base"))
  }

  test("tiered LSM valve: minor folds deltas into a tier (base bytes untouched); " +
      "read path equal across tier states; major fires only when due") {
    val all = corpusOf(300).localCheckpoint()
    val (corpus, batchAll) = splitOf(all)
    val batch1 = batchAll.where(col("doc_id") % 10 === 0)
    val batch2 = batchAll.where(col("doc_id") % 10 === 5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_texttier").toString + "/store"
    TextSigStore.build(spark, dir, corpus)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def entries() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/sigs"))
      .map(_.getPath.getName).sorted.toSeq
    def content() = TextSigStore.sigs(spark, dir)
      .select(col("doc_id"), concat_ws(",", col("sig")).as("s"))
      .as[(Long, String)].collect().toSet
    // the base's files (name, len, mtime): a MINOR fold must leave every
    // one byte-identical — the whole point of the split (r15's fold
    // rewrote the base each compactAt, O(corpus) maintenance forever)
    def baseFiles() = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/sigs/_base"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .toSet
    val base0 = baseFiles()
    spark.conf.set(SideStoreFold.CompactAtConf, "1")
    try {
      TextScreen.screenAndAppend(spark, dir, corpus, batch1, "u0001")
      assert(entries() === Seq("_base", "_runs"),
        "compactAt=1 must minor-fold the delta into a ladder run")
      assert(baseFiles() === base0, "a minor fold must never touch the base")
      val c1 = content()
      val corpus2 = all.where(col("doc_id").isin(c1.map(_._1).toSeq: _*))
      TextScreen.screenAndAppend(spark, dir, corpus2, batch2, "u0002")
      assert(entries() === Seq("_base", "_runs"),
        "the second minor fold grows the ladder, not the base")
      assert(baseFiles() === base0,
        "ladder ≪ base at the default ratio: still no base rewrite")
      // similar-size sibling runs cascade-merge: the ladder stays O(log)
      val fs2 = new org.apache.hadoop.fs.Path(s"$dir/sigs/_runs")
      assert(fs.listStatus(fs2).length <= 2,
        "the geometric cascade must bound the run count")
      val c2 = content()
      assert(c1.subsetOf(c2) && c2.size > c1.size)
      // read-path equivalence across tier states: the same rows read
      // from (base + tier) and from the explicitly full-folded base
      val rows2 = TextSigStore.sigs(spark, dir).count()
      TextSigStore.compact(spark, dir)
      assert(entries() === Seq("_base"))
      assert(content() === c2)
      assert(TextSigStore.sigs(spark, dir).count() === rows2)
      // the fully folded side is read through the base's data files, not
      // the `_base` directory: Spark treats a `_`-named root as hidden and
      // logs "All paths were ignored" for a read whose only root it is
      val roots = SideStoreFold.storedRoots(fs, s"$dir/sigs")
      assert(roots.nonEmpty && roots.forall { r =>
        val leaf = new org.apache.hadoop.fs.Path(r).getName
        !leaf.startsWith("_") && !leaf.startsWith(".")
      }, roots)
      // force the major path (ratio 0 ⇒ any tier is due): the next
      // cycle's valve minor-folds its delta then majors tier → base
      spark.conf.set(graft.ops.SideStoreFold.MajorRatioConf, "0.0")
      val corpus3 = all.where(col("doc_id").isin(c2.map(_._1).toSeq: _*))
      val batch3 = Seq((990001L, "zz wholly novel probe text for the major" +
        " fold trigger row alpha beta gamma delta epsilon zeta eta theta" +
        " iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi"))
        .toDF("doc_id", "text")
      TextScreen.screenAndAppend(spark, dir, corpus3, batch3, "u0003")
      assert(entries() === Seq("_base"),
        "ratio 0 must major-fold the ladder into the base inside the valve")
      val c3 = content()
      assert(c3.map(_._1).contains(990001L) && c2.subsetOf(c3))
    } finally {
      spark.conf.unset(SideStoreFold.CompactAtConf)
      spark.conf.unset(graft.ops.SideStoreFold.MajorRatioConf)
    }
  }

  test("LSH operating-point confs: defaults pinned; store refuses a mismatched session") {
    val p = TextOps.lshParams(spark)
    assert(p.numHashes == 16 && p.bands == 4 && p.threshold == 0.5 &&
      p.rowsPerBand == 4)
    val all = corpusOf(100).localCheckpoint()
    val (corpus, batch) = splitOf(all)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_textstore5").toString + "/store"
    TextSigStore.build(spark, dir, corpus)
    spark.conf.set(TextOps.BandsConf, "8")
    try {
      val ex = intercept[IllegalArgumentException](
        TextScreen.screenAndAppend(spark, dir, corpus, batch, "u0001"))
      assert(ex.getMessage.contains(TextOps.BandsConf), ex.getMessage)
      // invalid operating points fail at param construction
      spark.conf.set(TextOps.BandsConf, "3") // 3 ∤ 16
      val ex2 = intercept[IllegalArgumentException](TextOps.lshParams(spark))
      assert(ex2.getMessage.contains("divide"), ex2.getMessage)
    } finally spark.conf.unset(TextOps.BandsConf)
  }

  test("more bands (fewer rows per band) only ever ADDS verified pairs") {
    // a pair matching a 4-row band necessarily matches both 2-row halves,
    // so candidates at 16×8 ⊇ candidates at 16×4; verification at the
    // same threshold preserves the inclusion
    val all = corpusOf(300).localCheckpoint()
    val base = pairSet(TextOps.lshPairsOf(all))
    spark.conf.set(TextOps.BandsConf, "8")
    try {
      val wide = pairSet(TextOps.lshPairsOf(all))
      assert(base.subsetOf(wide))
    } finally spark.conf.unset(TextOps.BandsConf)
  }

  test("simhashEdgesOf components ≡ raw simhashPairsOf components on planted exact groups") {
    // the q107 generator's exactness pin — the dedupEdgesOf proof applied
    // to the hamming chain: identical text ⇒ identical simhash ⇒ the
    // collapse's star edges are true raw edges, and contracting members
    // onto their representative preserves components exactly
    val all = corpusOf(300).localCheckpoint()
    def comps(edges: DataFrame): Set[(Long, Long)] =
      TextOps.minLabelComponents(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = comps(TextOps.simhashPairsOf(all).select("id_a", "id_b"))
    val collapsed = comps(TextOps.simhashEdgesOf(all))
    assert(collapsed === raw)
    assert(raw.nonEmpty, "planted exact groups must pair at hamming 0")
  }

  test("self-contained store: texts-then-sigs crash window heals; compaction folds both sides") {
    // the streaming twin's discipline (ScreenedTextIngest): survivor
    // TEXTS write before the signature append commits the tip, so the
    // one crash window leaves orphaned text rows invisible to readers
    // and the replay rewrites identical bytes — never a committed
    // signature whose verification text is missing
    val all = corpusOf(300).localCheckpoint()
    val (corpus, batch) = splitOf(all)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_textstore_cw").toString + "/store"
    TextSigStore.build(spark, dir, corpus, storeTexts = true)
    val corpusIds = corpus.select("doc_id").as[Long].collect().toSet
    assert(TextSigStore.textStore(spark, dir)
      .select("doc_id").as[Long].collect().toSet === corpusIds)
    // crash exactly between writeTexts and appendSigs
    spark.conf.set(TextScreen.CrashAfterWriteTextsConf, "true")
    try intercept[IllegalStateException](TextScreen.screenAndAppend(
      spark, dir, TextSigStore.textStore(spark, dir), batch, "u0001",
      storeTexts = true))
    finally spark.conf.unset(TextScreen.CrashAfterWriteTextsConf)
    // the orphaned text dir is INVISIBLE (uid > tip): readers see the seed
    assert(TextSigStore.textStore(spark, dir)
      .select("doc_id").as[Long].collect().toSet === corpusIds)
    assert(!UpdateLog.isApplied(spark, dir, "u0001"))
    // replay heals: applied, both sides agree on the survivors — and with
    // compactAt=1 the fold fires INSIDE this very cycle, right after the
    // append: the report must already be materialized when the fold
    // deletes the update's text delta (the r15 multi-batch probe crashed
    // here with FILE_NOT_EXIST when the count was still a lazy plan)
    spark.conf.set(SideStoreFold.CompactAtConf, "1")
    val r = try TextScreen.screenAndAppend(spark, dir,
        TextSigStore.textStore(spark, dir), batch, "u0001", storeTexts = true)
      finally spark.conf.unset(SideStoreFold.CompactAtConf)
    assert(r.applied && r.appended > 0 && r.appended < r.batchRows)
    val sigIds = TextSigStore.sigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    val textIds = TextSigStore.textStore(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(sigIds === textIds)
    assert((sigIds -- corpusIds).size.toLong === r.appended)
    // compaction folds BOTH sides into one base with identical content
    TextSigStore.compact(spark, dir)
    assert(TextSigStore.sigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet === sigIds)
    assert(TextSigStore.textStore(spark, dir)
      .select("doc_id").as[Long].collect().toSet === textIds)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (side <- Seq("sigs", "texts")) {
      val rem = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$side"))
        .map(_.getPath.getName).filterNot(_.startsWith("_"))
      assert(rem.isEmpty, s"$side deltas must fold away, left ${rem.toSeq}")
    }
  }

  test("simhash width conf: default pinned at 32; 60-bit chain exact on planted groups") {
    // r15 magnitude finding: 32-bit/h≤3 percolates past ~1M docs (the
    // birthday term alone pairs ~640k random 1M-doc pairs — PROBES r15);
    // the width conf is the in-operator answer. Gates stay at the 32-bit
    // default; this row pins (a) the default, (b) conf validation, (c) the
    // full chain at 60 bits: planted exact groups still pair at hamming 0
    // and the collapse stays component-equal to the raw listing.
    assert(TextOps.simhashBits(spark) === 32)
    for (bad <- Seq("33", "4", "64")) {
      spark.conf.set(TextOps.SimhashBitsConf, bad)
      try intercept[IllegalArgumentException](TextOps.simhashBits(spark))
      finally spark.conf.unset(TextOps.SimhashBitsConf)
    }
    val all = corpusOf(300).localCheckpoint()
    def comps(edges: DataFrame): Set[(Long, Long)] =
      TextOps.minLabelComponents(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val at32 = comps(TextOps.simhashEdgesOf(all))
    spark.conf.set(TextOps.SimhashBitsConf, "60")
    try {
      val raw60 = comps(TextOps.simhashPairsOf(all).select("id_a", "id_b"))
      val collapsed60 = comps(TextOps.simhashEdgesOf(all))
      assert(collapsed60 === raw60)
      assert(raw60.nonEmpty, "planted exact groups must pair at hamming 0 " +
        "at any width")
      // widening can only DROP accidental pairs, never a hamming-0 group:
      // every 60-bit component edge set is built from a stricter signature,
      // so the exact groups (the planted structure) stay merged
      val exactGroups = at32.groupBy(_._2).filter(_._2.size > 1)
      assert(exactGroups.nonEmpty)
      // (d) gate lambdas refuse a non-default width UP FRONT (ADVICE
      // r15): the q26/q64/q107 oracle CTEs replay the 32-bit default, so
      // a Verify run with the conf set would hash-mismatch for an
      // operating-point reason — the refusal names it instead (and fires
      // before any input dir is touched)
      for (q <- Seq("q26_simhash", "q64_simhash_hamming_pairs",
          "q107_simhash_components")) {
        val qd = TextOps.defs.find(_.name == q).get
        val ex = intercept[IllegalArgumentException](
          qd.run(spark, "/nonexistent"))
        assert(ex.getMessage.contains("oracle"), s"$q: ${ex.getMessage}")
      }
    } finally spark.conf.unset(TextOps.SimhashBitsConf)
  }

  test("simhash radius conf: default pinned at 3; pigeonhole bound " +
      "validated; store meta fingerprints the radius; gates refuse a " +
      "non-default radius up front") {
    // VERDICT r16 optional #6: the radius has the width's character —
    // magnitude can move it — so it gets the width's discipline: a conf,
    // a pigeonhole validity check (candidate recall is exact only while
    // maxHamming < bands), a store-meta fingerprint refused on mismatch,
    // and a fail-fast in the oracle-pinned gates.
    assert(TextOps.simMaxHamming(spark) === 3)
    for (bad <- Seq("4", "-1", "7")) {
      spark.conf.set(TextOps.SimMaxHammingConf, bad)
      try intercept[IllegalArgumentException](TextOps.simMaxHamming(spark))
      finally spark.conf.unset(TextOps.SimMaxHammingConf)
    }
    // a tier store built at the default refuses a session at radius 2
    val all = corpusOf(200).localCheckpoint()
    val (corpus, batch) = splitOf(all)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_simradius").toString + "/store"
    TextSigStore.build(spark, dir, corpus, simhashTier = true)
    spark.conf.set(TextOps.SimMaxHammingConf, "2")
    try {
      val ex = intercept[IllegalArgumentException](
        TextScreen.screenAndAppend(spark, dir, corpus, batch, "u0001"))
      assert(ex.getMessage.contains(TextOps.SimMaxHammingConf), ex.getMessage)
      // and the simhash gates refuse the changed radius before touching
      // any input (their oracle CTEs replay hamming ≤ 3)
      val qd = TextOps.defs.find(_.name == "q64_simhash_hamming_pairs").get
      val ex2 = intercept[IllegalArgumentException](
        qd.run(spark, "/nonexistent"))
      assert(ex2.getMessage.contains("oracle"), ex2.getMessage)
    } finally spark.conf.unset(TextOps.SimMaxHammingConf)
    // a store BUILT at radius 2 carries it in meta and screens with it
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_simradius2").toString + "/store"
    spark.conf.set(TextOps.SimMaxHammingConf, "2")
    try {
      TextSigStore.build(spark, dir2, corpus, simhashTier = true)
      val r = TextScreen.screenAndAppend(spark, dir2, corpus, batch, "u0001")
      assert(r.applied)
    } finally spark.conf.unset(TextOps.SimMaxHammingConf)
    // ...and refuses the default-radius session afterwards
    val ex3 = intercept[IllegalArgumentException](
      TextScreen.screenAndAppend(spark, dir2, corpus, batch, "u0002"))
    assert(ex3.getMessage.contains("hamming"), ex3.getMessage)
  }

  test("screenPairs past the broadcast byte gate: the shuffle-join fallback " +
      "is pair-identical (the cluster regime, forced)") {
    // VERDICT r15 next-round #7: the screen's batch band rows broadcast
    // under the map cap; past it (a cluster-regime batch, or a budget of
    // 0) every join falls back to shuffles — same pairs, only the physical
    // shape moves
    val all = corpusOf(400).localCheckpoint()
    val (corpus, batch) = splitOf(all)
    val p = TextOps.lshParams(spark)
    val sigs = TextOps.minhashSigsOf(corpus, p).localCheckpoint()
    // the screen returns which physical shape the gated band join took
    val byDefault = TextScreen.screenImpl(corpus, sigs, batch)
    assert(byDefault.bandsBroadcast, "the default budget broadcasts the band rows")
    val byShuffle = TextScreen.screenImpl(corpus, sigs, batch, budget = 0L)
    assert(pairSet(byShuffle.pairs) === pairSet(byDefault.pairs))
    assert(!byShuffle.bandsBroadcast, "a budget of 0 shuffles the band join")
    assert(pairSet(TextScreen.screenPairs(corpus, sigs, batch, budget = 0L))
      === pairSet(byDefault.pairs))
  }

  test("simhash-tier store: survivors by the UNION drop rule (jaccard OR " +
      "hamming); sides agree; replay inert") {
    val all = corpusOf(300).localCheckpoint()
    val (corpus, batch) = splitOf(all)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_simtier").toString + "/store"
    TextSigStore.build(spark, dir, corpus, simhashTier = true)
    assert(TextSigStore.hasSimhashTier(spark, dir))
    val r1 = TextScreen.screenAndAppend(spark, dir, corpus, batch, "u0001")
    assert(r1.applied)
    // independent verdict: the batch chain's pairs from BOTH generators,
    // restricted to ≥1 batch side, through the brute-force rule
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    val ps = (pairSet(TextOps.lshPairsOf(all)) ++
        pairSet(TextOps.simhashPairsOf(all)))
      .filter(p => batchIds(p._1) || batchIds(p._2))
    assert(pairSet(TextOps.simhashPairsOf(all))
      .exists(p => batchIds(p._1) || batchIds(p._2)),
      "planted exact copies must pair at hamming 0 or this pin is vacuous")
    val drops = batchIds.filter(x => ps.exists { case (a, b) =>
      (b == x && (!batchIds(a) || a < x)) || (a == x && !batchIds(b))
    })
    val corpusIds = corpus.select("doc_id").as[Long].collect().toSet
    val stored = TextSigStore.sigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(stored === corpusIds ++ (batchIds -- drops))
    // the tier side holds exactly the same ids (seeded corpus + survivors)
    assert(TextSigStore.simsigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet === stored)
    val r2 = TextScreen.screenAndAppend(spark, dir, corpus, batch, "u0001")
    assert(!r2.applied)
    // a store built WITHOUT the tier never runs it (meta has no width)
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_simtier2").toString + "/store"
    TextSigStore.build(spark, dir2, corpus)
    assert(!TextSigStore.hasSimhashTier(spark, dir2))
    intercept[IllegalArgumentException](TextSigStore.simsigs(spark, dir2))
  }

  test("simhash-tier store refuses a mismatched session width; orphan " +
      "simsigs delta invisible until its tip commits") {
    val all = corpusOf(200).localCheckpoint()
    val (corpus, batch) = splitOf(all)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_simtier3").toString + "/store"
    TextSigStore.build(spark, dir, corpus, simhashTier = true) // at 32
    spark.conf.set(TextOps.SimhashBitsConf, "60")
    try {
      val ex = intercept[IllegalArgumentException](
        TextScreen.screenAndAppend(spark, dir, corpus, batch, "u0001"))
      assert(ex.getMessage.contains(TextOps.SimhashBitsConf), ex.getMessage)
    } finally spark.conf.unset(TextOps.SimhashBitsConf)
    // crash window: the simsigs delta lands, the tip never advances —
    // readers must not see it (an uncommitted update), and the replay
    // overwrites it and commits all three sides together
    val before = TextSigStore.simsigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    TextSigStore.writeSimsigs(spark, dir,
      TextOps.simhashSigsOf(batch, 32), "u0001")
    assert(TextSigStore.simsigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet === before)
    val r = TextScreen.screenAndAppend(spark, dir, corpus, batch, "u0001")
    assert(r.applied)
    val sigIds = TextSigStore.sigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(TextSigStore.simsigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet === sigIds)
    // and the fold carries the third side with the other two
    TextSigStore.compact(spark, dir)
    assert(TextSigStore.simsigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet === sigIds)
    val rem = new java.io.File(s"$dir/simsigs").listFiles().map(_.getName)
    assert(rem.toSet === Set("_base"), rem.toSeq.toString)
  }

  test("streaming ingest against a self-contained simhash-tier store ≡ the " +
      "batch loop; fresh-checkpoint replay refused") {
    // the tier is STORE-driven, so the streaming twin inherits it with no
    // code of its own — this row pins the combination: two real
    // micro-batches over one checkpoint against a (storeTexts, simhashTier)
    // store equal the batch-mode chain with the same update ids, on all
    // THREE maintained sides
    val all = corpusOf(300).localCheckpoint()
    val (corpus, batchAll) = splitOf(all)
    val b1 = batchAll.where(col("doc_id") % 10 === 0).select("doc_id", "text")
    val b2 = batchAll.where(col("doc_id") % 10 === 5).select("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_simtier_stream").toString
    val dirS = s"$root/stream"; val dirB = s"$root/batch"
    val staged = s"$root/src"; val ckpt = s"$root/ckpt"
    TextSigStore.build(spark, dirS, corpus, storeTexts = true, simhashTier = true)
    TextSigStore.build(spark, dirB, corpus, storeTexts = true, simhashTier = true)
    def drain(cp: String): Unit = {
      val src = spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
      graft.streaming.ScreenedTextIngest.maintain(spark, dirS, src, cp)
        .awaitTermination()
    }
    b1.repartition(1).write.mode("append").parquet(staged); drain(ckpt)
    b2.repartition(1).write.mode("append").parquet(staged); drain(ckpt)
    TextScreen.screenAndAppend(spark, dirB,
      TextSigStore.textStore(spark, dirB), b1, f"stream_${0L}%019d",
      storeTexts = true)
    TextScreen.screenAndAppend(spark, dirB,
      TextSigStore.textStore(spark, dirB), b2, f"stream_${1L}%019d",
      storeTexts = true)
    def ids(f: => DataFrame): Set[Long] =
      f.select("doc_id").as[Long].collect().toSet
    val sIds = ids(TextSigStore.sigs(spark, dirS))
    assert(sIds === ids(TextSigStore.sigs(spark, dirB)))
    assert(ids(TextSigStore.simsigs(spark, dirS)) === sIds)
    assert(ids(TextSigStore.textStore(spark, dirS)) === sIds)
    assert(ids(TextSigStore.simsigs(spark, dirB)) === sIds)
    // the tier must have had an effect somewhere in the chain, or the
    // combination pin is vacuous: against a TIER-LESS twin of the same
    // stream, the union rule may only REMOVE survivors
    val dirP = s"$root/plain"
    TextSigStore.build(spark, dirP, corpus, storeTexts = true)
    TextScreen.screenAndAppend(spark, dirP,
      TextSigStore.textStore(spark, dirP), b1, f"stream_${0L}%019d",
      storeTexts = true)
    TextScreen.screenAndAppend(spark, dirP,
      TextSigStore.textStore(spark, dirP), b2, f"stream_${1L}%019d",
      storeTexts = true)
    assert(sIds.subsetOf(ids(TextSigStore.sigs(spark, dirP))))
    // fresh checkpoint re-reads both files; the watermark refuses both
    drain(ckpt + "_replay")
    assert(ids(TextSigStore.sigs(spark, dirS)) === sIds)
    assert(UpdateLog.isApplied(spark, dirS, f"stream_${1L}%019d") &&
      !UpdateLog.isApplied(spark, dirS, f"stream_${2L}%019d"))
  }

  test("an abandoned crashed update's orphan deltas are purged before a " +
      "LATER id advances the tip past them (no retroactive visibility)") {
    // r16 review: tip visibility protects an orphan only while the tip
    // stays below it — if the caller abandons a crashed u0001 and applies
    // u0002, the tip passes u0001 and its partial side dirs would read as
    // committed. On the simsigs side that is index-ACTIVE (a phantom row
    // drops future content against text the store doesn't hold), so the
    // screen purges abandoned above-tip dirs before any work.
    val all = corpusOf(200).localCheckpoint()
    val (corpus, batch) = splitOf(all)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_purge").toString + "/store"
    TextSigStore.build(spark, dir, corpus, simhashTier = true)
    // u0001 "crashes" after its simsigs delta landed, sigs/tip never ran
    TextSigStore.writeSimsigs(spark, dir,
      TextOps.simhashSigsOf(batch, 32), "u0001")
    assert(new java.io.File(s"$dir/simsigs/u0001").exists())
    // the caller abandons u0001 and applies u0002 with different content
    val batch2 = Seq((900001L, "wholly novel purge-row probe text alpha" +
      " beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu" +
      " xi omicron pi rho sigma tau upsilon phi chi psi omega"))
      .toDF("doc_id", "text")
    val r = TextScreen.screenAndAppend(spark, dir, corpus, batch2, "u0002")
    assert(r.applied)
    // the orphan was purged, NOT promoted by the passing tip
    assert(!new java.io.File(s"$dir/simsigs/u0001").exists())
    val sigIds = TextSigStore.sigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(TextSigStore.simsigs(spark, dir)
      .select("doc_id").as[Long].collect().toSet === sigIds)
    assert(!sigIds.exists(batch.select("doc_id").as[Long].collect().toSet))
  }

  test("legacy _tier_next crash windows: a COMPLETE unpromoted tier is " +
      "preferred and adopted into the ladder; a PARTIAL one is invisible " +
      "and discarded") {
    // the _base_next rules (IngestSpec) applied to the single-tier level
    // the r16 minor fold introduced — now LEGACY artifacts (r17's ladder
    // replaced the single `_tier`): a pre-r17 fold that crashed after
    // writing its `_SUCCESS`-complete `_tier_next` (but before source
    // deletion / promotion) must stay readable — it is a superset of what
    // it folded — and be ADOPTED as a ladder run by the next fold's heal;
    // one that died mid-write must be invisible and discarded, never
    // promoted over rows the level still holds
    val all = corpusOf(200).localCheckpoint()
    val (corpus, batch) = splitOf(all)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tiernext").toString + "/store"
    TextSigStore.build(spark, dir, corpus)
    TextScreen.screenAndAppend(spark, dir, corpus, batch, "u0001")
    def content(): Set[(Long, String)] = TextSigStore.sigs(spark, dir)
      .select(col("doc_id"), concat_ws(",", col("sig")).as("s"))
      .as[(Long, String)].collect().toSet
    val c0 = content()
    // COMPLETE _tier_next (the minor fold's output; crash before
    // delete-sources/promote): readers prefer it, rows only duplicate
    spark.read.parquet(s"$dir/sigs/u0001")
      .write.parquet(s"$dir/sigs/_tier_next")
    assert(new java.io.File(s"$dir/sigs/_tier_next/_SUCCESS").exists())
    assert(content() === c0)
    TextSigStore.compact(spark, dir) // heals (promotes), then folds all
    assert(content() === c0)
    assert(new java.io.File(s"$dir/sigs").listFiles().map(_.getName).toSet
      === Set("_base"))
    // PARTIAL _tier_next carrying rows that would CHANGE content if a
    // reader (or a promotion) ever saw them: must stay invisible and be
    // discarded by the next fold's heal
    Seq((999999L, Seq(1L, 2L, 3L))).toDF("doc_id", "sig")
      .write.parquet(s"$dir/sigs/_tier_next")
    new java.io.File(s"$dir/sigs/_tier_next/_SUCCESS").delete()
    assert(content() === c0, "a partial _tier_next must be invisible")
    TextSigStore.compact(spark, dir)
    assert(content() === c0, "heal must discard, never promote, a partial tier")
    assert(!content().exists(_._1 == 999999L))
  }
}
