package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.UpdateLog
import graft.functions.TextFunctions

/** INCREMENTAL / SCREENED TEXT DEDUP (VERDICT r14 "what's missing #1") —
  * the text twin of the embedding side's q97/q98 loop and of the
  * reference's actual production shape: its only dedup mode is checking
  * NEW content against what is already indexed
  * (ref `updater/extraction_checker.py:225-258`), never re-sweeping the
  * corpus. At 100 TB nobody re-bands the corpus nightly; the MinHash
  * signature/band table is an INDEX ARTIFACT maintained across batches
  * ([[TextSigStore]] — the codes-table discipline applied to text), and a
  * new batch is banded against it:
  *
  *   - candidates = (batch × corpus) ∪ (batch × batch) band collisions
  *     ONLY — corpus × corpus is never revisited;
  *   - the corpus contributes one SKINNY signature-table scan (the batch's
  *     band rows broadcast, so the scan is map-side, nothing corpus-sized
  *     shuffles) plus one candidate-pruned map-side pass of its TEXT for
  *     exact-jaccard verification (the same shape as the embedding
  *     screen's map-side-filtered vector pass);
  *   - batch rows drop by the same conservative-prefix rule as the
  *     embedding screen ([[VectorQueries.screenDrops]] — the rule is
  *     content-generic), survivors' signatures append to the store under
  *     a lexicographic watermark, and a replayed update id is inert.
  *
  * Work per batch is O(|batch| · collisions), never O(corpus²); the only
  * corpus-sized touches are the two map-side passes above.
  */
object TextSigStore {

  /** Store layout under `dir`:
    *   - `sigs/<updateId>/` — one delta directory per applied update
    *     (`(doc_id, sig)` rows, written with overwrite so a replayed
    *     partial attempt rewrites identical bytes);
    *   - `sigs/_base` (+ `_base_next` mid-promotion) and the
    *     `sigs/_runs/rNNNNN` size-tiered ladder — the compaction levels
    *     ([[SideStoreFold]]'s minor/merge/major schedule; legacy
    *     `_tier`/`_tier_next` artifacts stay readable and are adopted
    *     into the ladder; [[compact]] is the explicit
    *     fold-everything-to-`_base` lever);
    *   - `tip` — the update-log watermark ([[graft.core.UpdateLog]], the
    *     one tip every ingest store commits through): a `<side>/<updateId>`
    *     directory counts once the tip covers its id;
    *   - `meta` — the banding fingerprint (`numHashes`, `bands`) the
    *     store was built at: signatures are only comparable within one
    *     operating point, so a session screening at different LSH confs
    *     must fail fast, not silently under-recall. */
  private def sigsDir(dir: String) = s"$dir/sigs"
  private def basePath(dir: String) = s"${sigsDir(dir)}/_base"
  private def textsDir(dir: String) = s"$dir/texts"
  private def simsigsDir(dir: String) = s"$dir/simsigs"
  private[graft] def textsUpdateDir(dir: String, updateId: String) =
    s"${textsDir(dir)}/$updateId"
  private def metaPath(dir: String) = new org.apache.hadoop.fs.Path(s"$dir/meta")

  private def sideRoots(dir: String) = Seq(sigsDir(dir), textsDir(dir), simsigsDir(dir))

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Seed the store: signatures of the indexed corpus at the session's
    * LSH operating point become `_base`; any prior store content at `dir`
    * (deltas, tip, meta) is replaced. The corpus passed here should be
    * the DEDUPED corpus a production loop maintains (q72's survivors) —
    * the screen stays correct either way, but an un-deduped corpus makes
    * every batch doc near a boilerplate clique collide with the whole
    * clique.
    *
    * Operating point: a NEW store is the one cheap moment to pick the
    * banding — the measured curve (PROBES.md r15 `lshcurve`) shows the
    * 16×4 default catches ~67 % of pairs at its own j ≥ 0.5 threshold
    * while 16×8 (`spark.graft.text.lsh.bands = 8`) catches 98.3 % at
    * identical banding wall and identical signature cost. 16×8 is the
    * RECOMMENDED setting for a new store (promoted r17 after the
    * combined-point magnitude run: 16×8 + the 60-bit simhash tier caught
    * 99.97 % of the planted j ≈ 0.8 class over 8 × 50k batches at 1.15×
    * the 16×4 per-batch wall, organics untouched — PROBES.md r17); the
    * gates stay at the pinned 16×4 default their oracles replay. The
    * store fingerprints whatever point it was built at (`meta`) and
    * [[requireParams]] refuses a mismatched session, so the choice is
    * made once, here. */
  def build(spark: SparkSession, dir: String, corpus: DataFrame,
      storeTexts: Boolean = false, simhashTier: Boolean = false): Unit = {
    val p = TextOps.lshParams(spark)
    val fs = fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    TextOps.minhashSigsOf(corpus, p)
      .write.mode(SaveMode.Overwrite).parquet(basePath(dir))
    // `storeTexts`: the store also owns the CONTENT side (the text twin
    // of [[IngestOps.vectorStore]] — the reference keeps this in HBase):
    // verification of future batches needs candidate TEXT, so a
    // self-contained store (the streaming twin's mode) seeds the corpus
    // text as `texts/_base` and survivors append under their update id.
    if (storeTexts) corpus.select(col("doc_id"), col("text"))
      .write.mode(SaveMode.Overwrite).parquet(s"${textsDir(dir)}/_base")
    // `simhashTier` (r16): a THIRD maintained side, `simsigs/` — one
    // simhash long per stored doc at the session's width conf
    // ([[TextOps.SimhashBitsConf]]; set 60 at corpus magnitude — the
    // 32-bit default percolates past ~1M docs, PROBES.md r15). The
    // screen settles near-exact candidates (templates, tiny edits) by a
    // pigeonhole band join + one-long hamming verify BEFORE any shingle
    // verification touches text ([[TextScreen.screenAndAppend]]).
    val simBits = TextOps.simhashBits(spark)
    if (simhashTier)
      TextOps.simhashSigsOf(corpus, simBits)
        .write.mode(SaveMode.Overwrite).parquet(s"${simsigsDir(dir)}/_base")
    // a simhash-tier store fingerprints its verification RADIUS alongside
    // its width (r17): both are part of the operating point the stored
    // signatures are only comparable within
    val meta = s"${p.numHashes}\n${p.bands}\n" +
      (if (simhashTier) s"$simBits\n${TextOps.simMaxHamming(spark)}\n" else "")
    val out = fs.create(metaPath(dir), true)
    try out.write(meta.getBytes("UTF-8"))
    finally out.close()
  }

  /** Write one update's SURVIVOR texts under its id — idempotent
    * overwrite, always BEFORE [[appendSigs]] commits the tip (the
    * vectors-then-codes order of the embedding side): a crash between
    * them leaves orphaned text rows invisible to [[textStore]] (uid >
    * tip), and the replay's overwrite rewrites identical bytes. */
  def writeTexts(spark: SparkSession, dir: String, texts: DataFrame,
      updateId: String): Unit =
    texts.select(col("doc_id"), col("text"))
      .write.mode(SaveMode.Overwrite).parquet(textsUpdateDir(dir, updateId))

  /** Every stored `(doc_id, text)` row the screen may verify against:
    * the seeded base plus COMMITTED per-update survivor texts — the
    * content store a self-contained ([[build]] `storeTexts = true`)
    * store maintains. Same multi-root no-shuffle scan and same
    * visibility rule as [[sigs]]. */
  def textStore(spark: SparkSession, dir: String): DataFrame =
    readSide(spark, dir, textsDir(dir),
      s"no text content store at $dir — build(storeTexts = true) first")

  /** Fail fast when the session's LSH confs disagree with the operating
    * point the store was built at — band keys from different constants
    * never collide correctly, which would silently screen nothing. */
  private[graft] def requireParams(spark: SparkSession, dir: String,
      p: TextOps.LshParams): Unit = {
    val lines = metaLines(spark, dir)
    require(lines(0).toInt == p.numHashes && lines(1).toInt == p.bands,
      s"text sig store at $dir was built at numHashes=${lines(0)} " +
        s"bands=${lines(1)}, session confs say ${p.numHashes}/${p.bands} — " +
        s"set ${TextOps.NumHashesConf}/${TextOps.BandsConf} to match or " +
        "rebuild the store")
    // a simhash-tier store fingerprints its width too: band keys from a
    // different width never collide correctly (same failure mode as a
    // banding mismatch — a silent under-screen, so fail fast instead)
    simhashTierBits(lines).foreach { stored =>
      require(stored == TextOps.simhashBits(spark),
        s"text sig store at $dir carries a simhash tier at $stored bits, " +
          s"session says ${TextOps.simhashBits(spark)} — set " +
          s"${TextOps.SimhashBitsConf}=$stored or rebuild the store")
      // the radius rides the same fingerprint (r17): screening at a wider
      // radius than the store was built for would silently change which
      // near-exact pairs the tier settles (legacy 3-line meta = the
      // pinned default 3)
      val storedH = simhashTierMaxHamming(lines)
      require(storedH == TextOps.simMaxHamming(spark),
        s"text sig store at $dir carries a simhash tier verified at " +
          s"hamming ≤ $storedH, session says " +
          s"${TextOps.simMaxHamming(spark)} — set " +
          s"${TextOps.SimMaxHammingConf}=$storedH or rebuild the store")
    }
  }

  private def metaLines(spark: SparkSession, dir: String): Array[String] = {
    val in = fsOf(spark, dir).open(metaPath(dir))
    try new String(in.readAllBytes(), "UTF-8").split("\n")
    finally in.close()
  }

  private def simhashTierBits(lines: Array[String]): Option[Int] =
    lines.drop(2).headOption.map(_.trim).filter(_.nonEmpty).map(_.toInt)

  private def simhashTierMaxHamming(lines: Array[String]): Int =
    lines.drop(3).headOption.map(_.trim).filter(_.nonEmpty).map(_.toInt)
      .getOrElse(TextOps.DefaultSimMaxHamming)

  /** Whether the store was [[build]]t with the simhash tier (`meta`'s
    * third line records the width). */
  def hasSimhashTier(spark: SparkSession, dir: String): Boolean =
    simhashTierBits(metaLines(spark, dir)).isDefined

  /** Every stored simhash row `(doc_id, sh)` — the tier's skinny index,
    * same multi-root tip-gated scan as [[sigs]]. */
  def simsigs(spark: SparkSession, dir: String): DataFrame =
    readSide(spark, dir, simsigsDir(dir),
      s"no simhash tier at $dir — build(simhashTier = true) first")

  /** Write one update's SURVIVOR simhashes under its id — idempotent
    * overwrite, always BEFORE [[appendSigs]] advances the tip (the
    * texts-then-sigs order extended to a third side): a crash after this
    * write leaves an orphan delta invisible to [[simsigs]] (uid > tip)
    * that the replay overwrites with identical bytes. */
  private[graft] def writeSimsigs(spark: SparkSession, dir: String,
      simRows: DataFrame, updateId: String): Unit =
    simRows.select(col("doc_id"), col("sh"))
      .write.mode(SaveMode.Overwrite).parquet(s"${simsigsDir(dir)}/$updateId")

  /** Every stored signature row `(doc_id, sig)`: the compacted base
    * (preferring a committed `_base_next`) plus COMMITTED deltas — a
    * plain multi-root scan, no shuffle (the serve path). Only deltas at
    * or below the tip count: an orphaned delta from a crash between the
    * delta write and the tip advance is an UNAPPLIED update, and reading
    * it would poison the replay's own screen (the batch's ids would look
    * indexed, every batch doc would flag against itself, and the whole
    * batch would silently drop). A crash window mid-[[compact]] can only
    * leave bit-identical duplicate rows, which the next compaction's
    * dedup removes and the screen's band join tolerates. */
  def sigs(spark: SparkSession, dir: String): DataFrame =
    readSide(spark, dir, sigsDir(dir), s"no text sig store at $dir — run build first")

  /** One side's compacted roots plus its COMMITTED update dirs. */
  private def readSide(spark: SparkSession, dir: String, root: String,
      missing: => String): DataFrame = {
    val roots = UpdateLog.committed(spark, dir, root).map(_.toString) ++
      SideStoreFold.storedRoots(fsOf(spark, root), root)
    require(roots.nonEmpty, missing)
    spark.read.parquet(roots: _*)
  }

  /** Append one update's signature rows under its id. Commit order:
    * delta → tip. A crash between them leaves the update UNAPPLIED with
    * its delta readable — bit-identical rows the replay's overwrite
    * rewrites before advancing the tip (signatures are deterministic in
    * the text), so every crash window self-heals. Returns false (no
    * write) for an id at or below the watermark. */
  def appendSigs(spark: SparkSession, dir: String, sigRows: DataFrame,
      updateId: String): Boolean = {
    if (UpdateLog.isApplied(spark, dir, updateId)) return false
    sigRows.write.mode(SaveMode.Overwrite)
      .parquet(s"${sigsDir(dir)}/$updateId")
    UpdateLog.advance(spark, dir, Some(updateId))
    true
  }

  /** Purge UNCOMMITTED orphan deltas — ids above the tip but strictly
    * BELOW the update now being applied — on every side. Run by
    * [[TextScreen.screenAndAppend]] before any screen work (r16 review):
    * the tip visibility rule alone stops protecting a crashed,
    * never-replayed update once a LATER id advances the tip PAST it —
    * its partial side dirs would become retroactively "committed" even
    * though some sides never landed. The simsigs side made this hole
    * index-ACTIVE (a phantom simsig row drops future batch content
    * against text the store does not hold — silent data loss; phantom
    * texts/sigs are merely inert or under-screening). Only ids BELOW the
    * incoming one are dead by the monotone-id contract (a lower id can
    * never commit once this one advances the tip past it); an id ABOVE
    * the incoming one is left alone (ADVICE r16): under the single-writer
    * assumption it is equally dead and a later apply purges it, but never
    * touching a later id means an overlapping writer mid-apply — an
    * operator retry racing a stream — cannot have its in-flight side dirs
    * deleted out from under it. The retroactive-visibility hole stays
    * closed either way: the tip only ever advances to the id whose purge
    * already ran. */
  private[graft] def purgeOrphans(spark: SparkSession, dir: String,
      exceptId: String): Unit = {
    val tip = UpdateLog.tip(spark, dir)
    val fs = fsOf(spark, dir)
    for (root <- sideRoots(dir); p <- UpdateLog.updateDirs(spark, root)
         if UpdateLog.order.lt(p.getName, exceptId) &&
           !UpdateLog.covers(tip, p.getName)) {
      fs.delete(p, true); ()
    }
  }

  /** FULL fold — every COMMITTED delta, the delta-tier, and the current
    * base collapse into one `_base` on BOTH sides the store maintains
    * (signatures always; survivor texts when the store is
    * self-contained) — [[SideStoreFold.fullFold]]'s crash-safe
    * `_SUCCESS`-gated schedule per side. The explicit offline "compact
    * everything" lever; the in-loop cadence ([[maybeCompact]]) runs the
    * TIERED schedule instead, so fold batches stay O(recent). An
    * UNCOMMITTED orphan delta (crash before its tip advance) is left
    * alone on either path: folding it would poison the base with rows
    * whose update never applied — its own replay overwrites it, or it
    * lingers harmlessly invisible to [[sigs]]/[[textStore]]. */
  def compact(spark: SparkSession, dir: String): Unit =
    committedSides(spark, dir).foreach { case (root, deltas) =>
      SideStoreFold.fullFold(spark, fsOf(spark, root), root, deltas, "doc_id")
    }

  /** Each side the store maintains, with its committed update dirs. */
  private def committedSides(spark: SparkSession, dir: String)
      : Seq[(String, Seq[org.apache.hadoop.fs.Path])] =
    sideRoots(dir).filter(r => fsOf(spark, r).exists(new org.apache.hadoop.fs.Path(r)))
      .map(r => r -> UpdateLog.committed(spark, dir, r))

  /** The in-loop LSM valve ([[SideStoreFold.foldIfDue]], shared with the
    * vector side-store), run after each applied update: the committed
    * signature-delta count is the pending count, and every side folds
    * its COMMITTED deltas only (see [[compact]]). */
  def maybeCompact(spark: SparkSession, dir: String): Unit =
    SideStoreFold.foldIfDue(spark,
      UpdateLog.committed(spark, dir, sigsDir(dir)).size,
      committedSides(spark, dir), "doc_id")
}

object TextScreen {
  import Tables.{apply => t}

  /** What one screened text-ingest cycle did (the [[IngestOps
    * .IngestReport]] shape): `applied=false` means the update id was at
    * or below the watermark — an at-least-once replay, nothing
    * recomputed. */
  final case class TextIngestReport(applied: Boolean, batchRows: Long,
      flaggedPairs: Long, appended: Long)

  /** Verified near-dup pairs `(id_a < id_b, jaccard)` between a NEW batch
    * and the indexed corpus, and within the batch itself — never
    * corpus × corpus (those pairs were settled when the corpus was
    * deduped and indexed).
    *
    * `corpus` carries `(doc_id, text)` for every id `corpusSigs` holds
    * (the content store the reference keeps in HBase — the text analogue
    * of the embedding screen's `corpusVectors` parameter); batch ids must
    * be disjoint from corpus ids and the batch must be BOUNDED (its band
    * rows broadcast — the same contract as the embedding screen's
    * touched-cell slice).
    *
    * Scale shape, in order: the batch's byte-identical docs contract
    * onto min-id representatives FIRST ([[TextOps.exactRepsOf]] — r15
    * "what's wrong #2": a boilerplate-heavy batch is CLIQUE-shaped, and
    * banding it raw pays bands·K²/2 self-join collisions plus K corpus
    * collisions per clique member for verdicts known in advance), so
    * within-batch exact cliques surface as K−1 star edges (representative
    * = `id_a` < member, jaccard exactly 1) and cross-content pairs list
    * the REPRESENTATIVE side only — drop-rule-equivalent to the raw
    * listing, because an identical member near-dups exactly what its
    * representative near-dups and always drops against it. Then batch
    * signatures/bands are one bounded scan over representatives; the
    * (batch × corpus) candidate join BROADCASTS the batch's band rows
    * so the corpus' skinny signature table streams through map-side
    * (nothing corpus-sized shuffles — past the byte gate it falls back to
    * the shuffle join, the cluster regime); verification recomputes
    * shingles on the candidate-pruned slices only (one map-side pass of
    * the corpus text, the lshPairsOf r14 discipline). */
  def screenPairs(corpus: DataFrame, corpusSigs: DataFrame,
      batch: DataFrame): DataFrame =
    screenImpl(corpus, corpusSigs, batch)._1

  /** The simhash TIER's verified pairs (r16): batch simhashes banded
    * against the store's `simsigs/` side and against themselves, the
    * one-long hamming verify running INSIDE the bucket join (the
    * signature rides the band rows — [[TextOps.simhashBandRowsOf]]).
    * Near-exact batch docs (templates, tiny edits) are settled here for
    * the cost of a skinny long scan — no shingle recompute, no text
    * touched — and the pairs this tier verifies are anti-joined out of
    * the MinHash candidate set before its (text-touching) jaccard
    * verification. Same broadcast byte gate and same shape as the
    * MinHash band join. */
  /** Post-run regime notes: which physical shape the byte-gated band joins took —
    * `broadcast` (batch bands map-side against the streaming corpus
    * table) or `shuffle` (the cluster regime past the cap). Written per
    * screen so probes and specs read the decision the run actually
    * made instead of re-deriving the arithmetic. */
  val LastBandJoinNote = "spark.graft.screen.last.bandJoin"
  val LastSimBandJoinNote = "spark.graft.screen.last.simBandJoin"

  private def gated(spark: org.apache.spark.sql.SparkSession,
      bands: DataFrame, note: String): DataFrame = {
    val fits = bands.count() <= TextOps.ccBroadcastRowCap(spark)
    spark.conf.set(note, if (fits) "broadcast" else "shuffle")
    if (fits) broadcast(bands) else bands
  }

  private def simTierPairs(corpusSims: DataFrame, batchSims: DataFrame,
      bits: Int): DataFrame = {
    val spark = batchSims.sparkSession
    val maxH = TextOps.simMaxHamming(spark) // store-validated by requireParams
    // lazy pin is safe DESPITE the newNew self-join below (ADVICE r18 #1):
    // the first materializing action is `gated`'s count() — a single full
    // scan (the checkpoint blocks column pruning below itself), run
    // eagerly at plan-build time — so the checkpoint is already
    // materialized before either join side reads it; the self-join never
    // races a double-compute. Same reasoning at screenImpl's batch pins.
    val batchBands = TextOps.simhashBandRowsOf(batchSims, bits)
      .localCheckpoint(false)
    val corpusBands = TextOps.simhashBandRowsOf(corpusSims, bits)
    val bSide = gated(spark, batchBands, LastSimBandJoinNote)
    val hamNO = graft.functions.TextFunctions
      .hammingDistance(col("c.sh"), col("b.sh"))
    val newOld = corpusBands.as("c")
      .join(bSide.as("b"),
        col("c.band") === col("b.band") && col("c.bsig") === col("b.bsig"))
      .where(hamNO <= maxH)
      .select(least(col("c.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("c.doc_id"), col("b.doc_id")).as("id_b"))
    val hamNN = graft.functions.TextFunctions
      .hammingDistance(col("a.sh"), col("b.sh"))
    val newNew = batchBands.as("a")
      .join(batchBands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig")
          && col("a.doc_id") < col("b.doc_id"))
      .where(hamNN <= maxH)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    newOld.unionAll(newNew).distinct()
  }

  private def screenImpl(corpus: DataFrame, corpusSigs: DataFrame,
      batch: DataFrame, tier: Option[(DataFrame, Int)] = None)
      : (DataFrame, DataFrame, Option[(DataFrame, DataFrame)]) = {
    val spark = batch.sparkSession
    val p = TextOps.lshParams(spark)
    val (reps, stars) = TextOps.exactRepsOf(batch)
    // both lazy pins are safe despite batchBands' newNew SELF-join below
    // (ADVICE r18 #1): their first materializing action is `gated`'s
    // count() on batchBands — ONE full scan (computing batchSigs inside
    // it), run eagerly at plan-build time below — so both checkpoints are
    // materialized before any join scans them twice; the dual-scan race
    // the eager rule guards against cannot start un-materialized here.
    val batchSigs = TextOps.minhashSigsOf(reps, p).localCheckpoint(false)
    val batchBands = TextOps.bandRowsOf(batchSigs, p).localCheckpoint(false)
    val corpusBands = TextOps.bandRowsOf(corpusSigs, p)
    // simhash tier first: its pairs are verified WITHOUT touching text,
    // and they prune the jaccard verification below
    val sims = tier.map { case (corpusSims, bits) =>
      val batchSims = TextOps.simhashSigsOf(reps, bits).localCheckpoint(false)
      (simTierPairs(corpusSims, batchSims, bits).localCheckpoint(false), batchSims)
    }
    // bounded-batch contract: band rows are |batch|·bands skinny rows
    // with a driver-known count, so the broadcast decision is exact
    // (same byte gate as the CC node map — ~(long, long-ish-string) rows)
    val bSide = gated(spark, batchBands, LastBandJoinNote)
    val newOld = corpusBands.as("c")
      .join(bSide.as("b"),
        col("c.band") === col("b.band") && col("c.bsig") === col("b.bsig"))
      .select(least(col("c.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("c.doc_id"), col("b.doc_id")).as("id_b"))
    val newNew = batchBands.as("a")
      .join(batchBands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val cand0 = newOld.unionAll(newNew).distinct()
    // a pair the tier already condemned needs no jaccard re-verification:
    // for the conservative-prefix drop rule only pair EXISTENCE matters,
    // and the tier's hamming verdict is final — anti-joining it out here
    // is what makes near-exact batches cheap (the tier pair set is
    // O(batch·collisions), broadcast under the same byte gate)
    val cand = (sims match {
      case Some((tierPairs, _)) =>
        val tSide =
          if (tierPairs.count() <= TextOps.ccBroadcastRowCap(spark))
            broadcast(tierPairs) else tierPairs
        cand0.join(tSide, Seq("id_a", "id_b"), "left_anti")
      case None => cand0
    }).localCheckpoint() // EAGER: candIds' union legs scan it twice first
    val candIds = cand.select(col("id_a").as("doc_id"))
      .unionAll(cand.select(col("id_b").as("doc_id")))
      .distinct().localCheckpoint(false)
    // shingles of candidate docs only: corpus slice map-side-pruned
    // (ids disjoint, so the union has one row per candidate id)
    val sh = TextOps.shingleSliceOf(corpus, candIds)
      .unionAll(TextOps.shingleSliceOf(batch, candIds))
      .localCheckpoint() // EAGER: both verification sides scan it first
    val j = TextFunctions.jaccard(col("sa"), col("sb"))
    val verified = cand
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sb")), "id_b")
      .where(j >= p.threshold)
      .select(col("id_a"), col("id_b"), j.as("jaccard"))
    // star edges need no shingle verification — identical text IS
    // jaccard 1 (≥ any threshold ≤ 1), the collapse's known-in-advance
    // verdict; id order is already representative < member
    val pairs = verified.unionAll(
      stars.select(col("id_a"), col("id_b"), lit(1.0).as("jaccard")))
    (pairs, batchSigs, sims)
  }

  /** Fault-injection seam for the crash-window spec (the
    * [[graft.streaming.ScreenedIngest.CrashAfterWriteVectorsConf]]
    * discipline): when set, a `storeTexts` cycle dies exactly between
    * the survivor-text write and the signature append — the one crash
    * window whose healing the Scaladoc argues. Production never sets it. */
  private[graft] val CrashAfterWriteTextsConf =
    "spark.graft.test.crashAfterWriteTexts"

  /** One screened text-ingest cycle against a [[TextSigStore]] at `dir`:
    * replay check (O(1) tip read), screen ([[screenPairs]] against the
    * persisted signatures), conservative-prefix drop
    * ([[VectorQueries.screenDrops]] — a batch doc whose text near-dups
    * any indexed doc or any smaller-id batch doc is dropped, whether or
    * not that smaller doc itself survives), then the SURVIVORS' signature
    * rows append under the update id. Commit order delta → tip: every
    * crash window self-heals on replay ([[TextSigStore.appendSigs]]).
    *
    * `corpus` must carry `(doc_id, text)` for every indexed id — base
    * corpus plus all prior batches' survivors (a replayed id is refused
    * before any of it is read). With `storeTexts = false` the caller
    * owns that content store; with `storeTexts = true` the STORE owns it
    * ([[TextSigStore.textStore]] — pass it as `corpus`): survivor texts
    * write under the update id BEFORE the signature append commits the
    * tip (texts-then-sigs, the embedding side's vectors-then-codes
    * order), so a crash between them leaves orphaned text rows invisible
    * to readers and the replay rewrites identical bytes — never a
    * committed signature whose verification text is missing, which
    * would silently under-screen every later batch it collides with.
    * The appended signatures are sliced by the texts read BACK from the
    * committed update dir, so the two sides can never disagree on a
    * survivor. */
  def screenAndAppend(spark: SparkSession, dir: String, corpus: DataFrame,
      batch: DataFrame, updateId: String,
      storeTexts: Boolean = false): TextIngestReport = {
    if (UpdateLog.isApplied(spark, dir, updateId))
      return TextIngestReport(applied = false, 0L, 0L, 0L)
    val p = TextOps.lshParams(spark)
    TextSigStore.requireParams(spark, dir, p)
    // a crashed, never-replayed EARLIER id must not become retroactively
    // visible when this update advances the tip past it: purge abandoned
    // above-tip side dirs before any screen work (this id's own dirs are
    // kept — the replay overwrite handles them)
    TextSigStore.purgeOrphans(spark, dir, updateId)
    // the tier is STORE-driven: a store built with `simhashTier = true`
    // carries a `simsigs/` side and every screen against it runs the
    // near-exact tier first (width validated by requireParams above)
    val tier =
      if (TextSigStore.hasSimhashTier(spark, dir))
        Some((TextSigStore.simsigs(spark, dir), TextOps.simhashBits(spark)))
      else None
    val (minhashPairs, batchSigs, sims) =
      screenImpl(corpus, TextSigStore.sigs(spark, dir), batch, tier)
    // the drop rule needs pair EXISTENCE only: tier-verified pairs join
    // the jaccard-verified ones (they were anti-joined out of the
    // verification, never out of the verdict)
    val pairs = sims match {
      case Some((tierPairs, _)) => minhashPairs.select("id_a", "id_b")
        .unionAll(tierPairs).distinct()
      case None => minhashPairs.select("id_a", "id_b")
    }
    // batch-bounded, like the screen's band-row broadcasts
    val batchIds = batch.select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    val drops = VectorQueries.screenDrops(pairs, batchIds.toSet)
    val survIds =
      if (storeTexts) {
        TextSigStore.writeTexts(spark, dir, drops.survivors(batch, "doc_id"), updateId)
        if (spark.conf.get(CrashAfterWriteTextsConf, "false").toBoolean)
          throw new IllegalStateException(
            "injected crash: after writeTexts, before appendSigs")
        spark.read.parquet(TextSigStore.textsUpdateDir(dir, updateId))
          .select("doc_id")
      } else {
        import spark.implicits._
        batchIds.filterNot(drops.dropped).toSeq.toDF("doc_id")
      }
    // survivors' sigs: slice the already-computed batch signatures (a
    // broadcast-sized semi-join), never a recompute. The tier's side
    // appends the same way (survivors ⊆ representatives — every exact
    // member drops via its star edge, so the rep-level sims cover them),
    // BEFORE appendSigs advances the tip: a crash here leaves an orphan
    // simsigs delta invisible to readers, healed by the replay.
    sims.foreach { case (_, batchSims) =>
      TextSigStore.writeSimsigs(spark, dir,
        batchSims.join(survIds, "doc_id"), updateId)
    }
    val survSigs = batchSigs.join(survIds, "doc_id")
    val applied = TextSigStore.appendSigs(spark, dir, survSigs, updateId)
    // the report is settled before compaction: a fold at the compactAt
    // threshold deletes this update's text delta, which nothing may read
    // afterwards
    val report = TextIngestReport(applied, batchIds.length.toLong, drops.flaggedPairs,
      batchIds.count(id => !drops.dropped(id)).toLong)
    if (applied) TextSigStore.maybeCompact(spark, dir)
    report
  }

  // ------------------------------------------------------- catalog defs

  /** Corpus/batch split for the gates: ids ≢ 0 (mod 5) are the indexed
    * corpus, ids ≡ 0 are the arriving batch — both engines derive the
    * split identically. */
  private val BatchMod = 5

  private def split(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // no repartition: every derived value (sigs, bands, pairs, survivor
    // sets) is a function of text content alone and outputs are ordered,
    // so the gate split must not pay a corpus shuffle the operator
    // doesn't need
    val all = t(s, d, "documents")
    (all.where(col("doc_id") % BatchMod =!= 0),
      all.where(col("doc_id") % BatchMod === 0))
  }

  val defs: Seq[QueryDef] = Seq(
    // INCREMENTAL screen PAIRS — which batch docs near-duplicate something
    // already indexed (or an earlier batch doc): band the batch against
    // the corpus signatures + itself, verify exact jaccard on the
    // candidate-pruned slice. Oracle: the full lshPairs chain restricted
    // to pairs with ≥ 1 batch side (banding collision is symmetric per
    // pair, so candidates-from-one-side equal candidates-from-self-join
    // restricted the same way). The r16 batch-side exact collapse lists
    // clique pairs as star edges and cross pairs on the representative —
    // equal to the raw restriction HERE because the gate batch split
    // carries no byte-identical groups (checked across all three SFs;
    // the contracted-listing pin is TextScreenSpec's first row).
    QueryDef(
      "q105_text_screen_pairs",
      (s, d) => {
        val (corpus, batch) = split(s, d)
        val corpusSigs = TextOps.minhashSigsOf(corpus, TextOps.lshParams(s))
        screenPairs(corpus, corpusSigs, batch)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${TextOps.lshCtePrefixForOracle}
              |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM pairs
              |WHERE id_a % $BatchMod = 0 OR id_b % $BatchMod = 0
              |ORDER BY id_a, id_b""".stripMargin),
      bench = true),

    // The FULL screened-ingest LOOP over the persisted store: seed with
    // the corpus signatures, screen the batch, append the survivors'
    // signatures under a watermarked update id, REPLAY the same id (must
    // be inert — the IngestSpec idempotence discipline, asserted inside
    // the query so the gate itself witnesses it), then emit the store's
    // final content. Oracle: signatures of corpus ∪ surviving batch, the
    // conservative-prefix rule in plain SQL (the q98 drops shape).
    QueryDef(
      "q106_text_screened_store",
      (s, d) => {
        val root = Tables.scratch(s,
          s"graft-text-store/${new java.io.File(d).getName}")
        val (corpus, batch) = split(s, d)
        TextSigStore.build(s, root, corpus)
        val r1 = screenAndAppend(s, root, corpus, batch, "u0001")
        val r2 = screenAndAppend(s, root, corpus, batch, "u0001")
        require(r1.applied && !r2.applied,
          s"screened text ingest replay must be inert: first=$r1 replay=$r2")
        TextSigStore.sigs(s, root)
          .select(col("doc_id"), concat_ws(",", col("sig")).as("sig_str"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${TextOps.lshCtePrefixForOracle},
              |drops AS (
              |  SELECT id_b AS id FROM pairs WHERE id_b % $BatchMod = 0
              |  UNION
              |  SELECT id_a FROM pairs
              |  WHERE id_a % $BatchMod = 0 AND id_b % $BatchMod <> 0)
              |SELECT doc_id, array_to_string(sig, ',') AS sig_str FROM sig
              |WHERE doc_id % $BatchMod <> 0
              |   OR doc_id NOT IN (SELECT id FROM drops)
              |ORDER BY doc_id""".stripMargin)),

    // The STREAMING screened text ingest (graft.streaming
    // .ScreenedTextIngest): q106's cycle as two REAL micro-batches
    // drained sequentially over one checkpoint — batch 2 (ids ≡ 5 mod 10)
    // is screened against the seed corpus PLUS batch 1's (ids ≡ 0 mod 10)
    // SURVIVORS only, whose verification TEXT comes from the side the
    // store itself maintains — then a fresh-checkpoint replay of both
    // files that the watermark must refuse before any screen work. The
    // oracle chains the conservative-prefix rule through both stages:
    // drops1 over (corpus ∪ b1), then drops2 over (corpus ∪ surv1 ∪ b2) —
    // a b2 doc colliding with a DROPPED b1 doc must NOT drop (that text
    // was never indexed).
    QueryDef(
      "q108_stream_text_ingest",
      (s, d) => {
        val root = Tables.scratch(s,
          s"graft-text-store/stream_${new java.io.File(d).getName}")
        val staged = root + "_src"
        val ckpt = s"$root/_ckpt"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        Seq(staged, ckpt, ckpt + "_replay").foreach(p =>
          fs.delete(new org.apache.hadoop.fs.Path(p), true))
        val (corpus, batch) = split(s, d)
        TextSigStore.build(s, root, corpus, storeTexts = true)
        val skinny = batch.select(col("doc_id"), col("text"))
        def drain(cp: String): Unit = {
          val src = s.readStream.schema(skinny.schema)
            .option("maxFilesPerTrigger", 1).parquet(staged)
          graft.streaming.ScreenedTextIngest.maintain(s, root, src, cp)
            .awaitTermination()
        }
        // stage → drain one file at a time, so micro-batch order is the
        // order the oracle models (file-source ordering is not a contract)
        skinny.where(col("doc_id") % 10 === 0).repartition(1)
          .write.mode(SaveMode.Append).parquet(staged)
        drain(ckpt)
        skinny.where(col("doc_id") % 10 === 5).repartition(1)
          .write.mode(SaveMode.Append).parquet(staged)
        drain(ckpt)
        // fresh checkpoint re-reads BOTH files; ids 0/1 ≤ watermark → no-op
        drain(ckpt + "_replay")
        require(UpdateLog.isApplied(s, root, f"stream_${1L}%019d") &&
          !UpdateLog.isApplied(s, root, f"stream_${2L}%019d"),
          "expected exactly two applied screened text stream updates")
        TextSigStore.sigs(s, root)
          .select(col("doc_id"), concat_ws(",", col("sig")).as("sig_str"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${TextOps.lshCtePrefixForOracle},
              |drops1 AS (
              |  SELECT id_b AS id FROM pairs
              |  WHERE id_b % 10 = 0 AND (id_a % 5 <> 0 OR id_a % 10 = 0)
              |  UNION
              |  SELECT id_a FROM pairs
              |  WHERE id_a % 10 = 0 AND id_b % 5 <> 0),
              |surv1 AS (SELECT doc_id AS id FROM documents
              |  WHERE doc_id % 10 = 0
              |    AND doc_id NOT IN (SELECT id FROM drops1)),
              |drops2 AS (
              |  SELECT id_b AS id FROM pairs
              |  WHERE id_b % 10 = 5
              |    AND (id_a % 5 <> 0 OR id_a % 10 = 5
              |         OR id_a IN (SELECT id FROM surv1))
              |  UNION
              |  SELECT id_a FROM pairs
              |  WHERE id_a % 10 = 5
              |    AND (id_b % 5 <> 0 OR id_b IN (SELECT id FROM surv1)))
              |SELECT doc_id, array_to_string(sig, ',') AS sig_str FROM sig
              |WHERE doc_id % 5 <> 0
              |   OR (doc_id % 10 = 0 AND doc_id NOT IN (SELECT id FROM drops1))
              |   OR (doc_id % 10 = 5 AND doc_id NOT IN (SELECT id FROM drops2))
              |ORDER BY doc_id""".stripMargin)),

    // The SIMHASH-TIER screened store (r16): q106's loop over a store
    // built with the near-exact tier on — batch docs are settled against
    // the store's `simsigs/` side by a pigeonhole band join + one-long
    // hamming verify BEFORE any shingle verification touches text, and
    // the drop rule unions BOTH pair generators (a batch doc drops when
    // it jaccard-matches OR hamming-matches an indexed/smaller-id doc).
    // Oracle: minhash `pairs` ∪ simhash `spairs` through the same
    // conservative-prefix rule — the two CTE chains share one `toks`.
    // Pinned at the 32-bit default width like every simhash oracle
    // (refused up front otherwise, the q26/q64/q107 discipline); the
    // magnitude operating point (60 bits) is the probe's.
    QueryDef(
      "q109_text_screen_simtier",
      (s, d) => {
        TextOps.requireOracleSimhashWidth(s)
        val root = Tables.scratch(s,
          s"graft-text-store/simtier_${new java.io.File(d).getName}")
        val (corpus, batch) = split(s, d)
        TextSigStore.build(s, root, corpus, simhashTier = true)
        val r1 = screenAndAppend(s, root, corpus, batch, "u0001")
        val r2 = screenAndAppend(s, root, corpus, batch, "u0001")
        require(r1.applied && !r2.applied,
          s"simtier screened ingest replay must be inert: first=$r1 replay=$r2")
        // the two maintained index sides must agree row-for-row
        val sigIds = TextSigStore.sigs(s, root).select("doc_id")
        val simIds = TextSigStore.simsigs(s, root).select("doc_id")
        require(sigIds.exceptAll(simIds).isEmpty &&
          simIds.exceptAll(sigIds).isEmpty,
          "sigs and simsigs sides must hold the same doc ids")
        TextSigStore.sigs(s, root)
          .select(col("doc_id"), concat_ws(",", col("sig")).as("sig_str"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${TextOps.lshCtePrefixForOracle},
              |${TextOps.simhashTierCtesForOracle},
              |allp AS (SELECT id_a, id_b FROM pairs
              |         UNION SELECT id_a, id_b FROM spairs),
              |drops AS (
              |  SELECT id_b AS id FROM allp WHERE id_b % $BatchMod = 0
              |  UNION
              |  SELECT id_a FROM allp
              |  WHERE id_a % $BatchMod = 0 AND id_b % $BatchMod <> 0)
              |SELECT doc_id, array_to_string(sig, ',') AS sig_str FROM sig
              |WHERE doc_id % $BatchMod <> 0
              |   OR doc_id NOT IN (SELECT id FROM drops)
              |ORDER BY doc_id""".stripMargin)),

    // The LSM FOLD PIPELINE under the correctness gate (r17): q106's loop
    // with the valve forced to fire inside the gate — the update delta
    // minor-folds into a ladder run and a forced-ratio major folds
    // ladder + base into one `_base` — then the store is read back and
    // hash-compared against the SAME oracle as q106. Folding is dedup of
    // bit-identical content-keyed rows, so the store's CONTENT must be
    // invariant under any fold schedule; this gate proves that
    // per-round against DuckDB instead of only in specs (the default
    // compactAt never folds at gate scale, so q106 alone exercises the
    // un-folded read path). The replay after the fold also witnesses
    // that folding never un-applies an update (the tip survives folds).
    QueryDef(
      "q110_text_store_ladder_fold",
      (s, d) => {
        val root = Tables.scratch(s,
          s"graft-text-store/fold_${new java.io.File(d).getName}")
        val (corpus, batch) = split(s, d)
        TextSigStore.build(s, root, corpus)
        s.conf.set(SideStoreFold.CompactAtConf, "1")
        s.conf.set(SideStoreFold.MajorRatioConf, "0.0")
        try {
          val r1 = screenAndAppend(s, root, corpus, batch, "u0001")
          require(r1.applied, s"fold-gate first apply must run: $r1")
          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val entries = fs.listStatus(
              new org.apache.hadoop.fs.Path(s"$root/sigs"))
            .map(_.getPath.getName).sorted.toSeq
          require(entries == Seq("_base"),
            s"the forced valve must fold delta → run → base, got $entries")
          val r2 = screenAndAppend(s, root, corpus, batch, "u0001")
          require(!r2.applied,
            s"a fold must never un-apply an update (tip survives): $r2")
        } finally {
          s.conf.unset(SideStoreFold.CompactAtConf)
          s.conf.unset(SideStoreFold.MajorRatioConf)
        }
        TextSigStore.sigs(s, root)
          .select(col("doc_id"), concat_ws(",", col("sig")).as("sig_str"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${TextOps.lshCtePrefixForOracle},
              |drops AS (
              |  SELECT id_b AS id FROM pairs WHERE id_b % $BatchMod = 0
              |  UNION
              |  SELECT id_a FROM pairs
              |  WHERE id_a % $BatchMod = 0 AND id_b % $BatchMod <> 0)
              |SELECT doc_id, array_to_string(sig, ',') AS sig_str FROM sig
              |WHERE doc_id % $BatchMod <> 0
              |   OR doc_id NOT IN (SELECT id FROM drops)
              |ORDER BY doc_id""".stripMargin))
  )
}
