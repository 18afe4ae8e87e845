package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.UpdateLog
import graft.engine.LopqIndexStore

/** The nightly-ingest CYCLE against a persisted index dir — the
  * reference's check → skip → store loop as one operation (ref
  * `updater/extraction_checker.py:225-258` checks each new extraction
  * against what is indexed and marks it processed;
  * `searcher_lopqhbase.py:600-617` skips already-indexed updates): screen
  * a new batch against the index's own cells ([[screenPairs]]), drop
  * flagged rows by the conservative-prefix rule
  * ([[VectorQueries.screenDrops]]), append the survivors
  * ([[LopqIndexStore.appendUpdate]]).
  *
  * One pass over the batch: it is projected and assigned once
  * ([[LopqIndexStore.assign]], persisted), its `(id, cell)` pairs ride to
  * the driver, and the screen, the drop rule and the append all read that
  * one frame; the report comes from the driver-side arrays.
  *
  * The work is O(batch) but for ONE store-sized term: the screen's
  * corpus-vector scan reads every row of the feature store (all 200,000
  * rows of the staged V1 table behind a 64,000-row index, in the benchmark)
  * and filters it map-side behind a broadcast of the touched members. Everything else is batch-bounded:
  * the skinny codes scan is pruned by the batch's cells, the append
  * encodes only the survivors and anti-joins only their touched cells,
  * and the replay check is the O(1) watermark tip.
  */
object IngestOps {

  /** What one ingest cycle did. `applied=false` means the update id was at
    * or below the watermark — an at-least-once replay, nothing recomputed.
    * `appended` counts survivor rows handed to the append (its own
    * touched-cell anti-join may drop replayed ids on top). */
  final case class IngestReport(applied: Boolean, batchRows: Long,
      flaggedPairs: Long, appended: Long)

  /** One screened ingest cycle. `corpusVectors` must carry `(idCol,
    * vecCol)` for every id the index holds codes for (the feature store
    * the reference keeps in HBase; [[vectorStore]] reads the side-store
    * the streaming twin maintains). Batch ids must be disjoint from
    * indexed ids; `updateId`s must be lexicographically monotone
    * ([[LopqIndexStore.appendUpdate]]'s contract). */
  def screenAndAppend(spark: SparkSession, dir: String,
      corpusVectors: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, updateId: String,
      simThreshold: Double = VectorQueries.NearDupSimThreshold): IngestReport = {
    if (UpdateLog.covers(LopqIndexStore.watermark(spark, dir), updateId))
      return IngestReport(applied = false, 0L, 0L, 0L)
    screened(spark, dir, corpusVectors, batch, idCol, vecCol, simThreshold) { s =>
      val applied = LopqIndexStore.appendAssigned(spark, dir,
        s.survivors.select("id", "pvec", "cell_id").dropDuplicates("id"), s.touched, updateId)
      IngestReport(applied, s.batchRows, s.drops.flaggedPairs, s.kept)
    }
  }

  /** One screened batch: `assigned` is the persisted [[LopqIndexStore.assign]]
    * frame, `ids` and `cells` its rows' ids and coarse cells on the driver,
    * `drops` what [[VectorQueries.screenDrops]] settled. */
  private[graft] final case class Screened(assigned: DataFrame, ids: Array[Long],
      cells: Array[Int], drops: VectorQueries.ScreenDrops) {
    def batchRows: Long = ids.length.toLong
    /** Batch rows the drop rule keeps. */
    def kept: Long = ids.count(id => !drops.dropped(id)).toLong
    /** The kept rows of `assigned`. */
    def survivors: DataFrame = drops.survivors(assigned, "id")
    /** The kept rows' distinct cells, sorted. */
    def touched: Seq[Int] =
      ids.indices.filter(i => !drops.dropped(ids(i))).map(cells).distinct.sorted
  }

  /** The screen step of one ingest cycle, shared by [[screenAndAppend]] and
    * the streaming twin ([[graft.streaming.ScreenedIngest]]): assigns the
    * batch once and persists it, collects its `(id, cell)` pairs, screens it
    * ([[screenPairs]]) and settles the drop rule, then runs `body` and
    * unpersists. */
  private[graft] def screened[A](spark: SparkSession, dir: String,
      corpusVectors: DataFrame, batch: DataFrame, idCol: String, vecCol: String,
      simThreshold: Double)(body: Screened => A): A = {
    val a = LopqIndexStore.assign(spark, dir, batch, idCol, vecCol, screenProbes(spark))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = a.select("id", "cell_id").collect()
      val ids = rows.map(_.getLong(0))
      val drops = VectorQueries.screenDrops(
        screenAssigned(spark, dir, corpusVectors, a, idCol, vecCol, simThreshold), ids.toSet)
      body(Screened(a, ids, rows.map(_.getLong(1).toInt), drops))
    } finally { a.unpersist(); () }
  }

  /** The screen stage of one ingest cycle — what [[screened]] runs over the
    * batch it assigned, and the API facade's
    * ([[graft.GraftApi.semDedupIncrement]]) pairs: the batch's cells from
    * the dir's persisted model ([[LopqIndexStore.assign]]; its top-P cells
    * under [[VectorQueries.ScreenMultiProbeConf]] — a near-dup whose jitter
    * flipped the argmin across a cell boundary is then still caught),
    * swept against the indexed cells
    * ([[VectorQueries.semDedupPairsIncremental]]). Returns the flagged
    * `(id_a < id_b, cell_id, cos_sim)` pairs; under multi-probe a batch
    * pair sharing two probed cells is collapsed to one row
    * ([[VectorQueries.dedupProbePairs]]). */
  def screenPairs(spark: SparkSession, dir: String, corpusVectors: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String,
      simThreshold: Double): DataFrame =
    screenAssigned(spark, dir, corpusVectors,
      LopqIndexStore.assign(spark, dir, batch, idCol, vecCol, screenProbes(spark)),
      idCol, vecCol, simThreshold)

  /** Cells a screen probes per batch row: 1, or the multi-probe width. */
  private def screenProbes(spark: SparkSession): Int =
    if (VectorQueries.screenMultiProbe(spark)) LopqIndexStore.multiProbeCells(spark) else 1

  /** [[screenPairs]] over a batch already assigned by
    * [[LopqIndexStore.assign]]. */
  private def screenAssigned(spark: SparkSession, dir: String, corpusVectors: DataFrame,
      assigned: DataFrame, idCol: String, vecCol: String,
      simThreshold: Double): DataFrame = {
    val multi = assigned.columns.contains("cells")
    val batchCells =
      if (multi) assigned.select(col("id"), explode(col("cells")).as("cell_id"))
      else assigned.select("id", "cell_id")
    val pairs = VectorQueries.semDedupPairsIncremental(indexedCells(spark, dir),
      batchCells, corpusVectors, assigned.select(col("id").as(idCol), col("vec").as(vecCol)),
      idCol, vecCol, simThreshold)
    if (multi) VectorQueries.dedupProbePairs(pairs) else pairs
  }

  /** `(id, cell_id)` of everything indexed — empty (not an error) for a
    * store no batch has reached yet, so the first-ever screened batch
    * still gets its WITHIN-batch dedup. */
  private def indexedCells(spark: SparkSession, dir: String): DataFrame =
    if (LopqIndexStore.hasCodes(spark, dir))
      LopqIndexStore.readCodes(spark, dir)
        .select(col("id"), col("cell_id").cast("long").as("cell_id"))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType), StructField("cell_id", LongType))))

  // ------------------------------------------------- vector side-store

  /** The raw-vector side-store a SCREENED stream maintains alongside the
    * codes — the reference's feature cache (HBase column of features per
    * indexed sha1), needed because the codes table alone can't verify a
    * cosine. One parquet directory PER UPDATE ID, written with overwrite,
    * so a replayed micro-batch rewrites its own directory instead of
    * duplicating rows (idempotent at-least-once, like the manifest). */
  def vectorsDir(dir: String): String = s"$dir/vectors"

  /** Idempotent per-update write: `(id, vec)` rows into
    * `vectors/<updateId>/`, replacing any partial previous attempt. */
  def writeVectors(spark: SparkSession, dir: String, df: DataFrame,
      idCol: String, vecCol: String, updateId: String): Unit =
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .write.mode(SaveMode.Overwrite).parquet(s"${vectorsDir(dir)}/$updateId")

  /** Every stored vector, shaped `(idCol, vecCol)` for the screen. Rows
    * whose update never committed its codes append are harmless: the
    * screen attaches vectors through the CELLS the codes table knows, so
    * an orphaned vector row simply never joins. Reads the compacted base
    * (preferring a not-yet-promoted `_base_next`, which is a superset of
    * `_base` by construction) plus every un-folded update directory plus
    * a [[mountVectorsBase]]-mounted external table; an overlap left by a
    * crash mid-[[compactVectors]] can only duplicate bit-identical
    * `(id, vec)` rows, which the screen's join tolerates and the next
    * compaction's dedup removes. */
  def vectorStore(spark: SparkSession, dir: String,
      idCol: String, vecCol: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(vectorsDir(dir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // explicit paths, not a "/*" glob: Spark's FileStreamSink probe
    // stat()s the literal glob string and logs a spurious
    // FileNotFoundException trace on every resolution
    val all = UpdateLog.updateDirs(spark, vectorsDir(dir)).map(_.toString) ++
      SideStoreFold.storedRoots(fs, vectorsDir(dir))
    val raw =
      if (all.nonEmpty) spark.read.parquet(all: _*)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id", LongType),
          StructField("vec", ArrayType(FloatType)))))
    val own = raw.select(col("id").as(idCol), col("vec").as(vecCol))
    externalBase(spark, dir) match {
      case Some((path, eid, evec)) =>
        own.unionByName(spark.read.parquet(path)
          .select(col(eid).as(idCol), col(evec).as(vecCol)))
      case None => own
    }
  }

  // --------------------------------------------- external base mount

  /** Mount an EXISTING flat feature table as the side-store's READ-ONLY
    * base. A deployment migrating an already-extracted corpus into a
    * screened stream should not copy its feature table into the
    * side-store — at deployment width that copy is a corpus-sized write
    * (32 GB at 2M × 4096-d; at 100 TB it is a non-starter). The mount is
    * a marker file recording the table's path + column names:
    * [[vectorStore]] unions the mounted table into every read;
    * [[compactVectors]] NEVER folds, rewrites, or deletes it (the LSM
    * fold stays O(stream-ingested rows), and the mounted table keeps
    * whatever ownership/layout it already has). Ids overlapping between
    * the mount and stream updates behave like any crash-window overlap:
    * duplicate rows are tolerated by the screen's join. Idempotent —
    * remounting overwrites the marker. */
  def mountVectorsBase(spark: SparkSession, dir: String, path: String,
      idCol: String, vecCol: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(externalMarkerPath(dir))
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    // one line per field, no JSON library needed on read
    out.write(s"$path\n$idCol\n$vecCol\n".getBytes("UTF-8"))
    out.close()
  }

  private def externalMarkerPath(dir: String) = s"${vectorsDir(dir)}/_external"

  private def externalBase(spark: SparkSession, dir: String)
      : Option[(String, String, String)] = {
    val marker = new org.apache.hadoop.fs.Path(externalMarkerPath(dir))
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      in.close()
      lines match {
        case path :: id :: vec :: _ => Some((path, id, vec))
        case _ => throw new IllegalStateException(
          s"malformed side-store mount marker at $marker: $lines")
      }
    }
  }

  // ------------------------------------------- side-store compaction

  /** FULL fold — every update directory, the delta-tier, and the current
    * base into ONE compacted `_base` ([[SideStoreFold.fullFold]]'s
    * crash-safe `_SUCCESS`-gated schedule — partial `_base_next`
    * discarded and refolded, complete one promoted, overlap windows
    * leave only bit-identical duplicates). The explicit offline lever;
    * the in-loop cadence ([[maybeCompactVectors]]) runs the TIERED
    * schedule so a fold batch never rewrites the base. The dedup shuffle
    * is the point of the OFFLINE job — the serve-path read stays a plain
    * multi-root scan with no shuffle. */
  def compactVectors(spark: SparkSession, dir: String): Unit = {
    val vroot = new org.apache.hadoop.fs.Path(vectorsDir(dir))
    val fs = vroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(vroot)) return
    SideStoreFold.fullFold(spark, fs, vectorsDir(dir),
      UpdateLog.updateDirs(spark, vectorsDir(dir)), "id")
  }

  /** The in-loop LSM valve ([[SideStoreFold.foldIfDue]], shared with the
    * text store): a screened stream writes one directory per update id,
    * and past [[SideStoreFold.CompactAtConf]] of them
    * [[graft.streaming.ScreenedIngest]] folds them — every one, committed
    * or not: an orphan's rows never join (see [[vectorStore]]) — after
    * the batch commits. */
  def maybeCompactVectors(spark: SparkSession, dir: String): Unit = {
    val deltas = UpdateLog.updateDirs(spark, vectorsDir(dir))
    SideStoreFold.foldIfDue(spark, deltas.size, Seq(vectorsDir(dir) -> deltas), "id")
  }
}
