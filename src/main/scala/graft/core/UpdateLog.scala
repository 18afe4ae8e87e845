package graft.core

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The update log every ingest store keeps — the reference's one updates
  * table (`hbase_indexer_minimal.py:222`) resumed from one
  * `last_indexed_update` watermark (`searcher_lopqhbase.py:632-653`).
  * The codes store ([[graft.engine.LopqIndexStore]]), the vector
  * side-store ([[graft.ops.IngestOps]]) and the text signature store
  * ([[graft.ops.TextSigStore]]) all decide "applied?" and "committed?"
  * here, so the commit rules exist once:
  *
  *   - `dir/tip` holds the lexicographic high-watermark, one UTF-8 id
  *     (empty = nothing applied yet). [[advance]] replaces it atomically
  *     (write a temp file, then rename it over the tip), so a reader
  *     never sees a torn or missing tip: delete-then-rename had a window
  *     where a concurrent reader found no tip, re-ran the codes store's
  *     manifest migration (the manifest commits AFTER the tip, so it
  *     computes the PREVIOUS watermark) and clobbered the newer tip with
  *     a stale value.
  *   - Update ids compare by [[order]]: lexicographic, with a trailing
  *     digit run compared numerically ([[normalizeUpdateId]]). An id at or
  *     below the tip is applied ([[covers]]) — the reference's updates
  *     scan resumes strictly above `last_indexed_update`
  *     (`searcher_lopqhbase.py:600-617`), and its ids are
  *     timestamp-prefixed, hence monotone.
  *   - A store side writes one directory per update id under its root;
  *     `_`-prefixed names are fold artifacts (`_base`, `_runs`, mounts),
  *     never update ids ([[updateDirs]]). A directory counts as committed
  *     once the tip covers its name ([[committed]]).
  *
  * The one in-loop fold valve over a store's roots is
  * [[graft.ops.SideStoreFold.foldIfDue]], beside its ratio knobs. */
object UpdateLog {

  private def tipPath(dir: String) = new Path(s"$dir/tip")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The watermark, or `ifMissing` when `dir` has no tip file (the codes
    * store's one-time manifest migration; every other store starts empty).
    * One small-file read — the per-append replay check stays O(1). */
  def tip(spark: SparkSession, dir: String,
      ifMissing: => Option[String] = None): Option[String] = {
    val p = tipPath(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) ifMissing
    else {
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      Option(s.trim).filter(_.nonEmpty)
    }
  }

  /** Atomically set the watermark (`None` writes an empty tip). */
  def advance(spark: SparkSession, dir: String, wm: Option[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, tipPath(dir))
    val p = fs.makeQualified(tipPath(dir))
    val tmp = fs.makeQualified(new Path(s"$dir/.tip.tmp"))
    val out = fs.create(tmp, true)
    try out.write(wm.getOrElse("").getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(p.toUri, conf)
      .rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** Re-pads a trailing integer run to the 19 digits a `Long` needs, for
    * COMPARISON only (stored ids stay verbatim). A store persisted before
    * [[graft.streaming.IndexMaintenance]] moved from %06d to %019d stream
    * ids holds a tip like `stream_000001`, which sorts lexicographically
    * ABOVE every new-format id (`stream_0000000000000000002` <
    * `stream_000001`) — without normalization the ≤-watermark check would
    * refuse every future append on such a store as a duplicate: silent,
    * permanent data loss. Zero-padding compares digit runs numerically,
    * which is the order both formats mean; ids with no trailing digits
    * (the reference's timestamp-prefixed ids, the build sentinel) pass
    * through unchanged. */
  def normalizeUpdateId(id: String): String = {
    var i = id.length
    while (i > 0 && id.charAt(i - 1) >= '0' && id.charAt(i - 1) <= '9') i -= 1
    val digits = id.length - i
    if (digits == 0 || digits >= 19) id
    else id.substring(0, i) + "0" * (19 - digits) + id.substring(i)
  }

  /** The update-id order every store commits in. */
  val order: Ordering[String] = Ordering.by(normalizeUpdateId)

  /** Whether `tip` covers `updateId` — the ≤-watermark test. */
  def covers(tip: Option[String], updateId: String): Boolean =
    tip.exists(order.lteq(updateId, _))

  /** Whether `updateId` is already applied at `dir`. */
  def isApplied(spark: SparkSession, dir: String, updateId: String): Boolean =
    covers(tip(spark, dir), updateId)

  /** The per-update directories under `root`, committed or not; empty for
    * a root no update has reached. */
  def updateDirs(spark: SparkSession, root: String): Seq[Path] = {
    val p = new Path(root)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
      .map(_.getPath)
  }

  /** The update directories under `root` that `dir`'s tip covers — one
    * tip read for the whole listing. */
  def committed(spark: SparkSession, dir: String, root: String): Seq[Path] = {
    val t = tip(spark, dir)
    updateDirs(spark, root).filter(p => covers(t, p.getName))
  }
}
