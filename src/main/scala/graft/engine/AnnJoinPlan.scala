package graft.engine

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

import graft.core.MemoryBudget

import graft.engine.LopqSearcher.satMul

/** The physical plan of one [[LopqSearcher.annJoin]] call: its six regime
  * decisions and the exact gate inputs they were taken on. Every decision
  * is result-identical to its alternatives (AnnJoinSpec forces each one and
  * pins bit-equal rows); the plan only moves cost and memory.
  *
  * The gate inputs are those of the chosen plan; forcing a decision leaves
  * them as they were. `scanKeepFraction` is rounded to 0.001. `dictBytes`
  * is -1 unless the planner chose the halves dictionary. `broadcasts` are
  * the per-call broadcasts the built frame reads (the halves dictionary,
  * the probe matrix) — the caller may destroy them once the frame is
  * materialized. */
final case class AnnJoinPlan(
    shipMode: AnnJoinPlan.Ship, cellsPushed: Boolean, balanced: Boolean,
    qsideBroadcast: Boolean, rerankMode: AnnJoinPlan.Rerank, exactShape: AnnJoinPlan.Exact,
    nPairs: Long, fanOutRows: Long, scanKeepFraction: Double, qsidePayloadBytes: Long,
    candBound: Long, qvecMaxBytes: Long, dictBytes: Long,
    broadcasts: Seq[Broadcast[_]] = Nil) {

  /** The plan as the string record [[LopqSearcher.lastPlanNotes]] returns,
    * keyed by field name. */
  def notes: Map[String, String] = productElementNames.zip(productIterator)
    .collect { case (k, v) if k != "broadcasts" => k -> v.toString }.toMap
}

/** One planner over the engine's one memory budget `B`
  * ([[graft.core.MemoryBudget]], read per call). Every memory gate of the
  * batch join is a fixed multiple of `B`; the table of them is
  * [[graft.core.MemoryBudget]]'s. The two gates that bound no memory are
  * constants: [[BalanceMinFanOutRows]] and [[MaxLookupIds]]. */
object AnnJoinPlan {

  /** What the fan-out join ships per (query, visited cell) pair. */
  object Ship extends Enumeration {
    val Tables = Value("tables"); val HalvesDict = Value("halvesDict")
    val Projection = Value("projection")
  }
  /** How the exact rerank reads the raw-vector table. */
  object Rerank extends Enumeration {
    val Lookup = Value("lookup")
    val BroadcastCand = Value("broadcastCand"); val Shuffle = Value("shuffle")
  }
  /** How the exact stage attaches each candidate's probe vector. */
  object Exact extends Enumeration {
    val BroadcastQvec = Value("broadcastQvec"); val QidJoin = Value("qidJoin")
  }
  type Ship = Ship.Value
  type Rerank = Rerank.Value
  type Exact = Exact.Value

  /** Past this many distinct visited cells the codes scan skips the pushed
    * cell IN-list: a plan with millions of literals is itself the
    * bottleneck, and such a batch visits most of the index anyway. */
  val MaxPushedCells = 65536

  /** The codes-scan cell IN-list is applied only when the batch's
    * visited-cell union keeps at most this fraction of the indexed rows.
    * Measured r18 at the v3 release shape: a 15.5k-literal INSET over 600k
    * rows cost ~1.5 s to prune 0.4 % of them; 0.75 keeps the filter where
    * it still halves the balanced shuffle (the v4 shape keeps 56 %). */
  val ScanFilterMaxKeepFraction = 0.75

  /** Expected fan-out rows above which the codes side is round-robin
    * balanced before the fan-out join. Below it the whole fan-out stage
    * costs less than the shuffle's latency. */
  val BalanceMinFanOutRows: Long = 1L << 21

  /** Candidate ids a lookup rerank pushes as one IN-list at most. */
  val MaxLookupIds: Long = LopqSearcher.MaxStackSafeInPushdown.toLong

  /** The planner's inputs, all exact and driver-known. `nProbes` comes out
    * of the same aggregation as the cell union. The distinct projection
    * halves of the batch cost a second job, so that count is by-name and is
    * evaluated only when the ship gate cannot be settled without it. */
  final class Inputs(
      val nPairs: Long, val unionCells: Int, val scanKeepFraction: Double, val fanOutRows: Long,
      val m: Int, val subClusters: Int, val halfDim: Int, val dim: Int, val rerankK: Int,
      val qIdIntegral: Boolean, distinctHalvesCount: => Long, val nProbes: Long) {
    lazy val distinctHalves: Long = distinctHalvesCount
  }

  /** The plan for `in` under `budget`. Pure apart from the by-name count
    * of `in`. */
  def choose(in: Inputs, budget: Long): AnnJoinPlan = {
    // The codes-scan cell filter is a per-row set probe over every codes row
    // whose cost grows with the literal count; skipping it is result-
    // identical because the fan-out equi-join on cell_id drops non-visited
    // cells anyway. So it runs only where it prunes.
    val cellsPushed = in.unionCells <= MaxPushedCells &&
      in.scanKeepFraction <= ScanFilterMaxKeepFraction

    // Ship mode. Materialized ADC tables are M·S doubles per pair: cheap for
    // a small batch, hundreds of GB of shuffle at a million probes (VERDICT
    // r7 "What's wrong #3"). Past the tables gate the join prefers the
    // half-projection dictionary: a query's visited cells share a few dozen
    // distinct (split, cluster) halves, ~7× less than the per-pair
    // projection at the v3 release shape. The dictionary is keyed by a long
    // q_id and collected before it broadcasts, so it is gated on the budget;
    // the driver-known bound (≤ 2 halves per pair) settles most batches and
    // only the rest pay the exact distinct-halves count. Past both gates the
    // cell-local projection (D floats per pair) keeps the shuffle O(pairs·D).
    val tableBytes = satMul(in.nPairs, in.m.toLong * in.subClusters * 8L)
    val dictMax = MemoryBudget.halvesDictMaxBytes(budget)
    val (shipMode, dictBytes) =
      if (tableBytes <= MemoryBudget.shipTablesMaxBytes(budget)) (Ship.Tables, -1L)
      else if (!in.qIdIntegral || dictMax <= 0L) (Ship.Projection, -1L)
      else {
        val entryBytes = in.halfDim * 4L + 56L // float payload + framing
        val upper = satMul(satMul(2L, in.nPairs), entryBytes)
        val bytes = if (upper <= dictMax) upper else satMul(in.distinctHalves, entryBytes)
        if (bytes <= dictMax) (Ship.HalvesDict, bytes) else (Ship.Projection, -1L)
      }

    // Round-robin the pruned codes before the fan-out join once there is
    // stage CPU to balance: a clustered corpus puts the heavy cells' rows and
    // most probe visits in the same few scan tasks (r9, 1000-probe V2 shape:
    // 23 s of stage CPU at average parallelism two). Gated on exact fan-out
    // rows, never on Catalyst's byte stats (a byte gate turned the balance
    // off at that shape: 14 s vs 3.3 s/pass).
    val balanced = in.fanOutRows > BalanceMinFanOutRows

    // Broadcast the query side explicitly while its exact size fits:
    // Catalyst cannot size it through the UDF projection and would
    // sort-merge past its 10 MB default, re-hashing the codes by the very
    // cell_id skew the round-robin spread (4000-probe V2: 57 s vs 7 s/pass).
    val pairBytes = shipMode match {
      case Ship.Tables => in.m.toLong * in.subClusters * 8L
      case Ship.HalvesDict => 12L // (q_id BIGINT, cell_id INT); the payload rides the dictionary
      case Ship.Projection => in.halfDim.toLong * 2L * 4L
    }
    val qsidePayloadBytes = satMul(in.nPairs, pairBytes + 24L)
    val qsideBroadcast = qsidePayloadBytes <= MemoryBudget.qsideBroadcastMaxBytes(budget)

    val maxCand = MemoryBudget.broadcastCandMaxRows(budget)
    val fatFloor = MemoryBudget.fatShuffleFloorBytes(budget)
    val pairVecRowBytes = 4L * in.dim + 24L
    val candBound = satMul(in.nProbes, in.rerankK.toLong)

    // Rerank read shape. A bounded batch pushes its candidate ids into the
    // vector scan; without that, Catalyst cannot size the candidate side and
    // sort-merges the whole table (32 GB at the deployment shape). Too many
    // ids for an IN-list but few enough to broadcast: the candidates
    // broadcast and the table streams. Past both, the shuffle join is the
    // distributed plan.
    val rerankMode =
      if (candBound <= MaxLookupIds) Rerank.Lookup
      else if (candBound <= maxCand) Rerank.BroadcastCand
      else Rerank.Shuffle

    // Exact stage. A q_id join re-shuffles candidate rows after they picked
    // up their D-dim vector — a second O(pairs·D) pass that dominates the
    // corpus self-dedup (600k × 256 × 512-d ≈ 300 GB). While the probe
    // matrix (O(probes·D), collected then broadcast, ~96 B/row of framing)
    // fits the budget and the candidates are many, or few but wide enough
    // that dragging their vectors through a q_id shuffle passes the floor
    // (the 4096-d shape), broadcast it and compute the distance map-side.
    val exactShape =
      if (in.qIdIntegral && in.dim > 0 && {
        val matrixBytes = satMul(in.nProbes, 4L * in.dim + 96L)
        matrixBytes <= MemoryBudget.qvecMaxBytes(budget) &&
          (candBound > maxCand ||
            satMul(candBound, pairVecRowBytes) > math.max(matrixBytes, fatFloor))
      }) Exact.BroadcastQvec
      else Exact.QidJoin

    AnnJoinPlan(shipMode, cellsPushed, balanced, qsideBroadcast, rerankMode, exactShape,
      in.nPairs, in.fanOutRows, math.round(in.scanKeepFraction * 1000.0) / 1000.0, qsidePayloadBytes,
      candBound, MemoryBudget.qvecMaxBytes(budget), dictBytes)
  }

  /** Fails on a plan the batch cannot run: the halves dictionary and the
    * probe matrix are keyed by a long q_id. */
  def requireRunnable(plan: AnnJoinPlan, qIdIntegral: Boolean): Unit = {
    require(qIdIntegral || plan.shipMode != Ship.HalvesDict,
      "annJoin plan ships the halves dictionary, which needs an integral q_id")
    require(qIdIntegral || plan.exactShape != Exact.BroadcastQvec,
      "annJoin plan broadcasts the probe matrix, which needs an integral q_id")
  }

  // The last plan of each session, for [[LopqSearcher.lastPlanNotes]]. One
  // put per call, so a reader sees one complete record, never a mix of two
  // concurrent callers' keys.
  private val lastBySession = new java.util.WeakHashMap[SparkSession, Map[String, String]]()

  private[graft] def record(spark: SparkSession, notes: Map[String, String]): Unit =
    lastBySession.synchronized { lastBySession.put(spark, notes) }

  private[graft] def last(spark: SparkSession): Map[String, String] =
    lastBySession.synchronized { Option(lastBySession.get(spark)).getOrElse(Map.empty) }
}
