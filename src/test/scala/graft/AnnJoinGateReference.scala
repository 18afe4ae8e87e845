package graft

/** The batch join's regime gates as they stood before the one-budget
  * planner ([[graft.engine.AnnJoinPlan]]): eight size gates, each with its
  * own `spark.graft.annjoin.*` session key and default, plus the two
  * constant gates. The arithmetic is copied unchanged from the earlier
  * `LopqSearcher.annJoin` body; a session conf is modelled by `conf` and
  * the live task-result cap by `maxResultBytes`. The specs pin the planner
  * against this second copy at the default budget. */
object AnnJoinGateReference {

  /** The gate inputs, as the earlier body computed them. `distinctHalves`
    * and `nProbes` stand for its two count jobs; [[decide]] reports which
    * of them it paid for. */
  final case class Inputs(
      nPairs: Long,
      unionCells: Int,
      keepFraction: Double,
      fanOutRows: Long,
      m: Int,
      sClusters: Int,
      halfDim: Int,
      dim: Int,
      rerankK: Int,
      qIdIntegral: Boolean,
      lookupTable: Boolean,
      distinctHalves: Long,
      nProbes: Long)

  final case class Decisions(
      shipMode: String,
      cellsPushed: Boolean,
      balanced: Boolean,
      qsideBroadcast: Boolean,
      rerankMode: String,
      exactShape: String,
      dictBytes: Long,
      qsidePayloadBytes: Long,
      qvecMaxBytes: Long,
      countedHalves: Boolean,
      countedProbes: Boolean)

  val AnnJoinMaxPushedCells = 65536
  val AnnJoinScanFilterMaxKeepFraction = 0.75
  val MaxStackSafeInPushdown = 512

  val AnnJoinShipTablesMaxBytesConf = "spark.graft.annjoin.shipTablesMaxBytes"
  val DefaultAnnJoinShipTablesMaxBytes: Long = 64L << 20
  val AnnJoinHalvesDictMaxBytesConf = "spark.graft.annjoin.halvesDictMaxBytes"
  val DefaultAnnJoinHalvesDictMaxBytes: Long = 256L << 20
  val AnnJoinMaxLookupIdsConf = "spark.graft.annjoin.maxLookupIds"
  val DefaultAnnJoinMaxLookupIds: Int = MaxStackSafeInPushdown
  val AnnJoinBroadcastQueryVecsMaxBytesConf = "spark.graft.annjoin.broadcastQueryVecsMaxBytes"
  val DefaultAnnJoinBroadcastQueryVecsMaxBytes: Long = 1L << 30
  val AnnJoinExactFatShuffleFloorConf = "spark.graft.annjoin.exactFatShuffleFloorBytes"
  val DefaultAnnJoinExactFatShuffleFloor: Long = 256L << 20
  val AnnJoinBroadcastCandMaxRowsConf = "spark.graft.annjoin.broadcastCandMaxRows"
  val DefaultAnnJoinBroadcastCandMaxRows: Long = 4L << 20
  val AnnJoinBalanceMinFanOutRowsConf = "spark.graft.annjoin.balanceMinFanOutRows"
  val DefaultAnnJoinBalanceMinFanOutRows: Long = 1L << 21
  val AnnJoinBroadcastQueriesMaxBytesConf = "spark.graft.annjoin.broadcastQueriesMaxBytes"
  val DefaultAnnJoinBroadcastQueriesMaxBytes: Long = 1L << 30

  private def satMul(a: Long, b: Long): Long =
    if (a <= 0L || b <= 0L) 0L
    else if (a > Long.MaxValue / b) Long.MaxValue
    else a * b

  def decide(in: Inputs, conf: Map[String, String] = Map.empty,
      maxResultBytes: Long = 1L << 30): Decisions = {
    import in._
    val spark = Session(Conf(conf))
    var countedHalves = false
    var countedProbes = false

    val applyCellFilter = unionCells <= AnnJoinMaxPushedCells &&
      keepFraction <= AnnJoinScanFilterMaxKeepFraction

    val tableBytesEst = nPairs * m.toLong * sClusters * 8L
    val shipTables = tableBytesEst <= spark.conf
      .get(AnnJoinShipTablesMaxBytesConf, DefaultAnnJoinShipTablesMaxBytes.toString).toLong
    var dictNote = -1L
    val shipMode =
      if (shipTables) "tables"
      else {
        val halfEntryBytes = halfDim * 4L + 56L // float payload + framing
        val dictMaxConf = spark.conf
          .get(AnnJoinHalvesDictMaxBytesConf, DefaultAnnJoinHalvesDictMaxBytes.toString).toLong
        val dictMax =
          if (maxResultBytes > 0L) math.min(dictMaxConf, maxResultBytes / 2)
          else dictMaxConf
        val dictEligible = qIdIntegral && dictMax > 0L
        // ≤ 2 distinct halves per counted (query, cell) pair — driver-known
        val dictUb = satMul(satMul(2L, nPairs), halfEntryBytes)
        val dictBytes: Long =
          if (!dictEligible) Long.MaxValue
          else if (dictUb <= dictMax) dictUb
          else {
            countedHalves = true
            satMul(distinctHalves, halfEntryBytes)
          }
        if (dictEligible && dictBytes <= dictMax) { dictNote = dictBytes; "halvesDict" }
        else "projection"
      }

    val balanceMinRows = spark.conf
      .get(AnnJoinBalanceMinFanOutRowsConf, DefaultAnnJoinBalanceMinFanOutRows.toString).toLong
    val balanced = fanOutRows > balanceMinRows
    val pairBytes = shipMode match {
      case "tables" => m.toLong * sClusters * 8L
      case "halvesDict" => 12L // (q_id BIGINT, cell_id INT) — payload rides the dict
      case _ => halfDim.toLong * 2L * 4L
    }
    val qsidePayloadBytes = nPairs * (pairBytes + 24L)
    val broadcastQMax = spark.conf
      .get(AnnJoinBroadcastQueriesMaxBytesConf, DefaultAnnJoinBroadcastQueriesMaxBytes.toString).toLong
    val qsideBroadcast = qsidePayloadBytes <= broadcastQMax

    val maxLookupIds = spark.conf
      .get(AnnJoinMaxLookupIdsConf, DefaultAnnJoinMaxLookupIds.toString).toLong
    val maxBcastCand = spark.conf
      .get(AnnJoinBroadcastCandMaxRowsConf, DefaultAnnJoinBroadcastCandMaxRows.toString).toLong
    lazy val candBound = {
      countedProbes = true
      nProbes * rerankK
    }
    val rerankMode =
      if (!lookupTable) "scan"
      else if (candBound <= maxLookupIds) "lookup"
      else if (candBound <= maxBcastCand) "broadcastCand"
      else "shuffle"

    val confBytes = spark.conf
      .get(AnnJoinBroadcastQueryVecsMaxBytesConf, DefaultAnnJoinBroadcastQueryVecsMaxBytes.toString).toLong
    val qvecMaxBytes =
      if (maxResultBytes > 0L) math.min(confBytes, maxResultBytes / 2)
      else confBytes
    val fatFloor = spark.conf
      .get(AnnJoinExactFatShuffleFloorConf, DefaultAnnJoinExactFatShuffleFloor.toString).toLong
    val candUb = satMul(nPairs, rerankK)
    val mayTrigger = qIdIntegral && dim > 0 &&
      (candUb > maxBcastCand || satMul(candUb, 4L * dim + 24L) > fatFloor)
    val exactViaBroadcast = mayTrigger && {
      // serialized collect rows are fatter than their raw floats — count
      // Row framing + boxing at ~96 B/row, not 64 (ADVICE r10 #2)
      val probeMatrixBytes = candBound / rerankK * (4L * dim + 96L)
      val pairVecBytes = satMul(candBound, 4L * dim + 24L)
      probeMatrixBytes <= qvecMaxBytes &&
        (candBound > maxBcastCand ||
          pairVecBytes > math.max(probeMatrixBytes, fatFloor))
    }
    Decisions(shipMode, applyCellFilter, balanced, qsideBroadcast, rerankMode,
      if (exactViaBroadcast) "broadcastQvec" else "qidJoin", dictNote, qsidePayloadBytes,
      qvecMaxBytes, countedHalves, countedProbes)
  }

  /** The session conf the gates read. */
  final case class Conf(values: Map[String, String]) {
    def get(key: String, default: String): String = values.getOrElse(key, default)
  }
  final case class Session(conf: Conf)
}
