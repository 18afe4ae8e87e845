package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.MemoryBudget
import graft.engine.AnnJoinPlan
import graft.engine.AnnJoinPlan.{Exact, Rerank, Ship}

/** The one-budget planner against the gates it replaced
  * ([[AnnJoinGateReference]]): equal decisions at the 1g default, never a
  * step toward a fallback when the budget grows, and the regimes recorded
  * at the release shapes. Driver-only; no Spark. */
class AnnJoinPlanSpec extends AnyFunSuite {

  /** B at Spark's default `spark.driver.maxResultSize` of 1g. */
  private val DefaultBudget = (1L << 30) / 2

  private def params(minSuccessful: Int, seed: Long) =
    Test.Parameters.default.withMinSuccessfulTests(minSuccessful)
      .withInitialSeed(org.scalacheck.rng.Seed(seed))

  /** Inputs spanning the recorded magnitudes: batches of a few probes up
    * to the 1.48M-pair 600k-probe self-dedup, fan-outs up to ~7·10⁸ rows,
    * the test (M=4, S=16) and release (M=8, S=256) models. */
  private val inputs: Gen[AnnJoinGateReference.Inputs] = for {
    nPairs <- Gen.frequency(3 -> Gen.choose(0L, 5000L), 2 -> Gen.choose(0L, 300000L),
      2 -> Gen.choose(0L, 1500000L))
    unionCells <- Gen.choose(0, 200000)
    keepFraction <- Gen.choose(0.0, 1.0)
    fanOutRows <- Gen.frequency(1 -> Gen.choose(0L, 1L << 22), 1 -> Gen.choose(0L, 700000000L))
    (m, s) <- Gen.oneOf((4, 16), (8, 256))
    halfDim <- Gen.oneOf(32, 64, 128, 256)
    dim <- Gen.oneOf(64, 256, 512, 4096)
    rerankK <- Gen.oneOf(1, 10, 32, 50, 100, 128, 256)
    qIdIntegral <- Gen.frequency(4 -> true, 1 -> false)
    nProbes <- Gen.choose(1L, math.max(1L, nPairs))
    distinctHalves <- Gen.choose(0L, 2L * nPairs)
  } yield AnnJoinGateReference.Inputs(nPairs, unionCells, keepFraction, fanOutRows, m, s,
    halfDim, dim, rerankK, qIdIntegral, lookupTable = true, distinctHalves, nProbes)

  /** The planner's view of `in`, recording whether it paid for the
    * distinct-halves count (the probe count it always has). */
  private final class Counted(in: AnnJoinGateReference.Inputs) {
    var halves = false
    val planInputs = new AnnJoinPlan.Inputs(in.nPairs, in.unionCells, in.keepFraction,
      in.fanOutRows, in.m, in.sClusters, in.halfDim, in.dim, in.rerankK, in.qIdIntegral,
      { halves = true; in.distinctHalves }, in.nProbes)
  }

  private def plan(in: AnnJoinGateReference.Inputs, budget: Long): AnnJoinPlan =
    AnnJoinPlan.choose(new Counted(in).planInputs, budget)

  test("at the 1g default budget every decision equals the earlier gates'") {
    val prop = Prop.forAll(inputs) { in =>
      val c = new Counted(in)
      val p = AnnJoinPlan.choose(c.planInputs, DefaultBudget)
      val want = AnnJoinGateReference.decide(in)
      val got = AnnJoinGateReference.Decisions(p.shipMode.toString, p.cellsPushed, p.balanced,
        p.qsideBroadcast, p.rerankMode.toString, p.exactShape.toString, p.dictBytes,
        p.qsidePayloadBytes, p.qvecMaxBytes, c.halves, countedProbes = true)
      Prop(got == want) :| s"planner $got\nreference $want"
    }
    val res = Test.check(params(400, 12L), prop)
    assert(res.passed, res.status.toString)
  }

  test("raising the budget never moves a memory gate toward its fallback") {
    def shipRank(s: Ship) = s.id // tables < halvesDict < projection
    def rerankRank(r: Rerank) = r match {
      case Rerank.Lookup => 0 // not a budget gate
      case Rerank.BroadcastCand => 1
      case Rerank.Shuffle => 2
    }
    val budgets = Gen.choose(0L, 8L << 30)
    val prop = Prop.forAll(inputs, budgets, budgets) { (in, b1, b2) =>
      val (lo, hi) = (math.min(b1, b2), math.max(b1, b2))
      val (a, b) = (plan(in, lo), plan(in, hi))
      // the probe matrix fits at `lo`: at `hi` it still fits, so the exact
      // stage stays on it unless the q_id join stopped being a fat shuffle
      val exactOk = a.exactShape != Exact.BroadcastQvec || b.exactShape == Exact.BroadcastQvec || {
        val rowBytes = 4L * in.dim + 24L
        val matrix = in.nProbes * (4L * in.dim + 96L)
        b.candBound <= MemoryBudget.broadcastCandMaxRows(hi) &&
          b.candBound * rowBytes <= math.max(matrix, MemoryBudget.fatShuffleFloorBytes(hi))
      }
      Prop(shipRank(b.shipMode) <= shipRank(a.shipMode) &&
        (!a.qsideBroadcast || b.qsideBroadcast) &&
        rerankRank(b.rerankMode) <= rerankRank(a.rerankMode) &&
        exactOk && a.cellsPushed == b.cellsPushed && a.balanced == b.balanced &&
        MemoryBudget.sliceMemoBytes(lo) <= MemoryBudget.sliceMemoBytes(hi)) :|
        s"budget $lo → $hi: $a → $b"
    }
    val res = Test.check(params(400, 13L), prop)
    assert(res.passed, res.status.toString)
  }

  /** Regimes the earlier gate code recorded at default confs (1000-probe
    * batches, quota 10000, rerankK 100). v2: OPTIMIZATION_r19.md's
    * `shipMode=tables` note and r18's 1,477-cell union keeping 98.5 % of
    * the rows; its pair count was not recorded, so the row uses the largest
    * count the tables note allows (4096 × 8 × 256 × 8 B = 64 MiB). v3/v4:
    * PROBES.md r19 (`nPairs`, `dictBytes`, `qsidePayloadBytes`) and r18's
    * unions (15,565 cells keeping 99.6 %; 4,076 keeping 56 %). */
  test("the planner reproduces the regimes recorded at the release shapes") {
    case class Row(name: String, nPairs: Long, unionCells: Int, keep: Double, dim: Int,
        ship: Ship, cellsPushed: Boolean, dictBytes: Long, qsidePayloadBytes: Option[Long])
    val rows = Seq(
      Row("v2", 4096L, 1477, 0.985, 512, Ship.Tables, false, -1L, None),
      Row("v3", 232136L, 15565, 0.996, 512, Ship.HalvesDict, false, 263706496L, Some(8356896L)),
      Row("v4", 16674L, 4076, 0.56, 4096, Ship.HalvesDict, true, 18941664L, None))
    rows.foreach { r =>
      val in = AnnJoinGateReference.Inputs(r.nPairs, r.unionCells, r.keep,
        fanOutRows = 0L, m = 8, sClusters = 256, halfDim = 128, dim = r.dim, rerankK = 100,
        qIdIntegral = true, lookupTable = true, distinctHalves = 0L, nProbes = 1000L)
      val p = plan(in, DefaultBudget)
      assert(p.shipMode === r.ship, r.name)
      assert(p.cellsPushed === r.cellsPushed, r.name)
      assert(p.dictBytes === r.dictBytes, r.name)
      r.qsidePayloadBytes.foreach(b => assert(p.qsidePayloadBytes === b, r.name))
    }
  }

  test("forcing names a decision and one of its values; anything else fails") {
    val base = plan(AnnJoinGateReference.Inputs(10L, 3, 0.1, 100L, 4, 16, 32, 64, 50,
      true, true, 5L, 3L), DefaultBudget)
    val forced = Probe.annJoinForce(Seq("shipMode=projection", "balanced=true",
      "rerankMode=broadcastCand", "exactShape=broadcastQvec"))(base)
    assert(forced === base.copy(shipMode = Ship.Projection, balanced = true,
      rerankMode = Rerank.BroadcastCand, exactShape = Exact.BroadcastQvec))
    Probe.AnnJoinDecisions.foreach { case (name, values) =>
      values.foreach(v => assert(Probe.annJoinForce(Seq(s"$name=$v"))(base).notes(name) === v))
    }
    val badName = intercept[IllegalArgumentException](Probe.annJoinForce(Seq("ship=tables")))
    assert(badName.getMessage.contains("shipMode|cellsPushed"), badName.getMessage)
    val badValue = intercept[IllegalArgumentException](Probe.annJoinForce(Seq("shipMode=px")))
    assert(badValue.getMessage.contains("tables|halvesDict|projection"), badValue.getMessage)
    val noScan = intercept[IllegalArgumentException](Probe.annJoinForce(Seq("rerankMode=scan")))
    assert(noScan.getMessage.contains("lookup|broadcastCand|shuffle"), noScan.getMessage)
    intercept[IllegalArgumentException](Probe.annJoinForce(Seq("shipMode")))
    // the dictionary and the probe matrix are keyed by a long q_id
    intercept[IllegalArgumentException](
      AnnJoinPlan.requireRunnable(base.copy(shipMode = Ship.HalvesDict), qIdIntegral = false))
    intercept[IllegalArgumentException](
      AnnJoinPlan.requireRunnable(base.copy(exactShape = Exact.BroadcastQvec), qIdIntegral = false))
    AnnJoinPlan.requireRunnable(base.copy(shipMode = Ship.HalvesDict,
      exactShape = Exact.BroadcastQvec), qIdIntegral = true)
  }
}
