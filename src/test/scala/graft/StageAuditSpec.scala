package graft

import graft.tools.StageAudit
import graft.core.QueryProfile.StageStat

/** The one-task-collapse criterion on synthetic stage profiles: the
  * flag must fire on the round-18 edit-distance signature (one
  * post-shuffle task burning minutes while everything else is idle)
  * and stay quiet on the benign small-SF shapes that a 32-core sf0.1
  * run produces constantly (low-split scans, AQE-coalesced tiny
  * shuffles, well-spread heavy stages). The live sweep itself runs
  * per-round via `runMain graft.tools.Profile all <sf0.1 dir>`
  * — this spec pins the judgment; ProfileSpec tests the plumbing.
  */
class StageAuditSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val cores = 32

  test("fires on the edit-distance signature: one shuffle-fed task carrying the query") {
    val stats = Seq(
      StageStat(0, 3, 800, 0, "scan"),
      StageStat(1, 32, 2000, 500000, "exchange build"),
      StageStat(2, 1, 900000, 120000, "quadratic verify")) // 15 min, 1 task
    val flag = StageAudit.collapsed(stats, cores)
    assert(flag.isDefined)
    assert(flag.get._1.stageId == 2)
    assert(flag.get._2 > 0.99)
  }

  test("quiet on a low-split SCAN stage (task count bounded by input files, not the plan)") {
    val stats = Seq(
      StageStat(0, 3, 9000, 0, "parquet scan"), // dominant but no shuffle read
      StageStat(1, 32, 2000, 100000, "agg"))
    assert(StageAudit.collapsed(stats, cores).isEmpty)
  }

  test("quiet on an AQE-coalesced tiny shuffle (short task time)") {
    val stats = Seq(
      StageStat(0, 3, 800, 0, "scan"),
      StageStat(1, 3, 1800, 5000, "coalesced window")) // 1.8 s: benign
    assert(StageAudit.collapsed(stats, cores).isEmpty)
  }

  test("quiet on a heavy but well-parallel stage") {
    val stats = Seq(
      StageStat(0, 3, 800, 0, "scan"),
      StageStat(1, 32, 60000, 500000, "verify spread over cores"))
    assert(StageAudit.collapsed(stats, cores).isEmpty)
  }

  test("quiet when the narrow stage is NOT dominant") {
    val stats = Seq(
      StageStat(0, 32, 60000, 500000, "real work"),
      StageStat(1, 1, 6000, 100, "bounded driver-side tail")) // 9% share
    assert(StageAudit.collapsed(stats, cores).isEmpty)
  }
}
