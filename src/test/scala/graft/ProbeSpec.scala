package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** The dev probe harness, called as a library: the `entries` probe runs
  * an entry the way `graft.Bench` does and reports its counters. */
class ProbeSpec extends AnyFunSuite with SparkTestBase {

  test("entries: one run of an entry reports its rows and jobs, and writes its plan") {
    val out = java.nio.file.Paths.get(
      graft.entries.EntryUtil.scratchDir("graft_probe_plans"))
    val Seq(run) = Probe.entries(spark, SparkTestBase.Sf0001,
      Seq("q1_pricing_summary"), plans = Some((out.toString, "t")))
    assert(run.name === "q1_pricing_summary")
    assert(run.rows > 0)
    assert(run.jobs >= 1)
    assert(run.stages >= 1 && run.tasks >= run.stages)
    val plan = java.nio.file.Files.readString(
      out.resolve("q1_pricing_summary_t.txt"))
    assert(plan.contains("== Physical Plan =="))
  }
}
