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

  test("entries --collect: the timed action is collect(), with the rows count() reports") {
    // the action of each job's result stage: `JOB <entry> id=<n> <action> at …`
    def run(collect: Boolean): (Probe.EntryRun, Seq[String]) = {
      val out = new java.io.ByteArrayOutputStream
      val Seq(r) = Console.withOut(out) {
        Probe.entries(spark, SparkTestBase.Sf0001, Seq("ts_select_where_in"),
          jobLines = true, collect = collect)
      }
      (r, out.toString("UTF-8").linesIterator
        .filter(_.startsWith("JOB ")).map(_.split(" ")(3)).toSeq)
    }
    // collect first: the warm count run then submits no collect of its
    // own (the engine's catalog snapshot ran in the first run)
    val (collected, collectActions) = run(collect = true)
    val (counted, countActions) = run(collect = false)
    assert(counted.rows > 0 && collected.rows === counted.rows)
    assert(collectActions.lastOption === Some("collect"), collectActions)
    assert(!countActions.contains("collect"), countActions)
  }

  test("entries --jobs: one JOB census line per submitted job, naming its result stage and first graft frame") {
    val out = new java.io.ByteArrayOutputStream
    val Seq(run) = Console.withOut(out) {
      Probe.entries(spark, SparkTestBase.Sf0001, Seq("q1_pricing_summary"),
        jobLines = true)
    }
    val lines = out.toString("UTF-8").linesIterator
      .filter(_.startsWith("JOB ")).toSeq
    assert(lines.size.toLong === run.jobs)
    val line = """JOB q1_pricing_summary id=(\d+) (\S.* at \S+:\d+) (graft\.\S+|-)""".r
    lines.foreach(l => assert(line.matches(l), l))
    val ids = lines.map { case line(id, _, _) => id.toInt }
    assert(ids === ids.sorted && ids.distinct === ids)
    // jobs adaptive execution submits from its own threads are charged
    // to their SQL execution's call stack, so every job names a frame
    assert(lines.forall(l => !l.endsWith(" -")),
      s"every job names the program frame that caused it: $lines")
  }
}
