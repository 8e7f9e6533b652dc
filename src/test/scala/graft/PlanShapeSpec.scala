package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

import graft.engine.Engine
import graft.query.Ast._

/** Physical-plan shape guards: the properties that make these plans hold
  * at 100 TB, asserted structurally so a refactor cannot silently regress
  * them. (The reference gets these by construction from its hardwired
  * planner; here they are Catalyst outcomes we pin down.) */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private lazy val ctx = rampContext(Seq(1, 2, 3), 100, 300)
  private lazy val engine = new Engine(ctx)

  /** Parquet-backed variant: LocalRelation fixtures get folded away by
    * ConvertToLocalRelation, so pushdown-visibility tests need real scans. */
  private lazy val pqEngine: Engine = {
    val dir = java.nio.file.Files.createTempDirectory("graft_planshape").toString
    ctx.samples.write.mode("overwrite").parquet(s"$dir/samples")
    ctx.series.write.mode("overwrite").parquet(s"$dir/series")
    ctx.samples.selectExpr("series_id", "ts", "CAST(value AS STRING) AS body")
      .write.mode("overwrite").parquet(s"$dir/events")
    new Engine(graft.model.TsdbContext(spark,
      spark.read.parquet(s"$dir/series"),
      spark.read.parquet(s"$dir/samples"),
      spark.read.parquet(s"$dir/events")))
  }

  /** Pre-AQE physical plan (structurally inspectable). It is taken
    * before exchanges are inserted, so exchange checks use [[prepared]]. */
  private def plan(df: DataFrame): SparkPlan = df.queryExecution.sparkPlan

  /** The physical plan with its exchanges, as adaptive execution starts
    * from it (its initial plan; before any query stage runs). */
  private def prepared(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case other => other
    }

  test("select: ids inline or broadcast; facts never shuffle") {
    // a small resolution becomes a filter on the fact scan: no join at
    // all, and the small answer sorts in one task, so no exchange at all
    val df = engine.select(SelectQuery("test", TimeRange(100, 300)))
    val p = plan(df)
    assert(p.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      .isEmpty, s"an inline resolution must not join:\n$p")
    val pe = prepared(df)
    assert(pe.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"an inline selection must plan no exchange:\n$pe")
    // more resolved series than Engine.MaxInlineSeries: the catalog join
    // broadcasts, and its streamed (fact) side has no shuffle below it
    val wide = new Engine(rampContext(1 to Engine.MaxInlineSeries + 1, 100, 102))
    val pw = plan(wide.select(SelectQuery("test", TimeRange(100, 300))))
    val joins = pw.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, s"an over-bound resolution should broadcast:\n$pw")
    val factSide = joins.last.left
    assert(factSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"fact side must not shuffle for selection:\n$factSide")
  }

  test("inline resolution: no Spark job to plan; In(series_id) pushed") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val q = SelectQuery("test", TimeRange(100, 300))
    pqEngine.select(q).queryExecution.sparkPlan // first use snapshots the catalog
    var df: DataFrame = null
    assert(jobsOf { df = pqEngine.select(q); df.queryExecution.executedPlan }
      === 0L, "resolving series must not run a Spark job")
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case other => other
    }
    assert(exec.collect { case b: BroadcastExchangeExec => b }.isEmpty,
      s"an inline resolution must not broadcast:\n$exec")
    val scans = fileScans(df)
    assert(scans.size === 1 && filtersSeriesIds(scans.head),
      s"the fact scan must carry In(series_id): $scans")
    assert(collectSeries(df) === collectSeries(engine.select(q)))
  }

  test("resolved-id join flips to a shuffle join above the catalog broadcast ceiling; answers unchanged") {
    // the knnSeedProbe discipline (loud, documented ceiling) applied to
    // the engine's one remaining unguarded broadcast: with the catalog
    // over Engine.MaxBroadcastSeries (test ceiling: 2 rows), every
    // resolved-id join plans WITHOUT a broadcast — a match-all `where`
    // over a 10⁸-series catalog costs one extra exchange of the reduced
    // fact side instead of an executor-memory blowup
    val q = SelectQuery("test", TimeRange(100, 300))
    val capped = new Engine(ctx, maxBroadcastSeries = 2L)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    // Catalyst would re-broadcast the tiny TEST catalog on size grounds
    // and hide the strategy flip; in the real over-ceiling regime the
    // catalog exceeds this threshold too
    spark.conf.set(key, "-1")
    try {
      val p = plan(capped.select(q))
      assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
        s"over the ceiling the resolved-id join must not broadcast:\n$p")
      assert(p.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        }.nonEmpty, s"expected a shuffle join over the ceiling:\n$p")
      assert(collectSeries(capped.select(q)) ===
        collectSeries(engine.select(q)),
        "the strategy flip must not change answers")
    } finally spark.conf.set(key, prev)
  }

  test("aggregate: partial (map-side) aggregation precedes the final aggregate") {
    val p = plan(engine.aggregate(AggregateQuery(Seq("test" -> AggFunc.Sum))))
    val aggs = p.collect { case a: BaseAggregateExec => a }
    assert(aggs.size >= 2, s"expected partial+final aggregation:\n$p")
  }

  test("group-aggregate keys on (series, bin): partials collapse before the shuffle") {
    val q = GroupAggregateQuery(Seq("test"), Seq(AggFunc.Min, AggFunc.Max),
      step = 50, range = TimeRange(100, 300))
    val p = plan(engine.groupAggregate(q))
    val aggs = p.collect { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, s"expected partial+final hash aggregation:\n$p")
  }

  test("value + ts-range filters reach the parquet scan as PushedFilters") {
    val q = SelectQuery("test", TimeRange(100, 300),
      filter = Some(ValueFilter(gt = Some(15.0))))
    val scans = fileScans(pqEngine.select(q))
    assert(scans.size === 1, s"one fact scan expected: $scans")
    val fact = scans.head
    val pushed = fact.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(ts,100)") &&
        pushed.contains("GreaterThan(value,15.0)") && filtersSeriesIds(fact),
      s"ts range, value and series_id predicates should reach the parquet reader: $pushed")
  }

  test("ordered answers: one-task sort below the size gate, range sort above it, top-k with a limit") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{CoalesceExec, SortExec,
      TakeOrderedAndProjectExec}
    val q = SelectQuery("test", TimeRange(100, 300))
    pqEngine.select(q).queryExecution.sparkPlan // first use snapshots the catalog
    def exchanges(df: DataFrame) =
      prepared(df).collect { case e: ShuffleExchangeExec => e }
    // below the gate (the session's 128 MB one-task read): the parquet
    // select coalesces to one partition and sorts there — no exchange,
    // so no range-sort sampling job; the scan and the sort are one job
    val small = pqEngine.select(q)
    val ps = prepared(small)
    assert(exchanges(small).isEmpty &&
        ps.collect { case c: CoalesceExec if c.numPartitions == 1 => c }.nonEmpty &&
        ps.collect { case s: SortExec => s.global } === Seq(false),
      s"a small ordered answer must sort in one task:\n$ps")
    var rows: Seq[(String, Long, Double)] = Nil
    assert(jobsOf { rows = collectSeries(small) } === 1L)
    // above the gate (a 4 KB read size, below this answer's ~12 KB
    // estimate, stands in for an answer too big for one task): the
    // range sort, its sampling job included
    val (big, bigRows, bigJobs) = withSessionConf(MaxPartitionBytes, "4096") {
      val df = pqEngine.select(q)
      var got: Seq[(String, Long, Double)] = Nil
      val n = jobsOf { got = collectSeries(df) }
      (df, got, n)
    }
    assert(exchanges(big).map(_.outputPartitioning).exists(
        _.isInstanceOf[RangePartitioning]) &&
        prepared(big).collect { case s: SortExec => s.global } === Seq(true),
      s"a large ordered answer must keep the range sort:\n${prepared(big)}")
    // the sampler's sketch job, the range exchange's map stage and the
    // result; below the gate only the result job ran
    assert(bigJobs === 3L)
    assert(bigRows === rows && rows.nonEmpty)
    // a page keeps the take-ordered top-k and its one job
    val page = pqEngine.select(q.copy(limit = Some(5)))
    assert(prepared(page).collect { case t: TakeOrderedAndProjectExec => t }
      .nonEmpty, s"a limit must plan a top-k:\n${prepared(page)}")
    assert(jobsOf(page.collect()) === 1L)
  }

  test("limit compiles to a limit/top-k operator, not full materialization") {
    val q = SelectQuery("test", TimeRange(100, 300), limit = Some(5))
    val p = plan(engine.select(q)).toString
    assert(p.contains("Limit") || p.contains("TakeOrdered"), p)
  }

  test("spatial kNN plans as TakeOrderedAndProject (top-k heap, no full sort)") {
    val p = plan(graft.spatial.Spatial.knn(ctx.series, 0, 0, 5)).toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("events regex filter evaluates at the events scan") {
    // the events file carries the catalog's `test` ids; the regex runs in
    // the filter directly over the events scan, beside the pushed ids
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    val q = SelectEventsQuery("test", TimeRange(100, 300), regex = Some("1.*"))
    val df = pqEngine.selectEvents(q)
    val atScan = plan(df).collect {
      case f @ FilterExec(_, s: FileSourceScanExec) => (f, s)
    }
    assert(atScan.size === 1 &&
        atScan.head._1.condition.sql.contains("RLIKE") &&
        filtersSeriesIds(atScan.head._2),
      s"regex and resolved ids should evaluate at the events scan:\n${plan(df)}")
    val bodies = df.collect().map(_.getString(2))
    assert(bodies.nonEmpty && bodies.forall(_.contains("1")))
    // an unresolved name answers empty
    assert(pqEngine.selectEvents(q.copy(metric = "!test")).collect().isEmpty)
  }

  test("heavy-hitters planning runs no Spark job (total folded into the plan)") {
    import spark.implicits._
    val df = Seq(("a", 1L, 10.0), ("b", 2L, 1.0)).toDF("series", "ts", "value")
    assert(jobsOf(graft.ops.ApplyNodes.node(df,
        ApplySpec("heavy-hitters", Map("portion" -> 0.1, "error" -> 0.01)),
        Seq("value"))) === 0L,
      "building the heavy-hitters plan must not trigger an action (was a .first())")
  }

  test("embedding near-dup default plans as a bucket equi-join, never nested-loop") {
    import spark.implicits._
    val vecs = (1 to 40).map(i =>
      (i.toLong, Array.tabulate(8)(d => if ((i + d) % 2 == 0) 0.5f else -0.5f)))
      .toDF("id", "embedding")
    val p = plan(graft.pipeline.Dedup
      .embeddingDupPairsBucketed(vecs, "id", "embedding", threshold = 0.9)).toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"bucketed near-dup must not plan an all-pairs join:\n$p")
    // sanity: the exact baseline is the nested-loop form
    val pe = plan(graft.pipeline.Dedup
      .embeddingDupPairsExact(vecs, "id", "embedding", threshold = 0.9)).toString
    assert(pe.contains("BroadcastNestedLoopJoin"), pe)
  }

  test("rollup serving plan shapes: aligned reads no parquet; sparse abstains to raw") {
    // real testdata: the hourly rollup + cached catalog are in-memory, so
    // the fully-aligned entry's plan must contain NO parquet scan at all,
    // while the sparse (density-abstained) unaligned entry must read the
    // raw fact parquet — the two regimes the density guard separates
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val dir = "/root/testdata/sf0.001"
    // collect does not descend into InMemoryRelation's cached BUILD plan,
    // so a FileSourceScanExec hit means the query itself reads parquet
    def shape(name: String): (Int, Int) = {
      val p = SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan
      (p.collect { case s: FileSourceScanExec => s }.size,
        p.collect { case s: InMemoryTableScanExec => s }.size)
    }
    val (alignedPq, alignedMem) = shape("ts_group_aggregate_rollup_aligned")
    assert(alignedPq === 0, "aligned rollup serving must not touch parquet")
    assert(alignedMem >= 1, "aligned rollup serving must read the cached rollup")
    val (abstainedPq, _) = shape("ts_group_aggregate_rollup")
    assert(abstainedPq >= 1, "sparse data must abstain to the raw parquet scan")
    val (fanInPq, fanInMem) = shape("ts_group_aggregate_rollup_groupby_aligned")
    assert(fanInPq === 0 && fanInMem >= 1,
      "aligned group-by-tag composition must also serve rollup-only")
    val (aggPq, aggMem) = shape("ts_agg_rollup")
    assert(aggPq === 0 && aggMem >= 1,
      "whole-history aggregate must serve from the rollup alone")
  }

  test("layout-served entries: partition pruning on select, no hash exchange on join") {
    val dir = "/root/testdata/sf0.001"
    // the persisted layout's metric directory partitioning must reach the
    // scan as PartitionFilters (directories pruned before any I/O)
    val sel = SparkEntry.queries("ts_layout_select")(spark, dir)
      .queryExecution.executedPlan.toString
    // the range must ALSO bound the ts_day partition column INSIDE the
    // PartitionFilters clause (two-level pruning: a range query touches
    // only its days' directories) — a ts_day predicate that degrades to a
    // post-scan row Filter would still contain the string but prune nothing
    val partFilters = "PartitionFilters: \\[[^\\]]*".r.findAllIn(sel).toSeq
    assert(partFilters.exists(f => f.contains("metric") && f.contains("ts_day")),
      s"layout select must prune metric AND ts_day partitions at the scan:\n$sel")
    // the bucketed table's tagkey bucketing makes join ALIGNMENT
    // exchange-free: a bucketing regression inserts Exchange
    // hashpartitioning(tagkey, ts) above the fact scan. The broadcast
    // side's catalog-derivation exchanges (series_id/user) are bounded by
    // catalog size and legitimate. AdaptiveSparkPlanExec hides its
    // subtree from collect (same caveat as the asof pin) — match the
    // rendered tree instead
    val join = SparkEntry.queries("ts_layout_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!join.contains("hashpartitioning(tagkey"),
      s"bucketed join alignment must plan without a hash exchange:\n$join")
    assert(join.contains("Coalesce 1") && !join.contains("rangepartitioning"),
      s"sanity: the rendered plan should still show the answer's one-task sort:\n$join")
    // statements ride the same two-level pruning: the quantile
    // statement's fact scan must carry metric AND ts_day inside
    // PartitionFilters (its oracle checks only the answer, which is
    // identical whether pruning happened or degraded to a row filter)
    val quant = SparkEntry.queries("ts_layout_quantile")(spark, dir)
      .queryExecution.executedPlan.toString
    val qFilters = "PartitionFilters: \\[[^\\]]*".r.findAllIn(quant).toSeq
    assert(qFilters.exists(f => f.contains("metric") && f.contains("ts_day")),
      s"layout quantile must prune metric AND ts_day partitions at the scan:\n$quant")
  }

  test("two-tier reads: partition filters reach BOTH tiers' scans, samples and events") {
    // the union read (batch ∪ above-watermark L0) must not cost the
    // pruning either side had alone: a narrow statement over the
    // two-tier database planss with metric AND ts_day inside
    // PartitionFilters on EVERY parquet fact scan — batch directory
    // and stream-sink directory alike. The entries pin answers; this
    // pins the plan property that makes them cheap at 100 TB.
    val dir = "/root/testdata/sf0.001"
    def partFilterScans(plan: String): Seq[String] =
      "PartitionFilters: \\[[^\\]]*".r.findAllIn(plan).toSeq
    // samples: the three-provenance db (batch + compacted + live L0)
    val sel = graft.entries.EntryUtil.engineL0DbFor(spark, dir).execute(
      """{"select": "purchase",
          "range": {"from": "20240118T000000", "to": "20240127T000000"}}""")
      .queryExecution.executedPlan.toString
    val sScans = partFilterScans(sel)
      .filter(f => f.contains("metric") && f.contains("ts_day"))
    assert(sScans.size >= 2,
      s"both samples tiers must prune metric AND ts_day (saw ${sScans.size}):\n$sel")
    // events: the streamed+compacted events db
    val ev = graft.entries.EntryUtil.engineEventsL0DbFor(spark, dir).execute(
      """{"select-events": "!log",
          "range": {"from": "20240118T000000", "to": "20240127T000000"}}""")
      .queryExecution.executedPlan.toString
    val eScans = partFilterScans(ev)
      .filter(f => f.contains("metric") && f.contains("ts_day"))
    assert(eScans.size >= 2,
      s"both events tiers must prune metric AND ts_day (saw ${eScans.size}):\n$ev")
  }

  test("catalog-union resolution: stream-registered series cost no fact-side shuffle and keep pruning") {
    // the new-series database resolves ids through series parquet ∪
    // catalog_l0 (anti-join) — all catalog-sized frames, snapshotted
    // once. The plan must show (a) the resolved ids reaching both fact
    // scans inline as In(series_id), never a fact-side hash exchange,
    // and (b) metric+ts_day partition
    // filters still reaching both fact tiers' scans: registration
    // growth must not cost the scan anything at 100 TB.
    val dir = "/root/testdata/sf0.001"
    val df = graft.entries.EntryUtil.engineNewSeriesDbFor(spark, dir)
      .execute(
        """{"select": "purchase",
            "range": {"from": "20240118T000000", "to": "20240127T000000"}}""")
    val plan = df.queryExecution.executedPlan.toString
    val scans = fileScans(df).filter(f =>
      Set("metric", "ts_day").subsetOf(prunedPartitionCols(f)))
    assert(scans.size >= 2,
      s"both fact tiers must keep metric AND ts_day pruning under the " +
        s"unioned catalog (saw ${scans.size}):\n$plan")
    assert(scans.forall(filtersSeriesIds),
      s"resolved ids must reach both fact scans as In(series_id):\n$plan")
    // no exchange may repartition a fact-sized frame. Robust to plan
    // print order: inspect every hash exchange's OWN partitioning
    // columns — a fact-side shuffle necessarily keys on fact columns
    // (ts/value), while the catalog_l0 dedup's legitimate exchange
    // keys on catalog columns only
    val hashExchanges =
      "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(plan).toSeq
    val factShuffles = hashExchanges.filter(e =>
      e.contains("ts#") || e.contains("value#"))
    assert(factShuffles.isEmpty,
      s"the fact side must not hash-shuffle under the unioned catalog " +
        s"($factShuffles):\n$plan")
  }

  test("stream-built rollup actually serves: no parquet scan reads sample values") {
    // the closed-loop entry's oracle is the raw-scan answer, so a silent
    // fallback to raw (schema drift in TsdbStream.rollupBuild, guard
    // tweak, registration bug) would stay green while un-proving the
    // feature. Pin it structurally: in the served plan the only parquet
    // reads are catalog derivation (event_type/user_id columns) — a raw
    // fallback would scan the fact columns, including `value`
    import org.apache.spark.sql.execution.FileSourceScanExec
    val p = SparkEntry.queries("stream_rollup_serve")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    val valueScans = p.collect { case s: FileSourceScanExec => s }
      .filter(_.output.exists(_.name == "value"))
    assert(valueScans.isEmpty,
      s"aligned serving from the stream-built rollup must not scan raw sample values:\n$valueScans")
  }

  test("persisted-kmv distinct entries actually serve: no scan reads sample values") {
    // the engineKmvFor entries share the scan path's oracle, so a guard
    // tweak or registration drift that made servedDistinctKmv abstain
    // would silently fall back to the full fact scan and stay green —
    // the same failure mode the stream-rollup pin guards against
    import org.apache.spark.sql.execution.FileSourceScanExec
    for (name <- Seq("ts_distinct_json_kmv", "ts_distinct_step_kmv")) {
      val p = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.sparkPlan
      val valueScans = p.collect { case s: FileSourceScanExec => s }
        .filter(_.output.exists(_.name == "value"))
      assert(valueScans.isEmpty,
        s"$name must serve from the registered kmv index, not rescan:\n$valueScans")
    }
  }

  test("stream-built histogram actually serves the quantile statement: no value scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val p = SparkEntry.queries("stream_quantile_serve")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    val valueScans = p.collect { case s: FileSourceScanExec => s }
      .filter(_.output.exists(_.name == "value"))
    assert(valueScans.isEmpty,
      s"the statement must serve from the stream-built histogram, not rescan:\n$valueScans")
  }

  test("stream-built kmv index actually serves: no parquet scan reads sample values") {
    // same discipline as the stream-rollup pin: the entry shares the
    // batch scan's oracle, so a silent fallback to the scan (win-rescale
    // drift, guard tweak, registration bug) would stay green while
    // un-proving the serving path. A raw fallback would scan `value`.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val p = SparkEntry.queries("stream_distinct_serve")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    val valueScans = p.collect { case s: FileSourceScanExec => s }
      .filter(_.output.exists(_.name == "value"))
    assert(valueScans.isEmpty,
      s"the statement must serve from the stream-built kmv index, not rescan:\n$valueScans")
  }

  test("group-by rollup combine reads only the pruned accumulator columns") {
    // the min/max/cnt group-by-tag composition must prune the 10-column
    // accumulator down to {cnt, vmin, vmax} BEFORE the cross-series
    // combine: the cached rollup's in-memory scan is the measurable
    // boundary — if the full accumulator (4 struct-ordering aggs included)
    // travelled the combine, its output would show all 10 columns
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("ts_group_aggregate_rollup_groupby_aligned",
                     "ts_group_aggregate_rollup_aligned")) {
      val p = SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan
      val rollupScans = p.collect { case s: InMemoryTableScanExec => s }
        .filter(_.output.exists(_.name == "bin")) // the rollup cache, not the catalog
      assert(rollupScans.nonEmpty, s"$name must read the cached rollup")
      rollupScans.foreach { s =>
        assert(s.output.map(_.name).toSet === Set("series_id", "bin", "cnt", "vmin", "vmax"),
          s"$name must prune accumulators to the needed set, saw: ${s.output.map(_.name)}")
      }
    }
  }

  test("rollup ladder: the 7d-step query reads the DAY level only (not hour, not raw)") {
    // persisted hour→day→week ladder with UNCACHED parquet reads, so the
    // level actually scanned is visible as a FileSourceScanExec path: the
    // engine tries levels coarsest-first (the reference answers from the
    // highest covering subtree, nbtree.h:457) — the WEEK level is
    // eligible for a 7d step but abstains (epoch-week bins sit 4 days out
    // of phase with the from-anchored query bins: zero interior bins), so
    // the plan must fall through to the DAY level, never week/hour/raw
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val dir = "/root/testdata/sf0.001"
    val ctx = graft.model.TsdbContext.fromTestdata(spark, dir)
    val hourNs = 3600L * 1000000000L
    val dayNs = 24L * hourNs
    val weekNs = 7L * dayNs
    val base = java.nio.file.Files.createTempDirectory("graft_ladder_spec")
    val hourPath = base.resolve("rollup_1h").toString
    val dayPath = base.resolve("rollup_1d").toString
    val weekPath = base.resolve("rollup_1w").toString
    graft.engine.Rollup.write(ctx.samples, hourPath, hourNs)
    graft.engine.Rollup.compact(spark, hourPath, dayPath, hourNs, dayNs)
    graft.engine.Rollup.compact(spark, dayPath, weekPath, dayNs, weekNs)
    // catalog cached (as every deployment's is) so the only file scan
    // left in a ladder-served plan is the rollup level itself
    val eng = new Engine(ctx.copy(series = ctx.series.cache(),
      rollups = Seq(
        hourNs -> spark.read.parquet(hourPath),
        dayNs -> spark.read.parquet(dayPath),
        weekNs -> spark.read.parquet(weekPath))))
    val df = eng.execute(
      """{"group-aggregate": {"metric": "purchase", "step": "7d",
                              "func": ["min", "max", "cnt"]},
          "range": {"from": "20240101T000000", "to": "20240330T000000"}}""")
    val scans = df.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
    assert(scans.size === 1, s"exactly one file scan (the day rollup), saw:\n$scans")
    assert(scans.head.toString.contains("rollup_1d"),
      s"the scan must read the DAY rollup:\n${scans.head}")
    // and the registered entry (cached ladder) serves without parquet
    val p = SparkEntry.queries("ts_group_aggregate_rollup_ladder")(spark, dir)
      .queryExecution.sparkPlan
    assert(p.collect { case s: FileSourceScanExec => s }.isEmpty,
      "cached ladder serving must not touch parquet")
    assert(p.collect { case s: InMemoryTableScanExec => s }.nonEmpty,
      "cached ladder serving must read the cached rollup")
  }

  test("TPC-H shapes: dimensions broadcast; no shuffle below the dim joins") {
    // Q5: four dimension joins must all be broadcast-hash; the only
    // exchange allowed under them is none (lineitem-orders is the one
    // shuffle, above), so dimension lookups never move the fact table
    val p = SparkEntry.queries("q5_local_supplier")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    val bjoins = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bjoins.size >= 4, s"expected 4 broadcast dim joins:\n$p")
    bjoins.foreach { j =>
      // assert on the STREAMED side specifically — the build side always
      // holds a BroadcastExchange and never a shuffle, so an either-side
      // disjunction would be vacuously true
      val streamed = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
      }
      assert(streamed.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"a dimension join must stream the fact side unshuffled:\n$j")
    }
    val p3 = SparkEntry.queries("q3_shipping_priority")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    assert(p3.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"customer dimension must broadcast in Q3:\n$p3")

    // Q17: the correlated per-part avg decorrelates to a single lineitem
    // pass — the brand filter broadcasts BELOW the one hash shuffle (the
    // per-part window), so lineitem is cut 25x before any data moves
    // executedPlan STRING for the exchange counts: EnsureRequirements
    // only inserts exchanges into the prepared plan, and
    // AdaptiveSparkPlanExec hides its subtree from collect
    val p17 = SparkEntry.queries("q17_small_qty_revenue")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p17.contains("BroadcastHashJoin"),
      s"the brand part filter must broadcast in Q17:\n$p17")
    assert("hashpartitioning\\(".r.findAllIn(p17).size == 1,
      s"Q17 must shuffle lineitem exactly once (the per-part window):\n$p17")
    assert("lineitem\\.parquet".r.findAllIn(p17).size == 1,
      s"Q17 must scan lineitem exactly once (decorrelated):\n$p17")

    // Q18: the HAVING set (one partial-aggregated rollup = the only hash
    // shuffle) broadcasts through both joins — orders and customer stream
    // unshuffled — and the top-k is TakeOrdered, never a global sort
    val p18 = SparkEntry.queries("q18_large_volume")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p18).size >= 2,
      s"Q18 must broadcast the HAVING set through both joins:\n$p18")
    assert("hashpartitioning\\(".r.findAllIn(p18).size == 1,
      s"Q18's only hash shuffle is the lineitem rollup:\n$p18")
    assert(p18.contains("TakeOrderedAndProject"),
      s"Q18 top-k must plan as TakeOrderedAndProject:\n$p18")
  }

  test("asof-join: ONE hash shuffle (the tag-key window), never a per-row probe join") {
    import org.apache.spark.sql.functions.{col, concat, expr, lit}
    val q = graft.query.Ast.AsofJoinQuery("test", "test2", TimeRange(100, 300))
    val ctx2 = {
      // second metric alongside the ramp fixture
      val s = ctx.samples
      val extra = s.withColumn("series_id", col("series_id") + 1000000L)
      ctx.copy(
        series = ctx.series.unionByName(ctx.series
          .withColumn("series_id", col("series_id") + 1000000L)
          .withColumn("metric", lit("test2"))
          .withColumn("name", concat(lit("test2"), expr("substr(name, 5)")))),
        // multi-partition input: a single-partition LocalRelation would
        // satisfy the window's clustering trivially and hide the exchange
        samples = s.unionByName(extra).repartition(4))
    }
    // executedPlan string: EnsureRequirements inserts the window's
    // exchange only in the prepared plan, and AdaptiveSparkPlanExec hides
    // its subtree from collect — match the rendered tree instead
    val p = new Engine(ctx2).asofJoin(q).queryExecution.executedPlan.toString
    // the ALIGNMENT itself costs exactly one hash exchange — the window's
    // partitioning on the tag key (this fixture derives its catalog via
    // aggregation, adding broadcast-sized catalog exchanges a real
    // deployment's cached catalog doesn't have)
    val alignShuffles = "hashpartitioning\\(__tk".r.findAllIn(p).size
    assert(alignShuffles === 1,
      s"asof alignment must cost exactly one tag-key exchange:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no per-row probe join:\n$p")
  }

  test("semDedup: in-row assignment; the near-dup search is a cell equi-join, not NLJ") {
    import spark.implicits._
    val corpus = (1L to 60L).map(i => (i, Array(i.toFloat, (i % 7).toFloat)))
      .toDF("id", "embedding")
    val centers = Seq((0, Seq(10.0, 3.0)), (1, Seq(50.0, 3.0)))
    val p = plan(graft.pipeline.Similarity.semDedup(corpus, centers, threshold = 0.9))
    graft.ScopedCache.release()
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty,
      s"the candidate search must be the cell equi-join, never a per-row probe:\n$p")
    // the assignment is the in-row codegen kernel over plan-constant
    // centers — a pure map; no crossJoin multiplies the corpus by nlist
    // and no exchange carries a vector to a per-id window (r14)
    assert(p.toString.contains("vec_nearest_cells"),
      s"the cell assignment must be the in-row kernel:\n$p")
    assert(!p.toString.contains("CartesianProduct"),
      s"no corpus × centers cross join:\n$p")
  }

  test("DSIR: the log-ratio table broadcasts onto doc buckets (no corpus re-shuffle)") {
    import spark.implicits._
    val raw = (1L to 40L).map(i => (i, s"alpha beta doc $i gamma")).toDF("doc_id", "text")
    val target = Seq((99L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val p = plan(graft.pipeline.TextOps.dsirWeights(raw, target, "doc_id", "text"))
    graft.ScopedCache.release()
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"the bucket log-ratio table must broadcast:\n$p")
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"no per-row probe join:\n$p")
  }

  test("contamination: the benchmark side broadcasts (corpus never shuffles to meet it)") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"doc $i words alpha beta gamma $i"))
      .toDF("doc_id", "text")
    val bench = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val p = plan(graft.pipeline.TextOps
      .contamination(docs, "doc_id", "text", bench, "text"))
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"benchmark shingle set must broadcast:\n$p")
  }

  test("chunking is one shuffle-free projection per document") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, (1 to 50).map(w => s"w$w").mkString(" ")))
      .toDF("doc_id", "text")
    val p = plan(graft.pipeline.TextOps.chunk(docs, "doc_id", "text", 16, 4))
    assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"chunking must not shuffle:\n$p")
  }

  test("stratified sample: rate table broadcasts; corpus side unshuffled") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"text $i", if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "lang")
    val p = plan(graft.pipeline.TextOps
      .stratifiedSample(docs, "text", "lang", Map("a" -> 0.5)))
    assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"sampling is a map-side filter — no shuffle anywhere:\n$p")
  }

  test("exact-k per stratum pushes a map-side group limit below the shuffle") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"text body $i", s"src${i % 4}"))
      .toDF("doc_id", "text", "source")
    val out = graft.pipeline.TextOps
      .sampleKPerStratum(docs, "doc_id", "text", "source", k = 3)
    // Spark 4 plans rank<=k as WindowGroupLimit: each map task keeps k rows
    // per stratum BEFORE the exchange — the property that makes a skewed
    // stratum cost k rows per task instead of its full size
    val p = out.queryExecution.executedPlan
    assert(p.toString.contains("WindowGroupLimit"),
      s"expected a pushed window group limit:\n$p")
    assert(out.count() === 12)
  }

  test("jaccard default hot-shingle cap prunes boilerplate fan-out") {
    import spark.implicits._
    // 150 docs sharing identical boilerplate + one unique word each: every
    // boilerplate shingle is shared by all 150 docs (> default cap 128)
    val boiler = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = (1 to 150).map(i => (i.toLong, s"$boiler unique$i")).toDF("doc_id", "text")
    val withDefault = graft.pipeline.Dedup
      .jaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
    assert(withDefault.count() === 0,
      "default cap must drop boilerplate shingles before the self-join")
    val uncapped = graft.pipeline.Dedup
      .jaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5,
        maxShingleFreq = None)
    assert(uncapped.count() > 0, "sanity: without the cap the pairs exist")
  }

  test("minhash signatures are in-row: band construction shuffles nothing") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, (1 to 12).map(w => s"w${(i + w) % 9}").mkString(" ")))
      .toDF("doc_id", "text")
    // the persistable LSH index rows are a pure projection of the scan —
    // the |docs × shingles| signature exchange of the groupBy form is gone
    val p = plan(graft.pipeline.Dedup.minhashBands(docs, "doc_id", "text",
      k = 3, numPerm = 32, bands = 8))
    assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"in-row signature must not shuffle:\n$p")
  }

  test("packed bloom contamination is in-row: no shuffle, no join, no aggregate") {
    import spark.implicits._
    val bench = Seq((1L, (1 to 10).map(w => s"b$w").mkString(" ")))
      .toDF("doc_id", "text")
    val docs = (1L to 30L).map(i =>
      (i, (1 to 12).map(w => s"w${(i + w) % 9}").mkString(" ")))
      .toDF("doc_id", "text")
    val m = 1 << 12
    val bits = graft.pipeline.TextOps.packBloom(
      graft.pipeline.TextOps.bloomBits(bench, "text", k = 3, mBits = m,
        numHashes = 4), m)
    // the join form's (doc × shingle × probe) explosion, broadcast join
    // and two doc-keyed aggregations fold into one kernel call against
    // the 16 KiB literal bitset — the probe is a pure projection of the
    // corpus scan (and therefore stateless on a stream)
    val p = plan(graft.pipeline.TextOps.contaminationBloomPacked(docs,
      "doc_id", "text", bits, k = 3, mBits = m, numHashes = 4))
    assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"packed bloom probe must not shuffle:\n$p")
    assert(!p.toString.contains("Join"),
      s"packed bloom probe must not join:\n$p")
    assert(!p.toString.contains("HashAggregate"),
      s"packed bloom probe must not aggregate:\n$p")
  }

  test("simhash fingerprints are in-row: one kernel call, no shuffle, no aggregate") {
    import spark.implicits._
    val docs = (1L to 30L).map(i => (i, (1 to 12).map(w => s"w${(i + w) % 9}").mkString(" ")))
      .toDF("doc_id", "text")
    // the per-bit vote folds inside the compiled kernel — the exploded
    // words × 60 rows + two-groupBy form is gone; the fingerprint is a
    // pure projection of the document scan
    val p = plan(graft.pipeline.Dedup.simhash(docs, "doc_id", "text"))
    assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"in-row simhash must not shuffle:\n$p")
    assert(!p.toString.contains("HashAggregate"),
      s"in-row simhash must not aggregate:\n$p")
  }

  test("incremental dedup: every corpus participation is a broadcast probe") {
    import spark.implicits._
    val docs = (1L to 60L).map(i => (i, (1 to 15).map(w => s"w${(i * 7 + w) % 23}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.pipeline.Dedup.dedupAgainstCorpus(
      docs.where($"doc_id" % 5 =!= 0), docs.where($"doc_id" % 5 === 0),
      "doc_id", "text")
    // string-walk the plan: executedPlan is an AdaptiveSparkPlanExec
    // wrapper whose inner tree collect() does not traverse
    val p = out.queryExecution.executedPlan.toString
    // no sort-merge join anywhere: the corpus side meets the (bounded,
    // broadcast) batch only through broadcast hash joins, so no corpus-
    // sized rows are ever exchanged to align with the batch
    assert(!p.contains("SortMergeJoin"),
      s"corpus must meet the batch via broadcast only:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"expected broadcast probes for exact/candidates/verify/result:\n$p")
    graft.ScopedCache.release()
  }

  test("incremental simhash: the index meets the batch via broadcast only") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = (1L to 60L).map(i =>
        (i, (1 to 15).map(w => s"w${(i * 7 + w) % 23}").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_sh_idx").toString
    graft.pipeline.Dedup.writeSimhashIndex(
      docs.where($"doc_id" % 5 =!= 0), dir, "doc_id", "text")
    val out = graft.pipeline.Dedup.simhashAgainstIndex(
      spark.read.parquet(s"$dir/simhash"),
      docs.where($"doc_id" % 5 === 0), "doc_id", "text")
    val p = out.queryExecution.executedPlan.toString
    // the corpus-sized index side is only ever STREAMED through
    // broadcast probes of the (bounded) batch — no shuffle aligns it
    assert(!p.contains("SortMergeJoin"),
      s"index must meet the batch via broadcast only:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected broadcast probes for candidates/verify/result:\n$p")
    // and the only file scans are the index parquet (the batch is an
    // in-memory frame here) — corpus text is never re-read
    val scans = out.queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }
    assert(scans.forall(_.metadata("Location").contains("graft_sh_idx")),
      s"only the fingerprint index may be scanned:\n$scans")
    graft.ScopedCache.release()
  }

  test("persisted quantile histogram: serving reads only the index parquet") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_hist_pin").toString
    val samples = (1 to 500).map(i => ("s", i.toLong, (i * 37 % 100) / 3.0))
      .toDF("name", "ts", "value")
    graft.ops.HistQuantiles.histogram(
        samples.withColumn("w", $"ts" % 5), Seq("name", "w"))
      .write.parquet(s"$dir/hist")
    val served = graft.ops.HistQuantiles.quantiles(
      graft.ops.HistQuantiles.merge(
        spark.read.parquet(s"$dir/hist"), Seq("name")),
      Seq("name"), Seq("0.5", "0.99"))
    // the raw samples never appear: every file scan is the index parquet
    val scans = plan(served).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty &&
      scans.forall(_.metadata("Location").contains("graft_hist_pin")),
      s"serving must read only the persisted histogram:\n$scans")
    // and the served answers equal the in-session build's
    val direct = graft.ops.HistQuantiles.quantiles(
      graft.ops.HistQuantiles.histogram(samples, Seq("name")),
      Seq("name"), Seq("0.5", "0.99"))
    assert(served.orderBy("p").collect().toSeq ===
      direct.orderBy("p").collect().toSeq)
  }

  test("interpolation join: one hash exchange, both direction windows share it") {
    import spark.implicits._
    val right = (1L to 40L).map(i => ("a", i * 10L, i.toDouble)).toDF("name", "ts", "value")
    val left = (1L to 40L).map(i => ("a", i * 10L + 5L, 0.0)).toDF("name", "ts", "value")
    // executedPlan STRING: EnsureRequirements inserts the exchanges
    // (sparkPlan predates them), and the AQE wrapper hides the tree
    // from collect()
    val p = graft.ops.TimeJoins.interpolationJoin(left, right,
      Seq("name"), "value").queryExecution.executedPlan.toString
    // the backward carry and forward lookahead are two sorts over ONE
    // key-hash exchange — a second exchange would mean the lookahead
    // reshuffled what the carry already partitioned
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly one exchange:\n$p")
  }

  test("indexed incremental dedup: the only file scans are the index paths") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = (1L to 60L).map(i => (i, (1 to 15).map(w => s"w${(i * 7 + w) % 23}").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_pin").toString
    graft.pipeline.Dedup.writeCorpusIndex(
      docs.where($"doc_id" % 5 =!= 0), dir, "doc_id", "text")
    val out = graft.pipeline.Dedup.dedupAgainstIndex(
      spark.read.parquet(s"$dir/hashes"), spark.read.parquet(s"$dir/bands"),
      docs.where($"doc_id" % 5 === 0), "doc_id", "text")
    // the batch is an in-memory frame here, so EVERY file scan in the
    // probe plan must be an index read — the corpus text (a file in
    // production) is never re-scanned at ingest time. sparkPlan, not
    // executedPlan: the AdaptiveSparkPlanExec wrapper hides the inner
    // tree from collect()
    val scans = plan(out).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected index parquet scans in the probe plan")
    assert(scans.forall(_.metadata("Location").contains("graft_idx_pin")),
      s"probe must read only the persisted index:\n${scans.map(_.metadata("Location"))}")
    // and the result matches the live-scan form on the same split
    val live = graft.pipeline.Dedup.dedupAgainstCorpus(
      docs.where($"doc_id" % 5 =!= 0), docs.where($"doc_id" % 5 === 0),
      "doc_id", "text")
    assert(out.orderBy("id").collect().toSeq ===
      live.orderBy("id").collect().toSeq)
    graft.ScopedCache.release()
  }

  test("corpus-store probe: the only file scans are the store's index paths — docs are never re-read, before or after appends") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = (1L to 60L).map(i =>
        (i, (1 to 15).map(w => s"w${(i * 7 + w) % 23}").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cstore_pin").toString
    graft.pipeline.CorpusStore.create(spark, dir,
      docs.where($"doc_id" % 5 =!= 0 && $"doc_id" <= 40L), "doc_id", "text")
    // grow the store through the lifecycle: the probe's scan set must
    // not change shape — appended batches are MORE of the same index
    // parquet, never a docs re-read
    graft.pipeline.CorpusStore.acceptBatch(spark, dir,
      docs.where($"doc_id" % 5 =!= 0 && $"doc_id" > 40L))
    val out = graft.pipeline.CorpusStore.probeBatch(spark, dir,
      docs.where($"doc_id" % 5 === 0))
    val scans = plan(out).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected index parquet scans in the probe plan")
    assert(scans.forall(_.metadata("Location").contains("graft_cstore_pin")),
      s"probe must read only the store's index:\n${scans.map(_.metadata("Location"))}")
    assert(scans.forall(f => f.metadata("Location").contains("/hashes") ||
        f.metadata("Location").contains("/bands")),
      s"...and only the hashes/bands halves, never docs/:\n${scans.map(_.metadata("Location"))}")
    // parity with the live recompute over the grown corpus
    val live = graft.pipeline.Dedup.dedupAgainstCorpus(
      docs.where($"doc_id" % 5 =!= 0), docs.where($"doc_id" % 5 === 0),
      "doc_id", "text")
    assert(out.orderBy("id").collect().toSeq ===
      live.orderBy("id").collect().toSeq)
    graft.ScopedCache.release()
  }

  test("pq adc: codebook and distance tables broadcast; no vector-bearing join shuffles") {
    import spark.implicits._
    val rnd = Iterator.iterate(17L)(s => s * 6364136223846793005L + 1442695040888963407L)
    val vecs = (0L until 40L).map { i =>
      (i, Array.fill(8)(((rnd.next() >>> 33).toFloat / (1L << 30).toFloat) - 1f))
    }
    val corpus = vecs.toDF("id", "embedding")
    val queries = vecs.take(2).map { case (i, v) => (i + 100L, v) }.toDF("qid", "embedding")
    val books = graft.pipeline.Similarity.fitPqCodebooks(corpus, dim = 8, m = 2,
      ksub = 4, iters = 1)
    val p = graft.pipeline.Similarity.pqAdcTopK(corpus, queries, books, k = 3)
      .queryExecution.executedPlan.toString
    // every join is a broadcast probe (codebook onto the scan, the ADC
    // table onto the codes): a sort-merge join here would mean corpus
    // rows — or worse, float vectors — moving through an exchange to
    // meet the index
    assert(!p.contains("SortMergeJoin"), s"ADC must probe by broadcast:\n$p")
  }

  test("knnLabelIvf: seeds broadcast; the corpus-sized query side never does, and no vector shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val rnd = Iterator.iterate(23L)(s => s * 6364136223846793005L + 1442695040888963407L)
    def vec() = Array.fill(6)(((rnd.next() >>> 33).toFloat / (1L << 30).toFloat) - 1f)
    // corpus from parquet (the identifiable BIG side), seeds in-memory
    val dir = java.nio.file.Files.createTempDirectory("graft_knnlbl").toString
    (100L until 160L).map(i => (i, vec())).toDF("qid", "embedding")
      .write.mode("overwrite").parquet(s"$dir/corpus")
    val seeds = (0L until 10L).map(i => (i, vec(), (i % 3).toInt))
      .toDF("id", "embedding", "label")
    val out = graft.pipeline.Similarity.knnLabelIvf(
      seeds, spark.read.parquet(s"$dir/corpus"),
      k = 3, nlist = 2, nprobe = 1, iters = 1)
    val p = out.queryExecution.sparkPlan
    // the corpus parquet scan must never sit under a broadcast exchange —
    // only seed-derived (in-memory) frames may broadcast
    val bcScans = p.collect { case b: BroadcastExchangeExec => b }
      .flatMap(_.collect { case f: FileSourceScanExec => f })
    assert(bcScans.isEmpty,
      s"no corpus-sized frame may broadcast:\n$p")
    // and no shuffle ever carries an embedding: every exchange moves
    // scalar (qid, id, cos / label, votes) rows only
    val vecShuffles = p.collect { case e: ShuffleExchangeExec => e }
      .filter(_.output.exists(_.dataType.isInstanceOf[ArrayType]))
    assert(vecShuffles.isEmpty,
      s"no shuffle may carry a vector column:\n$p")
    assert(!p.toString.contains("SortMergeJoin"),
      s"the corpus must meet the seeds via broadcast only:\n$p")
  }

  test("bm25: per-query top-k pushes a map-side group limit below the shuffle") {
    import spark.implicits._
    val docs = (1L to 80L).map(i => (i, (1 to 10).map(w => s"w${(i + w) % 7}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextOps.bm25TopK(docs, "doc_id", "text",
      Seq("q1" -> Seq("w1", "w2")), k = 5)
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      s"expected a pushed per-query group limit:\n${out.queryExecution.executedPlan}")
  }

  test("oov rate: vocab cut is a top-V heap; membership is a broadcast probe") {
    import spark.implicits._
    val docs = (1L to 80L).map(i => (i, (1 to 10).map(w => s"w${(i + w) % 7}").mkString(" ")))
      .toDF("doc_id", "text")
    val p = graft.pipeline.TextOps.oovRate(docs, "doc_id", "text", vocabSize = 3)
      .queryExecution.executedPlan.toString
    // the vocabulary cut must never be a global sort: TakeOrderedAndProject
    // keeps V rows per task; and the corpus meets the vocab only through a
    // broadcast hash join (the vocab is V rows by construction)
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab cut should plan as a top-V heap:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"membership must be a broadcast probe:\n$p")
  }

  test("temperature mixture scans the corpus exactly once") {
    import spark.implicits._
    val docs = (1L to 60L).map(i => (i, s"w$i body text", s"src${i % 4}"))
      .toDF("doc_id", "text", "source")
    val p = graft.pipeline.TextOps
      .temperatureMixture(docs, "source", "text", targetTokens = 100L)
      .queryExecution.executedPlan.toString
    // the normalizer is a window over the STRATA-SIZED aggregate, not a
    // second aggregation subtree over the input: one scan node only
    assert("LocalTableScan".r.findAllIn(p).size === 1,
      s"normalizer must not re-scan the corpus:\n$p")
  }

  test("segment dedup: hash-keyed joins only, never nested-loop or cartesian") {
    import spark.implicits._
    val docs = (1L to 60L).map(i =>
      (i, (1 to 12).map(w => s"w${(i * 3 + w) % 17}").mkString(" ")))
      .toDF("doc_id", "text")
    val p = graft.pipeline.TextOps.segmentDedup(docs, "doc_id", "text",
        segTokens = 3, minDocs = 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"removal join must stay hash-keyed on the segment hash:\n$p")
  }

  test("stream-static asof: one broadcast probe, probe side never shuffles") {
    import spark.implicits._
    val s = 1000000000L
    val left = (1L to 50L).map(i => (s"u${i % 5}", i * s, i * 0.1))
      .toDF("name", "ts", "value")
    val right = (1L to 20L).map(i => (s"u${i % 5}", i * 2 * s, i * 1.0))
      .toDF("name", "ts", "value")
    val idx = graft.streaming.TsdbStream.asofIndex(right)
    // inspect the EXECUTED plan (EnsureRequirements has inserted any
    // required exchanges — sparkPlan would make the shuffle assert
    // vacuous); AQE off so the tree is directly collectible
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val p = graft.streaming.TsdbStream.asofStatic(left, idx)
        .queryExecution.executedPlan
      val joins = p.collect { case j: BroadcastHashJoinExec => j }
      assert(joins.size === 1, s"expected exactly one broadcast probe:\n$p")
      // the streamed (left) side must reach the probe with no exchange at
      // all — that is what makes each micro-batch stateless and local
      // (the index side legitimately shuffles once at build time)
      assert(joins.head.left.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"probe side must not shuffle:\n${joins.head.left}")
    } finally spark.conf.set(key, prev)
  }

  test("persisted KMV serve: reads the index parquet only; k-cut map-side") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = (1 to 400).map(i => (s"g${i % 2}", (i % 5).toLong, s"v${i % 70}"))
      .toDF("g", "w", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv_pin").toString
    graft.ops.Sketches.kmvIndex(df, "g", "w", "v", k = 32)
      .write.parquet(s"$dir/kmv")
    val out = graft.ops.Sketches.kmvServe(
      spark.read.parquet(s"$dir/kmv"), "g", k = 32)
    val p = plan(out)
    val scans = p.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty && scans.forall(
        _.metadata("Location").contains("graft_kmv_pin")),
      s"serve must read only the persisted index:\n$p")
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      s"k-smallest cut must push below the shuffle")
  }

  test("distinct statement: aligned range serves from the registered rollup") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_dserve").toString
    ctx.samples.write.parquet(s"$dir/samples")
    ctx.series.write.parquet(s"$dir/series")
    ctx.samples.limit(0)
      .selectExpr("series_id", "ts", "CAST(value AS STRING) AS body")
      .write.parquet(s"$dir/events")
    val base = graft.model.TsdbContext(spark,
      spark.read.parquet(s"$dir/series"),
      spark.read.parquet(s"$dir/samples"),
      spark.read.parquet(s"$dir/events"))
    graft.engine.Rollup.build(base.samples, 100L)
      .write.parquet(s"$dir/rollup")
    val eng = new Engine(base.copy(
      rollups = Seq(100L -> spark.read.parquet(s"$dir/rollup"))))
    val q =
      """{"distinct": {"metric": "test", "tag": "tag", "k": 2},
         "range": {"from": 100, "to": 300}}"""
    val served = eng.execute(q)
    val scans = plan(served).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty && scans.forall { f =>
      val loc = f.metadata("Location")
      loc.contains("/rollup") || loc.contains("/series")
    }, s"aligned distinct must not scan facts:\n${scans.map(_.metadata("Location"))}")
    // a series' tag hash is constant, so rollup ACTIVITY rows produce the
    // scan's exact (metric, hash) set: serving never changes the answer —
    // k = 2 < 3 tags keeps the ESTIMATOR branch under the equality too
    assert(served.collect().toSeq ===
      new Engine(base).execute(q).collect().toSeq)
    // the k-min cut must stay map-side bounded
    assert(served.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"), "k-smallest cut must push map-side")
    // misaligned range: a partial fine bin could hide a series' only
    // in-range sample -> fall back to the fact scan
    val mis = eng.execute(
      """{"distinct": {"metric": "test", "tag": "tag", "k": 2},
         "range": {"from": 150, "to": 300}}""")
    assert(plan(mis).collect { case f: FileSourceScanExec => f }
      .exists(_.metadata("Location").contains("/samples")),
      "misaligned range must fall back to the scan")
    // a value filter narrows what counts as activity, and the rollup
    // stores no values -> filtered statements always scan
    val filtered = eng.execute(
      """{"distinct": {"metric": "test", "tag": "tag", "k": 2},
         "filter": {"gt": 15.0},
         "range": {"from": 100, "to": 300}}""")
    assert(plan(filtered).collect { case f: FileSourceScanExec => f }
      .exists(_.metadata("Location").contains("/samples")),
      "filtered statement must abstain from rollup serving")
  }

  test("distinct statement: the registered KMV index outranks rollup and scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val dir = java.nio.file.Files.createTempDirectory("graft_kserve").toString
    ctx.samples.write.parquet(s"$dir/samples")
    ctx.series.write.parquet(s"$dir/series")
    ctx.samples.limit(0)
      .selectExpr("series_id", "ts", "CAST(value AS STRING) AS body")
      .write.parquet(s"$dir/events")
    val base = graft.model.TsdbContext(spark,
      spark.read.parquet(s"$dir/series"),
      spark.read.parquet(s"$dir/samples"),
      spark.read.parquet(s"$dir/events"))
    graft.ops.Sketches.kmvIndex(
        base.samples
          .join(base.series.select(col("series_id"), col("metric"),
            col("tags").getItem("tag").as("__tv")), "series_id")
          .where(col("__tv").isNotNull)
          .select(col("metric"),
            (col("ts") - pmod(col("ts"), lit(100L))).as("win"), col("__tv")),
        "metric", "win", "__tv", k = 4)
      .write.parquet(s"$dir/kmv")
    val eng = new Engine(base.copy(
      kmvIndexes = Seq(graft.model.KmvIndexDef("tag", 100L, 4,
        spark.read.parquet(s"$dir/kmv")))))
    def scansOf(q: String) = plan(eng.execute(q))
      .collect { case f: FileSourceScanExec => f.metadata("Location") }
    val aligned =
      """{"distinct": {"metric": "test", "tag": "tag", "k": 2},
         "range": {"from": 100, "to": 300}}"""
    val dirs = scansOf(aligned)
    assert(dirs.nonEmpty && dirs.forall(_.contains("/kmv")),
      s"aligned unfiltered distinct must read ONLY the kmv index: $dirs")
    // k-min sets merge exactly: served output == scan engine's output
    assert(eng.execute(aligned).collect().toSeq ===
      new Engine(base).execute(aligned).collect().toSeq)
    // the stepped form serves too (1 µs bins — the smallest the µs
    // output grid admits — re-group whole 100 ns windows; the range is
    // narrower than the step, so one from-anchored bin results)
    val stepped =
      """{"distinct": {"metric": "test", "tag": "tag", "k": 2,
                       "step": "1us"},
         "range": {"from": 100, "to": 300}}"""
    assert(scansOf(stepped).forall(_.contains("/kmv")),
      "aligned stepped distinct must also serve from the kmv index")
    assert(eng.execute(stepped).collect().toSeq ===
      new Engine(base).execute(stepped).collect().toSeq)
    // a where clause narrows the series set — the metric-pooled index
    // cannot answer it; a k above the build k cannot be reconstructed
    for (q <- Seq(
      """{"distinct": {"metric": "test", "tag": "tag", "k": 2},
         "where": {"tag": ["T1"]}, "range": {"from": 100, "to": 300}}""",
      """{"distinct": {"metric": "test", "tag": "tag", "k": 8},
         "range": {"from": 100, "to": 300}}"""))
      assert(scansOf(q).exists(_.contains("/samples")),
        s"must abstain to the scan for: $q")
    // a tag no series carries resolves to nothing: the index abstains
    // and the empty resolution prunes the scan away, answering empty
    val noTag =
      """{"distinct": {"metric": "test", "tag": "other", "k": 2},
         "range": {"from": 100, "to": 300}}"""
    assert(!scansOf(noTag).exists(_.contains("/kmv")),
      "a different tag must abstain from the kmv index")
    assert(eng.execute(noTag).collect().isEmpty &&
      new Engine(base).execute(noTag).collect().isEmpty)
  }

  test("quantile statement: aligned range serves from the registered histogram index") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val dir = java.nio.file.Files.createTempDirectory("graft_qserve").toString
    ctx.samples.write.parquet(s"$dir/samples")
    ctx.series.write.parquet(s"$dir/series")
    ctx.samples.limit(0)
      .selectExpr("series_id", "ts", "CAST(value AS STRING) AS body")
      .write.parquet(s"$dir/events")
    val base = graft.model.TsdbContext(spark,
      spark.read.parquet(s"$dir/series"),
      spark.read.parquet(s"$dir/samples"),
      spark.read.parquet(s"$dir/events"))
    graft.ops.HistQuantiles.histogram(
        base.samples.withColumn("win",
          col("ts") - pmod(col("ts"), lit(100L))),
        Seq("series_id", "win"))
      .write.parquet(s"$dir/hist")
    val eng = new Engine(base.copy(
      histograms = Seq(100L -> spark.read.parquet(s"$dir/hist"))))
    // per series, and group-by-tag: the three series pool their counts
    // under one name before the one quantile tail
    for (q <- Seq(
      """{"quantile": {"metric": "test", "p": [0.5, 0.9]},
         "range": {"from": 100, "to": 300}}""",
      """{"quantile": {"metric": "test", "p": [0.5, 0.9]},
         "range": {"from": 100, "to": 300}, "group-by-tag": ["tag"]}""")) {
      val served = eng.execute(q)
      val scans = plan(served).collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.forall { f =>
        val loc = f.metadata("Location")
        loc.contains("/hist") || loc.contains("/series")
      }, s"aligned quantile must not scan facts:\n${scans.map(_.metadata("Location"))}")
      // serving changes the plan, never the answer
      assert(served.collect().toSeq ===
        new Engine(base).execute(q).collect().toSeq)
    }
    // a misaligned range cannot split a window's counts -> fact scan
    val mis = eng.execute(
      """{"quantile": {"metric": "test", "p": [0.5]},
         "range": {"from": 150, "to": 300}}""")
    assert(plan(mis).collect { case f: FileSourceScanExec => f }
      .exists(_.metadata("Location").contains("/samples")),
      "misaligned range must fall back to the scan")
  }

  test("stepped quantile + seasonal statements serve from the registered histogram index") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val dir = java.nio.file.Files.createTempDirectory("graft_qserve2").toString
    ctx.samples.write.parquet(s"$dir/samples")
    ctx.series.write.parquet(s"$dir/series")
    ctx.samples.limit(0)
      .selectExpr("series_id", "ts", "CAST(value AS STRING) AS body")
      .write.parquet(s"$dir/events")
    val base = graft.model.TsdbContext(spark,
      spark.read.parquet(s"$dir/series"),
      spark.read.parquet(s"$dir/samples"),
      spark.read.parquet(s"$dir/events"))
    graft.ops.HistQuantiles.histogram(
        base.samples.withColumn("win",
          col("ts") - pmod(col("ts"), lit(400L))),
        Seq("series_id", "win"))
      .write.parquet(s"$dir/hist")
    val eng = new Engine(base.copy(
      histograms = Seq(400L -> spark.read.parquet(s"$dir/hist"))))
    def onlyIndexScans(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val scans = plan(df).collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.forall { f =>
        val loc = f.metadata("Location")
        loc.contains("/hist") || loc.contains("/series")
      }, s"$what must not scan facts:\n${scans.map(_.metadata("Location"))}")
    }
    // stepped: step = 5 windows (and whole-µs, the parser's grid rule),
    // aligned range -> windows re-key to bins
    val stepQ =
      """{"quantile": {"metric": "test", "p": [0.5, 0.9], "step": "2us"},
         "range": {"from": 0, "to": 400}}"""
    val stepServed = eng.execute(stepQ)
    onlyIndexScans(stepServed, "aligned stepped quantile")
    assert(stepServed.collect().toSeq ===
      new Engine(base).execute(stepQ).collect().toSeq,
      "serving changes the plan, never the answer")
    // a step that is not a whole number of windows cannot split counts
    val misStep = eng.execute(
      """{"quantile": {"metric": "test", "p": [0.5], "step": "1us"},
         "range": {"from": 0, "to": 400}}""")
    assert(plan(misStep).collect { case f: FileSourceScanExec => f }
      .exists(_.metadata("Location").contains("/samples")),
      "non-window-multiple step must fall back to the scan")
    // seasonal: window divides bin and period -> one phase per window
    val seasQ =
      """{"seasonal": {"metric": "test", "period": "800n", "bin": "400n"},
         "range": {"from": 0, "to": 400}}"""
    val seasServed = eng.execute(seasQ)
    onlyIndexScans(seasServed, "aligned seasonal")
    assert(seasServed.collect().toSeq ===
      new Engine(base).execute(seasQ).collect().toSeq,
      "served bands equal scan-built bands")
    // a bin the window does not divide would split a window across
    // phases -> fall back to the scan
    val misSeas = eng.execute(
      """{"seasonal": {"metric": "test", "period": "800n", "bin": "200n"},
         "range": {"from": 0, "to": 400}}""")
    assert(plan(misSeas).collect { case f: FileSourceScanExec => f }
      .exists(_.metadata("Location").contains("/samples")),
      "window-splitting bin must fall back to the scan")
    // a value filter cannot be applied to unfiltered bucket counts ->
    // the otherwise-aligned statement must scan
    val filtered = eng.execute(
      """{"quantile": {"metric": "test", "p": [0.5]},
         "filter": {"gt": 1.5}, "range": {"from": 0, "to": 400}}""")
    assert(plan(filtered).collect { case f: FileSourceScanExec => f }
      .exists(_.metadata("Location").contains("/samples")),
      "filtered quantile must abstain from index serving")
  }

  test("active statement: aligned range serves from the rollup, not raw facts") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_active").toString
    ctx.samples.write.parquet(s"$dir/samples")
    ctx.series.write.parquet(s"$dir/series")
    ctx.samples.limit(0)
      .selectExpr("series_id", "ts", "CAST(value AS STRING) AS body")
      .write.parquet(s"$dir/events")
    val base = graft.model.TsdbContext(spark,
      spark.read.parquet(s"$dir/series"),
      spark.read.parquet(s"$dir/samples"),
      spark.read.parquet(s"$dir/events"))
    graft.engine.Rollup.write(base.samples, s"$dir/rollup", 100L)
    val eng = new Engine(base.copy(
      rollups = Seq(100L -> spark.read.parquet(s"$dir/rollup"))))
    // unstepped, and stepped (the step a whole number of rollup bins):
    // both forms share the one count tail over activity rows
    for (q <- Seq(
      """{"active": {"metric": "test"},
                "range": {"from": 0, "to": 400}}""",
      """{"active": {"metric": "test", "step": "1us"},
                "range": {"from": 0, "to": 400}}""")) {
      val served = eng.execute(q)
      val dirs = plan(served)
        .collect { case f: FileSourceScanExec => f.metadata("Location") }
      assert(dirs.exists(_.contains("/rollup")) &&
        !dirs.exists(_.contains("/samples")),
        s"aligned active must count from rollup bins, not facts: $dirs")
      assert(served.collect().toSeq ===
        new Engine(base).execute(q).collect().toSeq,
        "serving changes the plan, never the answer")
    }
    // a misaligned range could hide a series' only sample in a partial
    // bin — must fall back to the scan
    val mis = eng.execute(
      """{"active": {"metric": "test"}, "range": {"from": 50, "to": 400}}""")
    assert(plan(mis).collect { case f: FileSourceScanExec => f }
      .exists(_.metadata("Location").contains("/samples")),
      "misaligned range must fall back to the scan")
    // stale rides the same rollup under the same rule: per-series max
    // over covered bins' ts_max accumulators == the scan's max raw ts
    val qs = """{"stale": {"metric": "test", "older-than": "50"},
                "range": {"from": 0, "to": 400}}"""
    val staleServed = eng.execute(qs)
    val sDirs = plan(staleServed)
      .collect { case f: FileSourceScanExec => f.metadata("Location") }
    assert(sDirs.exists(_.contains("/rollup")) &&
      !sDirs.exists(_.contains("/samples")),
      s"aligned stale must read last-arrivals from rollup bins: $sDirs")
    assert(staleServed.collect().toSeq ===
      new Engine(base).execute(qs).collect().toSeq,
      "stale serving changes the plan, never the answer")
    val staleMis = eng.execute(
      """{"stale": {"metric": "test", "older-than": "50"},
         "range": {"from": 50, "to": 400}}""")
    assert(plan(staleMis).collect { case f: FileSourceScanExec => f }
      .exists(_.metadata("Location").contains("/samples")),
      "misaligned stale must fall back to the scan")
  }

  test("histogram ladder: coarsest aligned level serves; finer level catches misaligned") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val dir = java.nio.file.Files.createTempDirectory("graft_qladder").toString
    ctx.samples.write.parquet(s"$dir/samples")
    ctx.series.write.parquet(s"$dir/series")
    ctx.samples.limit(0)
      .selectExpr("series_id", "ts", "CAST(value AS STRING) AS body")
      .write.parquet(s"$dir/events")
    val base = graft.model.TsdbContext(spark,
      spark.read.parquet(s"$dir/series"),
      spark.read.parquet(s"$dir/samples"),
      spark.read.parquet(s"$dir/events"))
    graft.ops.HistQuantiles.histogram(
        base.samples.withColumn("win",
          col("ts") - pmod(col("ts"), lit(100L))),
        Seq("series_id", "win"))
      .write.parquet(s"$dir/fine")
    graft.ops.HistQuantiles.compact(
        spark.read.parquet(s"$dir/fine"), Seq("series_id"), "win",
        100L, 400L)
      .write.parquet(s"$dir/coarse")
    // coarsest FIRST: registration order is preference order
    val eng = new Engine(base.copy(histograms = Seq(
      400L -> spark.read.parquet(s"$dir/coarse"),
      100L -> spark.read.parquet(s"$dir/fine"))))
    def scanDirs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      plan(df).collect { case f: FileSourceScanExec => f.metadata("Location") }
    // 400-aligned range: the coarse level serves (1/4 the index rows)
    val qCoarse = eng.execute(
      """{"quantile": {"metric": "test", "p": [0.5, 0.9]},
         "range": {"from": 0, "to": 400}}""")
    val coarseDirs = scanDirs(qCoarse)
    assert(coarseDirs.exists(_.contains("/coarse")) &&
      !coarseDirs.exists(l => l.contains("/fine") || l.contains("/samples")),
      s"day-aligned query must read the coarse level only: $coarseDirs")
    assert(qCoarse.collect().toSeq ===
      new Engine(base).execute(
        """{"quantile": {"metric": "test", "p": [0.5, 0.9]},
           "range": {"from": 0, "to": 400}}""").collect().toSeq)
    // 100-aligned-but-not-400 range: falls THROUGH to the fine level,
    // never to the raw scan
    val qFine = eng.execute(
      """{"quantile": {"metric": "test", "p": [0.5, 0.9]},
         "range": {"from": 100, "to": 300}}""")
    val fineDirs = scanDirs(qFine)
    assert(fineDirs.exists(_.contains("/fine")) &&
      !fineDirs.exists(l => l.contains("/coarse") || l.contains("/samples")),
      s"hour-aligned query must fall to the fine level: $fineDirs")
    assert(qFine.collect().toSeq ===
      new Engine(base).execute(
        """{"quantile": {"metric": "test", "p": [0.5, 0.9]},
           "range": {"from": 100, "to": 300}}""").collect().toSeq)
  }

  test("correlate/trend statements serve from the registered bucket-sums index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.lit
    // TWO metrics at µs scale with real structure (m2 tracks 2·m1 +
    // multi-row buckets), so BOTH statements serve non-degenerately:
    // 40 one-µs fine buckets, correlate at step 1us (ratio 1), trend
    // at 2us (ratio 2, 20 buckets — a genuine slope, not a null line)
    val rows = (0 until 40).flatMap { i =>
      val t = i.toLong * 1000L
      Seq(("m1", "a", t, i / 3.0), ("m1", "a", t + 7, i / 3.0 + 0.2),
        ("m2", "a", t, 2 * i / 3.0 + 1.0))
    }
    val wide = rows.toDF("metric", "tag", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_bsums").toString
    val mem = graft.model.TsdbContext.fromWide(spark, wide, "metric",
      Seq("tag"), "ts", "value")
    mem.samples.write.parquet(s"$dir/samples")
    mem.series.write.parquet(s"$dir/series")
    mem.samples.limit(0)
      .selectExpr("series_id", "ts", "CAST(value AS STRING) AS body")
      .write.parquet(s"$dir/events")
    val base = mem.copy(
      series = spark.read.parquet(s"$dir/series"),
      samples = spark.read.parquet(s"$dir/samples"),
      events = spark.read.parquet(s"$dir/events"))
    graft.ops.Stats.bucketSums(base.samples, 1000L, keyCol = "series_id")
      .write.parquet(s"$dir/bsums")
    val eng = new Engine(base.copy(
      bucketSums = Seq(1000L -> spark.read.parquet(s"$dir/bsums"))))
    def servedEqualsScan(q: String, what: String): Unit = {
      val served = eng.execute(q)
      val dirs = plan(served)
        .collect { case f: FileSourceScanExec => f.metadata("Location") }
      assert(dirs.exists(_.contains("/bsums")) &&
        !dirs.exists(_.contains("/samples")),
        s"$what must reduce the index, not scan facts: $dirs")
      val rows = served.collect().toSeq
      assert(rows === new Engine(base).execute(q).collect().toSeq,
        s"$what: serving changes the plan, never the answer")
      assert(rows.nonEmpty && !rows.head.anyNull,
        s"$what must exercise real served arithmetic, not a null row: $rows")
    }
    servedEqualsScan(
      """{"correlate": {"metric": ["m1", "m2"], "step": "1us"},
         "range": {"from": 0, "to": 40000}}""", "aligned correlate")
    servedEqualsScan(
      """{"trend": {"metric": ["m1", "m2"], "step": "2us"},
         "range": {"from": 0, "to": 40000}}""", "aligned trend")
    // the lag and horizon ride the one tail each statement keeps
    servedEqualsScan(
      """{"correlate": {"metric": ["m1", "m2"], "step": "1us", "lag": "3us"},
         "range": {"from": 0, "to": 40000}}""", "aligned lagged correlate")
    servedEqualsScan(
      """{"trend": {"metric": ["m1", "m2"], "step": "2us", "horizon": "10us"},
         "range": {"from": 0, "to": 40000}}""", "aligned trend with horizon")
    // changepoints consumes the same served bucket-mean frame: the m1
    // ramp's window means differ by w·slope ≈ 4/3 > 1.0 at every full
    // boundary, so the served flags are real arithmetic, scan-equal
    servedEqualsScan(
      """{"changepoints": {"metric": ["m1"], "step": "1us", "window": 4,
                           "min-shift": 1.0},
         "range": {"from": 0, "to": 40000}}""", "aligned changepoints")
    // autocorr consumes it too: the m1 ramp's ACF at short lags is a
    // real near-1 coefficient, scan-equal
    servedEqualsScan(
      """{"autocorr": {"metric": ["m1", "m2"], "step": "1us",
                       "lags": ["1us", "2us"]},
         "range": {"from": 0, "to": 40000}}""", "aligned autocorr")
    // a misaligned range could split a fine bucket's sums -> all four
    // statements fall back to the scan
    Seq(
      """{"correlate": {"metric": ["m1", "m2"], "step": "1us"},
         "range": {"from": 500, "to": 40000}}""",
      """{"trend": {"metric": ["m1"], "step": "2us"},
         "range": {"from": 500, "to": 40000}}""",
      """{"autocorr": {"metric": ["m1"], "step": "1us", "lags": ["1us"]},
         "range": {"from": 500, "to": 40000}}""",
      """{"changepoints": {"metric": ["m1"], "step": "1us", "window": 4,
                           "min-shift": 1.0},
         "range": {"from": 500, "to": 40000}}""").foreach { q =>
      assert(plan(eng.execute(q)).collect { case f: FileSourceScanExec => f }
        .exists(_.metadata("Location").contains("/samples")),
        "misaligned range must fall back to the scan")
    }
  }

  test("bucket-sums ladder: coarsest aligned level serves; finer level catches misaligned") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the correlate/trend fixture, laddered: 1µs fine buckets compacted
    // 4:1; registration order (coarsest FIRST) is preference order
    val rows = (0 until 40).flatMap { i =>
      val t = i.toLong * 1000L
      Seq(("m1", "a", t, i / 3.0), ("m1", "a", t + 7, i / 3.0 + 0.2),
        ("m2", "a", t, 2 * i / 3.0 + 1.0))
    }
    val wide = rows.toDF("metric", "tag", "ts", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_bsladder").toString
    val mem = graft.model.TsdbContext.fromWide(spark, wide, "metric",
      Seq("tag"), "ts", "value")
    mem.samples.write.parquet(s"$dir/samples")
    mem.series.write.parquet(s"$dir/series")
    mem.samples.limit(0)
      .selectExpr("series_id", "ts", "CAST(value AS STRING) AS body")
      .write.parquet(s"$dir/events")
    val base = mem.copy(
      series = spark.read.parquet(s"$dir/series"),
      samples = spark.read.parquet(s"$dir/samples"),
      events = spark.read.parquet(s"$dir/events"))
    graft.ops.Stats.bucketSums(base.samples, 1000L, keyCol = "series_id")
      .write.parquet(s"$dir/fine")
    graft.ops.Stats.bucketSumsCompact(
        spark.read.parquet(s"$dir/fine"), "series_id", 1000L, 4000L)
      .write.parquet(s"$dir/coarse")
    val eng = new Engine(base.copy(bucketSums = Seq(
      4000L -> spark.read.parquet(s"$dir/coarse"),
      1000L -> spark.read.parquet(s"$dir/fine"))))
    def scanDirs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      plan(df).collect { case f: FileSourceScanExec => f.metadata("Location") }
    // 4µs-aligned range at a 4µs step: the coarse level serves (1/4 the
    // index rows), same answer as the raw scan
    val qCoarse = eng.execute(
      """{"trend": {"metric": ["m1", "m2"], "step": "4us"},
         "range": {"from": 0, "to": 40000}}""")
    val coarseDirs = scanDirs(qCoarse)
    assert(coarseDirs.exists(_.contains("/coarse")) &&
      !coarseDirs.exists(l => l.contains("/fine") || l.contains("/samples")),
      s"coarse-aligned trend must read the coarse level only: $coarseDirs")
    assert(qCoarse.collect().toSeq ===
      new Engine(base).execute(
        """{"trend": {"metric": ["m1", "m2"], "step": "4us"},
           "range": {"from": 0, "to": 40000}}""").collect().toSeq)
    // 1µs-aligned-but-not-4µs range: falls THROUGH to the fine level,
    // never to the raw scan
    val qFine = eng.execute(
      """{"trend": {"metric": ["m1", "m2"], "step": "2us"},
         "range": {"from": 1000, "to": 39000}}""")
    val fineDirs = scanDirs(qFine)
    assert(fineDirs.exists(_.contains("/fine")) &&
      !fineDirs.exists(l => l.contains("/coarse") || l.contains("/samples")),
      s"fine-aligned trend must fall to the fine level: $fineDirs")
    assert(qFine.collect().toSeq ===
      new Engine(base).execute(
        """{"trend": {"metric": ["m1", "m2"], "step": "2us"},
           "range": {"from": 1000, "to": 39000}}""").collect().toSeq)
  }

  test("anomaly serves from the registered mad index: one fact pass, no percentile fit") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_madidx").toString
    ctx.samples.write.parquet(s"$dir/samples")
    ctx.series.write.parquet(s"$dir/series")
    ctx.samples.limit(0)
      .selectExpr("series_id", "ts", "CAST(value AS STRING) AS body")
      .write.parquet(s"$dir/events")
    val base = graft.model.TsdbContext(spark,
      spark.read.parquet(s"$dir/series"),
      spark.read.parquet(s"$dir/samples"),
      spark.read.parquet(s"$dir/events"))
    graft.ops.Monitoring.madIndex(
        base.samples.where(col("ts") >= 100L && col("ts") < 300L)
          .join(base.series.select(col("series_id"), col("name")), "series_id")
          .select(col("name"), col("value")),
        "name")
      .write.parquet(s"$dir/mad")
    val eng = new Engine(base.copy(madIndexes = Seq(
      graft.model.MadIndexDef(100L, 300L,
        spark.read.parquet(s"$dir/mad")))))
    val q = """{"anomaly": {"metric": "test", "c": 0.5},
               "range": {"from": 100, "to": 300}}"""
    val served = eng.execute(q)
    val p = plan(served)
    val dirs = p.collect { case f: FileSourceScanExec => f.metadata("Location") }
    assert(dirs.exists(_.contains("/mad")),
      s"exact-range anomaly must read the mad index: $dirs")
    assert(dirs.count(_.contains("/samples")) === 1,
      s"served anomaly judges the facts in ONE pass: $dirs")
    assert(!p.toString.toLowerCase.contains("percentile"),
      s"the fit must come from the index, not a percentile aggregation:\n$p")
    // identical flags to the scan fit (the index stores the same
    // rounded statistics)
    assert(served.collect().toSeq ===
      new Engine(base).execute(q).collect().toSeq,
      "serving changes the plan, never the flags")
    // any other range abstains: medians don't restrict to sub-ranges
    val mis = eng.execute(
      """{"anomaly": {"metric": "test", "c": 0.5},
         "range": {"from": 100, "to": 250}}""")
    assert(plan(mis).toString.toLowerCase.contains("percentile"),
      "a non-matching range must fall back to the scan fit")
  }

  test("gaps factor serves from the registered cadence index: one fact pass, no model aggregation") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_gapidx").toString
    ctx.samples.write.parquet(s"$dir/samples")
    ctx.series.write.parquet(s"$dir/series")
    ctx.samples.limit(0)
      .selectExpr("series_id", "ts", "CAST(value AS STRING) AS body")
      .write.parquet(s"$dir/events")
    val base = graft.model.TsdbContext(spark,
      spark.read.parquet(s"$dir/series"),
      spark.read.parquet(s"$dir/samples"),
      spark.read.parquet(s"$dir/events"))
    graft.ops.Monitoring.gapThresholdIndex(
        base.samples.where(col("ts") >= 100L && col("ts") < 300L)
          .join(base.series.select(col("series_id"), col("name")), "series_id")
          .select(col("name"), col("ts")),
        factor = 2.0, keyCol = "name")
      .write.parquet(s"$dir/gapthr")
    val eng = new Engine(base.copy(gapIndexes = Seq(
      graft.model.GapIndexDef(100L, 300L, 2.0,
        spark.read.parquet(s"$dir/gapthr")))))
    val q = """{"gaps": {"metric": "test", "factor": 2.0},
               "range": {"from": 100, "to": 300}}"""
    val served = eng.execute(q)
    val dirs = plan(served)
      .collect { case f: FileSourceScanExec => f.metadata("Location") }
    assert(dirs.exists(_.contains("/gapthr")),
      s"matching gaps statement must read the cadence index: $dirs")
    assert(dirs.count(_.contains("/samples")) === 1,
      s"served gaps flags the facts in ONE pass: $dirs")
    assert(served.collect().toSeq ===
      new Engine(base).execute(q).collect().toSeq,
      "serving changes the plan, never the intervals")
    // a different factor (or range) abstains: mean spacings neither
    // add nor restrict
    val mis = eng.execute(
      """{"gaps": {"metric": "test", "factor": 3.0},
         "range": {"from": 100, "to": 300}}""")
    assert(!plan(mis).collect { case f: FileSourceScanExec => f }
      .exists(_.metadata("Location").contains("/gapthr")),
      "a non-matching factor must fall back to the scan model")
  }

  test("malformed registered indexes fail loudly at engine construction") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val hist = graft.ops.HistQuantiles.histogram(
      ctx.samples.withColumn("win",
        col("ts") - pmod(col("ts"), lit(100L))),
      Seq("series_id", "win"))
    // well-formed registration constructs fine
    new Engine(ctx.copy(histograms = Seq(100L -> hist)))
    // non-positive window step: would floorMod-by-zero at serve time
    intercept[IllegalArgumentException](
      new Engine(ctx.copy(histograms = Seq(0L -> hist))))
    // missing bucket column: would mid-query AnalysisException
    intercept[IllegalArgumentException](
      new Engine(ctx.copy(histograms = Seq(100L -> hist.drop("cnt")))))
    // rollup registrations get the same shape gate
    val rollup = graft.engine.Rollup.build(ctx.samples, 100L)
    new Engine(ctx.copy(rollups = Seq(100L -> rollup)))
    intercept[IllegalArgumentException](
      new Engine(ctx.copy(rollups = Seq(-100L -> rollup))))
    intercept[IllegalArgumentException](
      new Engine(ctx.copy(rollups = Seq(100L -> rollup.drop("ts_min")))))
    // and bucket-sums registrations
    val bsums = graft.ops.Stats.bucketSums(ctx.samples, 100L,
      keyCol = "series_id")
    new Engine(ctx.copy(bucketSums = Seq(100L -> bsums)))
    intercept[IllegalArgumentException](
      new Engine(ctx.copy(bucketSums = Seq(0L -> bsums))))
    intercept[IllegalArgumentException](
      new Engine(ctx.copy(bucketSums = Seq(100L -> bsums.drop("__c")))))
    // and kmv registrations
    import org.apache.spark.sql.functions.{col => c}
    val kmv = ctx.samples.limit(0)
      .select(c("series_id").cast("string").as("metric"),
        c("ts").as("win"), c("series_id").as("h"))
    def reg(d: graft.model.KmvIndexDef) =
      new Engine(ctx.copy(kmvIndexes = Seq(d)))
    reg(graft.model.KmvIndexDef("tag", 100L, 4, kmv))
    intercept[IllegalArgumentException](
      reg(graft.model.KmvIndexDef("tag", 0L, 4, kmv)))
    intercept[IllegalArgumentException](
      reg(graft.model.KmvIndexDef("", 100L, 4, kmv)))
    intercept[IllegalArgumentException](
      reg(graft.model.KmvIndexDef("tag", 100L, 1, kmv)))
    intercept[IllegalArgumentException](
      reg(graft.model.KmvIndexDef("tag", 100L, 4, kmv.drop("h"))))
    // and mad registrations
    val mad = ctx.samples.limit(0)
      .select(c("series_id").cast("string").as("name"),
        c("value").as("med"), c("value").as("mad"))
    new Engine(ctx.copy(madIndexes = Seq(
      graft.model.MadIndexDef(100L, 300L, mad))))
    intercept[IllegalArgumentException](
      new Engine(ctx.copy(madIndexes = Seq(
        graft.model.MadIndexDef(300L, 100L, mad)))))
    intercept[IllegalArgumentException](
      new Engine(ctx.copy(madIndexes = Seq(
        graft.model.MadIndexDef(100L, 300L, mad.drop("mad"))))))
    // and gap-cadence registrations
    val gap = ctx.samples.limit(0)
      .select(c("series_id").cast("string").as("name"),
        c("value").as("thr"))
    new Engine(ctx.copy(gapIndexes = Seq(
      graft.model.GapIndexDef(100L, 300L, 3.0, gap))))
    intercept[IllegalArgumentException](
      new Engine(ctx.copy(gapIndexes = Seq(
        graft.model.GapIndexDef(300L, 100L, 3.0, gap)))))
    intercept[IllegalArgumentException](
      new Engine(ctx.copy(gapIndexes = Seq(
        graft.model.GapIndexDef(100L, 300L, 0.0, gap)))))
    intercept[IllegalArgumentException](
      new Engine(ctx.copy(gapIndexes = Seq(
        graft.model.GapIndexDef(100L, 300L, 3.0, gap.drop("thr"))))))
  }

  test("corr matrix: facts reduce to bucket means before anything pairs") {
    import spark.implicits._
    val df = (1 to 300).map(i => (s"m${i % 3}", i.toLong, i.toDouble))
      .toDF("metric", "ts", "value")
    val p = plan(graft.ops.Stats.corrAligned(df, bucketNs = 10L))
    // every join input must sit above an aggregate: the pair join runs
    // over the (keys x buckets) rollup frame, never the raw facts
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.nonEmpty, s"expected a pair join:\n$p")
    joins.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        assert(side.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"pair-join input must be pre-aggregated:\n$side")
      }
    }
  }

  test("store-served statements: {\"knn\"} prunes to the probed cell partitions; {\"dedup\"} scans only the store's index paths") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = (1L to 60L).map(i =>
        (i, (1 to 15).map(w => s"w${(i * 7 + w) % 23}").mkString(" ")))
      .toDF("id", "text")
    val vecs = (1L to 60L).map(i => (i, Array.tabulate(6)(d =>
      (((i * 31 + d * 7) % 11).toFloat - 5f)))).toDF("id", "embedding")
    val cdir = java.nio.file.Files
      .createTempDirectory("graft_stmt_cpin").toString
    graft.pipeline.CorpusStore.create(spark, cdir,
      docs.where($"id" % 5 =!= 0), "id", "text")
    val edir = java.nio.file.Files
      .createTempDirectory("graft_stmt_epin").toString
    graft.pipeline.EmbeddingStore.create(spark, edir, vecs,
      nlist = 4, iters = 1)
    val eng = new Engine(rampContext(Seq(1), 0L, 4L).copy(
      documents = Some(docs), embeddings = Some(vecs),
      corpusStore = Some(cdir), embeddingStore = Some(edir)))
    // {"dedup"}: every file scan in the statement's plan is a store
    // INDEX path — the corpus docs (files in production) are never
    // re-read per statement (the round-13 weak-point, closed)
    val ded = eng.execute(
      """{"dedup": {"batch": "id % 5 = 0", "threshold": 0.8,
           "k": 3, "num-perm": 32, "bands": 8}}""")
    val dedScans = ded.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f }
    assert(dedScans.nonEmpty)
    assert(dedScans.forall(f =>
      f.metadata("Location").contains("graft_stmt_cpin") &&
        (f.metadata("Location").contains("/hashes") ||
          f.metadata("Location").contains("/bands"))),
      s"store-served dedup must scan only the index paths:\n${
        dedScans.map(_.metadata("Location"))}")
    // {"knn"} ivf: the data scan carries the probed-cell set as a
    // PARTITION filter — the statement reads ~nprobe/nlist of the
    // index, never the whole assignment (the round-13 per-statement
    // full-corpus re-assignment, closed)
    val knn = eng.execute(
      """{"knn": {"queries": "id < 5", "k": 2, "index": "ivf",
           "nlist": 4, "nprobe": 2}}""")
    val p = knn.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*".r.findAllIn(p).toSeq
    assert(pf.exists(f => f.contains("cell") && f.contains(" IN ")),
      s"store-served knn must prune cell partitions at the scan:\n$p")
    graft.ScopedCache.release()
  }

  test("scoped index rebuild: the fact read prunes metric AND ts_day at the scan") {
    // IndexCatalog.rebuildScoped's whole point at 100 TB is that a
    // one-day correction re-derives bins from a DAY-SIZED fact read —
    // the slice's metric + ts_day predicates must land in the layout
    // scan's PartitionFilters (directories pruned before I/O), not
    // degrade to a post-scan row filter
    val dir = "/root/testdata/sf0.001"
    val ctx = graft.model.TsdbContext.fromTestdata(spark, dir)
    val path = java.nio.file.Files
      .createTempDirectory("graft_scoped_plan").toString + "/samples"
    graft.model.TsdbLayout.writeSamples(ctx, path)
    val facts = graft.model.TsdbLayout.readSamples(spark, path)
    val hourNs = 3600000000000L
    val d0 = Math.floorDiv(graft.entries.EntryUtil.UpsertLoNs, 86400000000000L)
    val ivs = Seq("purchase" ->
      graft.model.IndexCatalog.binIntervalsOf(Seq(d0, d0 + 1), hourNs))
    val p = graft.model.IndexCatalog.scopedFactSlice(facts, ivs)
      .queryExecution.executedPlan.toString
    val partFilters = "PartitionFilters: \\[[^\\]]*".r.findAllIn(p).toSeq
    assert(partFilters.exists(f => f.contains("metric") && f.contains("ts_day")),
      s"scoped rebuild's fact slice must prune metric AND ts_day:\n$p")
  }
}
