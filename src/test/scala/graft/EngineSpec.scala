package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Engine
import graft.query.Ast._

/** Ports of the reference's operator-level integration tests
  * (stdb/storage/column_store_test.cc) against the Spark engine. */
class EngineSpec extends AnyFunSuite with SparkTestBase {

  // ids 10..12, ticks [100, 200), value = 0.1*ts  (cc:133-279 scan tests)
  private lazy val ctx = rampContext(Seq(10, 11, 12), 100, 200)
  private lazy val engine = new Engine(ctx)

  test("where-location restricts the series universe before id resolution") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val rows = for (u <- 0 until 10; t <- 0L until 20L) yield (s"$u", t, u * 100.0 + t)
    val wide = rows.toDF("user", "ts", "value").withColumn("metric", lit("m"))
    val locCtx = graft.model.TsdbContext.fromWide(spark, wide, "metric",
      Seq("user"), "ts", "value",
      lonExpr = Some("cast(user as double) * 10.0"),
      latExpr = Some("cast(user as double) * 5.0"))
    val eng = new Engine(locCtx)
    val box = eng.execute(
      """{"select": "m", "range": {"from": 0, "to": 20},
         "where-location": {"box": {"lon": [0, 25], "lat": [0, 100]}}}""")
    assert(box.select("series").distinct().as[String].collect().toSet ===
      Set("m user=0", "m user=1", "m user=2"))
    // nearest to (41, 20.5): user=4 at (40,20) d²=1.25, user=5 at (50,25)
    // d²=101.25, user=3 at (30,15) d²=151.25 → k=2 keeps users 4 and 5
    val knn = eng.execute(
      """{"aggregate": {"m": "cnt"},
         "where-location": {"knn": {"lon": 41.0, "lat": 20.5, "k": 2}}}""")
    assert(knn.select("series").as[String].collect().toSet ===
      Set("m:cnt user=4", "m:cnt user=5"))
  }

  test("distinct statement: exact under k, estimator above, tagless series dropped") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    // 5 users on metric m, each sampled twice (dup hashes must not count
    // twice); metric n's one ACTIVE series has no 'user' tag at all
    val m = (1 to 5).flatMap(u => Seq((s"u$u", 10L), (s"u$u", 20L)))
      .toDF("user", "ts")
      .withColumn("metric", lit("m")).withColumn("value", lit(1.0))
    val base = graft.model.TsdbContext.fromWide(spark, m, "metric",
      Seq("user"), "ts", "value")
    val nCat = Seq((42L, "n", "n", Map.empty[String, String]))
      .toDF("series_id", "name", "metric", "tags")
      .withColumn("lon", lit(null).cast("float"))
      .withColumn("lat", lit(null).cast("float"))
    val nSamples = Seq((42L, 10L, 1.0)).toDF("series_id", "ts", "value")
    val eng = new Engine(base.copy(
      series = base.series.unionByName(nCat),
      samples = base.samples.unionByName(nSamples)))
    def run(k: Int, range: String = """{"from": 0, "to": 100}""") =
      eng.execute(s"""{"distinct": {"metric": ["m", "n"], "tag": "user",
                                    "k": $k},
                       "range": $range""" + "}")
        .select("metric", "n_kept", "est_distinct")
        .as[(String, Long, Double)].collect().toSeq
    // k > universe: n_kept = est = exact 5. Metric n is ACTIVE in range
    // but its series lacks the tag -> catalog-side isNotNull drop, no row
    assert(run(64) === Seq(("m", 5L, 5.0)))
    // k = 2 < 5: estimator branch — (k-1)*2^60/h2 for the 2nd-smallest
    // distinct user-hash; replay the arithmetic directly
    val hs = (1 to 5).map(u => graft.functions.TextKernels.hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"u$u"))).sorted
    val expect = BigDecimal(1.0 * 1152921504606846976.0 / hs(1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(run(2) === Seq(("m", 2L, expect)))
    // range excluding every sample: no active series, zero rows
    assert(run(64, """{"from": 50, "to": 60}""") === Seq())
  }

  test("changepoints statement: a planted step flags exactly the sliding boundaries") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    // one sample per µs-bucket: value 1.0 at buckets 0..9, 5.0 at 10..19
    val rows = (0 until 20).map(i =>
      ("a", i * 1000L, if (i < 10) 1.0 else 5.0))
    val wide = rows.toDF("tag", "ts", "value").withColumn("metric", lit("m"))
    val eng = new Engine(graft.model.TsdbContext.fromWide(spark, wide,
      "metric", Seq("tag"), "ts", "value"))
    val out = eng.execute(
      """{"changepoints": {"metric": "m", "step": "1us", "window": 3,
                           "min-shift": 2.0},
         "range": {"from": 0, "to": 100000}}""")
      .select("ts_us", "before_mean", "after_mean", "shift")
      .as[(Long, Double, Double, Double)].collect().toSeq
    // the step between buckets 9 and 10 flags the three boundaries whose
    // windows straddle it; the run's extremum (b=10: full 1->5 contrast)
    // is the change's best estimate — boundaries 8 and 12 stay under 2.0
    assert(out === Seq(
      (9L, 1.0, 3.666667, 2.666667),
      (10L, 1.0, 5.0, 4.0),
      (11L, 2.333333, 5.0, 2.666667)))
  }

  test("sessions statement: a planted silence splits exactly two sessions") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    // run of 5 (spacing 1 µs), a 95 µs hole, run of 3; boundary rule is
    // >= gap: spacing exactly 10000 ns would ALSO split (third series c)
    val rows = ((0L to 4L) ++ Seq(100L, 101L, 102L)).map(t =>
      ("a", t * 1000, t.toDouble)) ++
      Seq(("c", 0L, 1.0), ("c", 10000L, 2.0)) // spacing == gap exactly
    val wide = rows.toDF("tag", "ts", "value").withColumn("metric", lit("m"))
    val eng = new Engine(graft.model.TsdbContext.fromWide(spark, wide,
      "metric", Seq("tag"), "ts", "value"))
    val out = eng.execute(
      """{"sessions": {"metric": "m", "gap": "10us"},
         "range": {"from": 0, "to": 1000000}}""")
      .select("series", "start_us", "end_us", "n", "min", "max")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(out === Seq(
      ("m tag=a", 0L, 4L, 5L, 0.0, 4.0),
      ("m tag=a", 100L, 102L, 3L, 100.0, 102.0),
      ("m tag=c", 0L, 0L, 1L, 1.0, 1.0),
      ("m tag=c", 10L, 10L, 1L, 2.0, 2.0)))
  }

  test("gaps statement: planted silences flagged, thresholds respected") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    // series a: regular ticks 0..9 then a 50-tick hole then 60..64;
    // series b: dense, no hole — only a's silence may flag
    val rows = ((0L to 9L) ++ (60L to 64L)).map(t => ("a", t, 1.0)) ++
      (0L to 64L).map(t => ("b", t, 1.0))
    val wide = rows.toDF("tag", "ts", "value").withColumn("metric", lit("m"))
    val eng = new Engine(graft.model.TsdbContext.fromWide(spark, wide,
      "metric", Seq("tag"), "ts", "value"))
    val abs = eng.execute(
      """{"gaps": {"metric": "m", "min-gap": "10n"},
         "range": {"from": 0, "to": 100}}""")
      .select("series", "gap_start_us", "gap_end_us")
      .as[(String, Long, Long)].collect().toSeq
    // µs-floored outputs of the ns-exact (9, 60) interval
    assert(abs === Seq(("m tag=a", 0L, 0L)),
      s"exactly a's planted silence: $abs")
    val rel = eng.execute(
      """{"gaps": {"metric": "m", "factor": 3.0},
         "range": {"from": 0, "to": 100}}""")
      .select("series").as[String].collect().toSeq
    assert(rel === Seq("m tag=a"),
      "adaptive: only a's gap exceeds 3x its own mean spacing")
  }

  test("stale statement: never-wrote series surface with null last_ts") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    // series a last writes at t=10; b at t=99; c exists only BEFORE the
    // queried range (so it has a catalog row but no in-range samples)
    val rows = (0L to 10L).map(t => ("a", t, 1.0)) ++
      (0L to 99L).map(t => ("b", t, 1.0)) ++
      Seq(("c", -50L, 1.0))
    val wide = rows.toDF("tag", "ts", "value").withColumn("metric", lit("m"))
    val eng = new Engine(graft.model.TsdbContext.fromWide(spark, wide,
      "metric", Seq("tag"), "ts", "value"))
    // now = 100; older-than 50n -> cutoff 50: a (last 10) and c (null)
    // are stale, b (last 99) is alive
    val out = eng.execute(
      """{"stale": {"metric": "m", "older-than": "50n"},
         "range": {"from": 0, "to": 100}}""")
      .select("series", "last_ts_us")
      .as[(String, Option[Long])].collect().toSeq
    assert(out === Seq(("m tag=a", Some(0L)), ("m tag=c", None)),
      s"a stale by age, c stale by absence, b alive: $out")
  }

  test("forward scan, series order") {
    val q = SelectQuery("test", TimeRange(100, 200))
    val rows = collectSeries(engine.select(q))
    assert(rows.size === 300)
    // series order: all of T10 (ascending ts), then T11, then T12
    assert(rows.take(100).forall(_._1 === "test tag=T10"))
    assert(rows.map(_._2).take(100) === (100L until 200L))
    assert(rows.head._3 === 10.0)
  }

  test("forward scan, time order interleaves series") {
    val q = SelectQuery("test", TimeRange(100, 200), orderBy = OrderBy.Time)
    val rows = collectSeries(engine.select(q))
    assert(rows.size === 300)
    assert(rows.take(3).map(_._1) ===
      Seq("test tag=T10", "test tag=T11", "test tag=T12"))
    assert(rows.take(3).forall(_._2 === 100L))
  }

  test("backward scan emits descending timestamps, (to, from] range") {
    // reference tests scan from=end-1... backward = from>to, range (to, from]
    val q = SelectQuery("test", TimeRange(199, 99))
    val rows = collectSeries(engine.select(q))
    assert(rows.size === 300)
    assert(rows.take(100).map(_._2) === (199L to 100L by -1L))
  }

  test("where clause prunes series") {
    val q = SelectQuery("test", TimeRange(100, 200),
      where = Where.TagsIn(Map("tag" -> Seq("T10", "T12"))))
    val rows = collectSeries(engine.select(q))
    assert(rows.map(_._1).distinct === Seq("test tag=T10", "test tag=T12"))
  }

  test("limit and offset") {
    val q = SelectQuery("test", TimeRange(100, 200), limit = Some(5), offset = Some(2))
    val rows = collectSeries(engine.select(q))
    assert(rows.size === 5)
    assert(rows.head._2 === 102L) // offset actually skips (no reference bug)
  }

  test("value filter keeps matching rows (cc:851-1017)") {
    // alternating sign fixture: value = ts%2==0 ? -0.1*ts : 0.1*ts
    val ctx2 = rampContext(Seq(10), 100, 200,
      ts => if (ts % 2 == 0) -0.1 * ts else 0.1 * ts)
    val e2 = new Engine(ctx2)
    val q = SelectQuery("test", TimeRange(100, 200),
      filter = Some(ValueFilter(ge = Some(0.0))))
    val rows = collectSeries(e2.select(q))
    assert(rows.size === 50) // odd ticks only
    assert(rows.forall(_._3 >= 0.0))
  }

  test("whole-range aggregate sum (cc:438-479)") {
    val q = AggregateQuery(Seq(("test", AggFunc.Sum)), Some(TimeRange(100, 200)))
    val rows = collectSeries(engine.aggregate(q))
    assert(rows.size === 3)
    val expected = (100L until 200L).map(0.1 * _).sum
    rows.foreach { case (series, ts, v) =>
      assert(series.startsWith("test:sum tag="))
      assert(ts === 100L)
      assert(math.abs(v - expected) < 1e-9)
    }
  }

  test("aggregate with group-by-tag combines series (cc:481-539)") {
    val q = AggregateQuery(Seq(("test", AggFunc.Sum)), Some(TimeRange(100, 200)),
      groupBy = Some(GroupByTag(GroupByOp.Group, Seq("tag"))))
    val rows = collectSeries(engine.aggregate(q))
    assert(rows.size === 1)
    assert(rows.head._1 === "test:sum")
    val expected = 3 * (100L until 200L).map(0.1 * _).sum
    assert(math.abs(rows.head._3 - expected) < 1e-9)
  }

  test("all 11 aggregation functions") {
    val ctx1 = rampContext(Seq(10), 100, 200)
    val e1 = new Engine(ctx1)
    def agg(f: AggFunc): Double =
      collectSeries(e1.aggregate(AggregateQuery(Seq(("test", f)),
        Some(TimeRange(100, 200))))).head._3
    def approx(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9
    assert(agg(AggFunc.Min) === 10.0)
    assert(approx(agg(AggFunc.Max), 19.9))
    assert(agg(AggFunc.Cnt) === 100.0)
    assert(approx(agg(AggFunc.Mean), (100L until 200L).map(0.1 * _).sum / 100))
    assert(agg(AggFunc.First) === 10.0)
    assert(approx(agg(AggFunc.Last), 19.9))
    assert(agg(AggFunc.MinTimestamp) === 100.0)
    assert(agg(AggFunc.MaxTimestamp) === 199.0)
    assert(agg(AggFunc.FirstTimestamp) === 100.0)
    assert(agg(AggFunc.LastTimestamp) === 199.0)
  }

  test("group-aggregate min, step 10 (cc:668-762)") {
    val q = GroupAggregateQuery(Seq("test"), Seq(AggFunc.Min), step = 10,
      TimeRange(100, 200), where = Where.TagsIn(Map("tag" -> Seq("T10"))))
    val df = engine.groupAggregate(q)
    val rows = df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.size === 10)
    // first value of each bin = 0.1 * bin_start (cc:704-711)
    rows.foreach { case (series, ts, v) =>
      assert(series === "test:min tag=T10")
      assert((ts - 100) % 10 === 0)
      assert(math.abs(v - 0.1 * ts) < 1e-9)
    }
  }

  test("group-aggregate multi-func emits one column per func") {
    val q = GroupAggregateQuery(Seq("test"), Seq(AggFunc.Min, AggFunc.Max), step = 50,
      TimeRange(100, 200), where = Where.TagsIn(Map("tag" -> Seq("T10"))))
    val df = engine.groupAggregate(q)
    assert(df.columns.toSeq === Seq("series", "ts", "min", "max"))
    val rows = df.collect().toSeq
    assert(rows.size === 2)
    assert(rows.head.getString(0) === "test:min|test:max tag=T10")
    assert(rows.head.getDouble(2) === 10.0) // min of bin [100,150)
    assert(math.abs(rows.head.getDouble(3) - 14.9) < 1e-9)
  }

  test("group-aggregate HAVING filter on max") {
    val q = GroupAggregateQuery(Seq("test"), Seq(AggFunc.Max), step = 10,
      TimeRange(100, 200), where = Where.TagsIn(Map("tag" -> Seq("T10"))),
      filters = Map("max" -> ValueFilter(gt = Some(15.0))))
    val df = engine.groupAggregate(q)
    val rows = df.collect().toSeq
    // bins with max > 15.0: bins starting at 150..190 (max 15.9..19.9)
    assert(rows.size === 5)
  }

  test("join aligns two metrics on timestamp (cc:585-666)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two metrics m1, m2 sharing tag T1; m2 only has even ticks
    val rows1 = (100L until 110L).map(ts => ("m1", "T1", ts, 1.0 * ts))
    val rows2 = (100L until 110L by 2).map(ts => ("m2", "T1", ts, 2.0 * ts))
    val wide = (rows1 ++ rows2).toDF("metric", "tag", "ts", "value")
    val ctxJ = graft.model.TsdbContext.fromWide(spark, wide, "metric", Seq("tag"), "ts", "value")
    val eJ = new Engine(ctxJ)
    val df = eJ.join(JoinQuery(Seq("m1", "m2"), TimeRange(100, 110)))
    assert(df.columns.toSeq === Seq("series", "ts", "m1", "m2"))
    val out = df.collect().toSeq
    assert(out.size === 10)
    assert(out.forall(_.getString(0) === "m1|m2 tag=T1"))
    // odd ts → m2 null (the presence bitmap)
    val odd = out.filter(_.getLong(1) % 2 === 1)
    assert(odd.forall(_.isNullAt(3)))
    val even = out.filter(_.getLong(1) % 2 === 0)
    assert(even.forall(r => r.getDouble(3) === 2.0 * r.getLong(1)))
  }

  test("group-aggregate-join downsamples then joins") {
    import spark.implicits._
    val rows1 = (100L until 120L).map(ts => ("m1", "T1", ts, 1.0 * ts))
    val rows2 = (100L until 120L).map(ts => ("m2", "T1", ts, 2.0 * ts))
    val wide = (rows1 ++ rows2).toDF("metric", "tag", "ts", "value")
    val ctxJ = graft.model.TsdbContext.fromWide(spark, wide, "metric", Seq("tag"), "ts", "value")
    val eJ = new Engine(ctxJ)
    val df = eJ.groupAggregateJoin(GroupAggregateJoinQuery(
      Seq("m1", "m2"), AggFunc.Max, step = 10, TimeRange(100, 120)))
    val out = df.orderBy("ts").collect().toSeq
    assert(out.size === 2)
    assert(out.map(_.getLong(1)) === Seq(100L, 110L))
    assert(out.head.getDouble(2) === 109.0) // max of m1 in [100,110)
    assert(out.head.getDouble(3) === 218.0) // max of m2 in [100,110)
  }

  test("group-aggregate-join filter: failing slots go absent, ANY keeps the row") {
    import spark.implicits._
    val rows1 = (100L until 120L).map(ts => ("m1", "T1", ts, 1.0 * ts))
    val rows2 = (100L until 120L).map(ts => ("m2", "T1", ts, 2.0 * ts))
    val wide = (rows1 ++ rows2).toDF("metric", "tag", "ts", "value")
    val ctxJ = graft.model.TsdbContext.fromWide(spark, wide, "metric", Seq("tag"), "ts", "value")
    val eJ = new Engine(ctxJ)
    // bins: [100,110) max m1=109 m2=218; [110,120) max m1=119 m2=238
    val any = eJ.groupAggregateJoin(GroupAggregateJoinQuery(
      Seq("m1", "m2"), AggFunc.Max, step = 10, TimeRange(100, 120),
      filters = Map("m1" -> ValueFilter(gt = Some(110)), "m2" -> ValueFilter(le = Some(220))),
      combiner = FilterCombiner.Any)).orderBy("ts").collect().toSeq
    assert(any.size === 2)
    assert(any.head.isNullAt(2) && any.head.getDouble(3) === 218.0) // m1 109 fails
    assert(any(1).getDouble(2) === 119.0 && any(1).isNullAt(3))     // m2 238 fails
    val all = eJ.groupAggregateJoin(GroupAggregateJoinQuery(
      Seq("m1", "m2"), AggFunc.Max, step = 10, TimeRange(100, 120),
      filters = Map("m1" -> ValueFilter(gt = Some(110)), "m2" -> ValueFilter(le = Some(220))),
      combiner = FilterCombiner.All)).collect()
    assert(all.isEmpty) // no bin passes both
  }

  test("group-aggregate-join filter validation: unknown metric / illegal func") {
    import spark.implicits._
    val wide = (100L until 110L).flatMap(ts =>
      Seq(("m1", "T1", ts, 1.0), ("m2", "T1", ts, 2.0)))
      .toDF("metric", "tag", "ts", "value")
    val ctxJ = graft.model.TsdbContext.fromWide(spark, wide, "metric", Seq("tag"), "ts", "value")
    val eJ = new Engine(ctxJ)
    intercept[BadQuery] {
      eJ.execute("""{"group-aggregate-join": {"metric": ["m1", "m2"],
        "step": "10", "func": "max"},
        "range": {"from": 100, "to": 110},
        "filter": {"nosuch": {"gt": 1}}}""")
    }
    // reference rejects filters against non-min/max/mean funcs
    // (convert_aggregate_filter, query_plan_builder.cc:58-107)
    intercept[BadQuery] {
      eJ.execute("""{"group-aggregate-join": {"metric": ["m1", "m2"],
        "step": "10", "func": "sum"},
        "range": {"from": 100, "to": 110},
        "filter": {"m1": {"gt": 1}}}""")
    }
  }

  test("multi-metric group-aggregate keeps its filter through the join delegation") {
    import spark.implicits._
    val rows1 = (100L until 120L).map(ts => ("m1", "T1", ts, 1.0 * ts))
    val rows2 = (100L until 120L).map(ts => ("m2", "T1", ts, 2.0 * ts))
    val wide = (rows1 ++ rows2).toDF("metric", "tag", "ts", "value")
    val ctxJ = graft.model.TsdbContext.fromWide(spark, wide, "metric", Seq("tag"), "ts", "value")
    val eJ = new Engine(ctxJ)
    // func-keyed filter replicates across both metric columns, ALL combine:
    // only the [110,120) bin has max(m1)=119 > 110 AND max(m2)=238 > 110
    val out = eJ.execute("""{"group-aggregate": {"metric": ["m1", "m2"],
        "step": "10", "func": "max"},
        "range": {"from": 100, "to": 120},
        "filter": {"max": {"gt": 110}}}""").collect().toSeq
    assert(out.size === 1)
    assert(out.head.getLong(1) === 110L)
    intercept[BadQuery] { // filter naming a func the query doesn't compute
      eJ.execute("""{"group-aggregate": {"metric": ["m1", "m2"],
        "step": "10", "func": "max"},
        "range": {"from": 100, "to": 120},
        "filter": {"min": {"gt": 110}}}""")
    }
  }

  test("pivot-by-tag keeps only listed tags") {
    import spark.implicits._
    val rows = for (h <- Seq("h1", "h2"); r <- Seq("eu", "us"); ts <- 100L until 110L)
      yield ("cpu", h, r, ts, 1.0)
    val wide = rows.toDF("metric", "host", "region", "ts", "value")
    val c = graft.model.TsdbContext.fromWide(spark, wide, "metric", Seq("host", "region"), "ts", "value")
    val e = new Engine(c)
    val q = AggregateQuery(Seq(("cpu", AggFunc.Sum)), Some(TimeRange(100, 110)),
      groupBy = Some(GroupByTag(GroupByOp.Pivot, Seq("region"))))
    val out = collectSeries(e.aggregate(q))
    assert(out.map(_._1).sorted === Seq("cpu:sum region=eu", "cpu:sum region=us"))
    assert(out.forall(_._3 === 20.0)) // 2 hosts × 10 ticks
  }

  test("search returns matching series names") {
    val df = engine.search(SearchQuery("test", Where.TagsIn(Map("tag" -> Seq("T10")))))
    val names = df.collect().map(_.getString(1)).toSeq
    assert(names === Seq("test tag=T10"))
  }

  test("select-events rejects apply chains instead of dropping them") {
    intercept[BadQuery] {
      engine.selectEvents(SelectEventsQuery("!test", TimeRange(100, 300),
        apply = Seq(ApplySpec("cusum", Map.empty))))
    }
  }

  test("fuzzy search: metric prefix + tag containment (queryparser.cc:210-275)") {
    val names = engine.searchFuzzy("te", Where.TagsIn(Map("tag" -> Seq("T10", "T11"))))
      .collect().map(_.getString(1)).toSeq
    assert(names === Seq("test tag=T10", "test tag=T11"))
    assert(engine.searchFuzzy("nope").collect().isEmpty)
  }

  test("suggest metric names / tag names / tag values") {
    val e = engine
    assert(e.suggest(SuggestQuery(SuggestKind.MetricNames, startsWith = Some("te")))
      .collect().map(_.getString(0)).toSeq === Seq("test"))
    assert(e.suggest(SuggestQuery(SuggestKind.TagNames))
      .collect().map(_.getString(0)).toSeq === Seq("tag"))
    assert(e.suggest(SuggestQuery(SuggestKind.TagValues, metric = Some("test"),
      tag = Some("tag"), startsWith = Some("T1")))
      .collect().map(_.getString(0)).toSeq === Seq("T10", "T11", "T12"))
  }

  test("JSON end-to-end: the reference scan query shape") {
    val df = engine.execute(
      """{"select": "test", "range": {"from": 100, "to": 110},
          "where": {"tag": ["T10"]}, "order-by": "time"}""")
    val rows = collectSeries(df)
    assert(rows.size === 10)
    assert(rows.map(_._2) === (100L until 110L))
  }

  test("asof-join: left rows carry the latest right value; tolerance nulls stale matches") {
    import spark.implicits._
    val rows = Seq(
      ("l", "T1", 100L, 1.0), ("l", "T1", 150L, 2.0), ("l", "T1", 90L, 0.5),
      ("r", "T1", 95L, 10.0), ("r", "T1", 140L, 20.0),
      ("l", "T2", 100L, 3.0)) // T2 has no right rows at all
    val wide = rows.toDF("metric", "tag", "ts", "value")
    val eng = new Engine(graft.model.TsdbContext.fromWide(
      spark, wide, "metric", Seq("tag"), "ts", "value"))
    val out = eng.asofJoin(AsofJoinQuery("l", "r", TimeRange(0, 200)))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(out === Seq(
      ("l|r tag=T1", 90L, None), // before any right row
      ("l|r tag=T1", 100L, Some(10.0)),
      ("l|r tag=T1", 150L, Some(20.0)),
      ("l|r tag=T2", 100L, None)))
    // tolerance 5ns: the 150->140 match (staleness 10) is nulled
    val tol = eng.asofJoin(AsofJoinQuery("l", "r", TimeRange(0, 200),
        toleranceNs = Some(5L)))
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(tol === Seq((90L, None), (100L, Some(10.0)), (150L, None), (100L, None)))
  }

  test("asof tolerance gates on the VALUE's row, not a later null-valued row") {
    import spark.implicits._
    // right: value 1.0 at ts 10, then a NULL value at ts 20; left at ts 25
    // with tolerance 10 must NOT treat the null row as a fresh match for
    // the carried 1.0 (staleness is 15, beyond tolerance)
    val left = Seq(("k", 25L, 7.0)).toDF("key", "ts", "lv")
    val right = Seq(("k", 10L, Some(1.0)), ("k", 20L, None: Option[Double]))
      .toDF("key", "ts", "rv")
    val out = graft.ops.TimeJoins.asof(left, right, Seq("key"), Seq("rv"),
        toleranceNs = Some(10L))
      .select("ts", "rv").as[(Long, Option[Double])].collect().toSeq
    assert(out === Seq((25L, None)))
    // without tolerance the stale value still carries (documented)
    val noTol = graft.ops.TimeJoins.asof(left, right, Seq("key"), Seq("rv"))
      .select("rv").as[Option[Double]].head()
    assert(noTol === Some(1.0))
  }

  test("asof-join filter applies per side BEFORE alignment") {
    import spark.implicits._
    import graft.query.QueryParser
    val rows = Seq(
      ("l", "T1", 100L, 1.0), ("l", "T1", 150L, 2.0),
      ("r", "T1", 95L, 10.0), ("r", "T1", 140L, 200.0))
    val wide = rows.toDF("metric", "tag", "ts", "value")
    val eng = new Engine(graft.model.TsdbContext.fromWide(
      spark, wide, "metric", Seq("tag"), "ts", "value"))
    // filter r < 100: the 200.0 row is removed from the scan, so the
    // left row at 150 falls back to the older 10.0 — NOT null
    val out = eng.run(QueryParser.parse(
      """{"asof-join": {"left": "l", "right": "r"},
          "range": {"from": 0, "to": 200},
          "filter": {"r": {"lt": 100}}}"""))
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toSeq
    assert(out === Seq((100L, 10.0), (150L, 10.0)))
    // '=' combiner is rejected, not ignored
    assertThrows[BadQuery](QueryParser.parse(
      """{"asof-join": {"left": "l", "right": "r"},
          "range": {"from": 0, "to": 200},
          "filter": {"r": {"lt": 100}, "=": {"require": "any"}}}"""))
    assertThrows[BadQuery](QueryParser.parse(
      """{"asof-join": {"left": "l", "right": "r"},
          "range": {"from": 0, "to": 200},
          "filter": {"zzz": {"lt": 100}}}"""))
  }

  test("asof-join JSON validation: same metric, bad keys, group-by all rejected") {
    import graft.query.QueryParser
    assertThrows[BadQuery](QueryParser.parse(
      """{"asof-join": {"left": "m", "right": "m"},
          "range": {"from": 0, "to": 10}}"""))
    assertThrows[BadQuery](QueryParser.parse(
      """{"asof-join": {"left": "a", "right": "b", "lag": "1h"},
          "range": {"from": 0, "to": 10}}"""))
    assertThrows[BadQuery](QueryParser.parse(
      """{"asof-join": {"left": "a", "right": "b"},
          "range": {"from": 0, "to": 10}, "group-by-tag": ["x"]}"""))
    assertThrows[BadQuery](QueryParser.parse(
      """{"asof-join": ["a", "b"], "range": {"from": 0, "to": 10}}"""))
  }

  test("multi-tag series: GROUP drops listed tags, PIVOT keeps only listed") {
    import spark.implicits._
    // 2x2 tag grid (host x dc), one point per series — the first fixture
    // where drop-vs-keep semantics actually diverge
    val rows = for (h <- Seq("a", "b"); d <- Seq("x", "y"))
      yield (h, d, 100L, 1.0)
    val wide = rows.toDF("host", "dc", "ts", "value")
      .withColumn("metric", org.apache.spark.sql.functions.lit("m"))
    val eng = new Engine(graft.model.TsdbContext.fromWide(
      spark, wide, "metric", Seq("host", "dc"), "ts", "value"))
    def seriesOf(q: SelectQuery): Seq[String] =
      eng.select(q).select("series").distinct().as[String].collect().toSeq.sorted
    val range = TimeRange(0, 200)
    // GROUP drops host: series merge under the remaining dc tag
    assert(seriesOf(SelectQuery("m", range,
      groupBy = Some(GroupByTag(GroupByOp.Group, Seq("host"))))) ===
      Seq("m dc=x", "m dc=y"))
    // PIVOT keeps ONLY host: dc is dropped
    assert(seriesOf(SelectQuery("m", range,
      groupBy = Some(GroupByTag(GroupByOp.Pivot, Seq("host"))))) ===
      Seq("m host=a", "m host=b"))
    // canonical rendering sorts tag keys: no-op groupBy yields "dc" first
    assert(seriesOf(SelectQuery("m", range)) ===
      Seq("m dc=x host=a", "m dc=x host=b", "m dc=y host=a", "m dc=y host=b"))
    // group-aggregate composes: dropping host merges 2 series per dc bin
    val ga = eng.groupAggregate(GroupAggregateQuery(Seq("m"), Seq(AggFunc.Cnt),
      step = 100, range = range,
      groupBy = Some(GroupByTag(GroupByOp.Group, Seq("host")))))
    val counts = ga.collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(counts === Map("m:cnt dc=x" -> 2.0, "m:cnt dc=y" -> 2.0))
  }

  test("where-location knn on a join keeps BOTH metrics at each selected location") {
    import spark.implicits._
    // two co-tagged metrics at three explicit locations (lonExpr/latExpr
    // derive coordinates from the tag); k below the location count, so
    // every kept location must carry both metric columns non-null at
    // aligned timestamps
    val rows = for {
      m <- Seq("m1", "m2"); tag <- Seq("1", "2", "3"); ts <- 100L to 102L
    } yield (m, tag, ts, ts * 1.0)
    val wide = rows.toDF("metric", "tag", "ts", "value")
    val ctx2 = graft.model.TsdbContext.fromWide(
      spark, wide, "metric", Seq("tag"), "ts", "value",
      lonExpr = Some("cast(tag as double) * 10.0"),
      latExpr = Some("cast(tag as double) * 10.0"))
    val eng = new Engine(ctx2)
    val out = eng.join(JoinQuery(Seq("m1", "m2"), TimeRange(100, 200),
      location = Some(LocationFilter.Knn(0.0, 0.0, k = 2))))
    val cols = out.columns.toSeq
    assert(cols.contains("m1") && cols.contains("m2"))
    val rows2 = out.collect()
    assert(rows2.nonEmpty)
    // the k-cut selects LOCATIONS: no fabricated absent slots — every row
    // has both metrics present (the data is fully aligned)
    rows2.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("m1")) && !r.isNullAt(r.fieldIndex("m2")),
        s"spurious absent slot in $r")
    }
    // exactly 2 of the 3 tag sets survive
    assert(rows2.map(_.getString(0)).distinct.length === 2)
  }

  test("where-location box with non-numeric bounds is a BadQuery, not [0,0]") {
    import graft.query.QueryParser
    assertThrows[BadQuery](QueryParser.parse(
      """{"select": "test", "range": {"from": "20240101T000000", "to": "20240102T000000"},
          "where-location": {"box": {"lon": ["a", "b"], "lat": [0, 10]}}}"""))
  }

  test("fill composes with group-by-tag: the merged series fills as one grid") {
    import spark.implicits._
    // sparse points on two tags; dropping the tag merges them into ONE
    // series, and fill grids the MERGED stream: 100..140 step 10
    val wide = Seq(("T1", 100L, 1.0), ("T1", 140L, 5.0), ("T2", 120L, 3.0))
      .toDF("tag", "ts", "value")
      .withColumn("metric", org.apache.spark.sql.functions.lit("test"))
    val sparseCtx = graft.model.TsdbContext.fromWide(
      spark, wide, "metric", Seq("tag"), "ts", "value")
    val out = new Engine(sparseCtx).select(SelectQuery("test",
        TimeRange(100, 200),
        groupBy = Some(GroupByTag(GroupByOp.Group, Seq("tag"))),
        apply = Seq(ApplySpec("fill",
          Map("step" -> "10n", "method" -> "linear")))))
    val rows = collectSeries(out)
    assert(rows.map(_._1).distinct === Seq("test"))
    assert(rows.map(_._2) === (100L to 140L by 10L))
    // linear between the merged points (100,1) (120,3) (140,5)
    assert(rows.map(_._3) === Seq(1.0, 2.0, 3.0, 4.0, 5.0))
  }

  test("knn statement: one JSON surface for similarity search — brute and ivf serve the Similarity results; misuse is BadQuery") {
    import spark.implicits._
    import graft.query.QueryParser
    // three tight 2-d clusters; queries = ids < 10
    val emb = (Seq(6L -> Array(0f, 10f), 1L -> Array(1f, 10f),
      19L -> Array(0f, -10f), 3L -> Array(1f, -10f),
      9L -> Array(10f, 0f), 8L -> Array(10f, 1.5f)))
      .toDF("id", "embedding")
    val base = rampContext(Seq(1), 0L, 4L)
    val centers = graft.pipeline.Similarity.fitCodebook(emb, nlist = 3,
      iters = 2)
    val eng = new Engine(base.copy(embeddings = Some(emb),
      ivfCodebook = Some(centers)))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rowsOf(eng.execute(
        """{"knn": {"queries": "id < 10", "k": 2, "index": "brute"}}""")) ===
      rowsOf(graft.pipeline.Similarity.knnBrute(emb,
        emb.where($"id" < 10).select($"id".as("qid"), $"embedding"), k = 2)))
    // ivf with matching nlist serves from the REGISTERED codebook
    assert(rowsOf(eng.execute(
        """{"knn": {"queries": "id < 10", "k": 2, "index": "ivf",
             "nlist": 3, "nprobe": 1}}""")) ===
      rowsOf(graft.pipeline.Similarity.knnIvfWith(centers, emb,
        emb.where($"id" < 10).select($"id".as("qid"), $"embedding"),
        k = 2, nprobe = 1)))
    // validation: every misuse is BadQuery, never a Catalyst internal
    def bad(q: String): Unit = assertThrows[BadQuery](eng.execute(q))
    bad("""{"knn": {"queries": "id < 10", "index": "brute"}}""") // no k
    bad("""{"knn": {"k": 2, "index": "brute"}}""")               // no queries
    bad("""{"knn": {"k": 2, "queries": "id < 10"}}""")           // no index
    bad("""{"knn": {"k": 2, "queries": "id < 10", "index": "hnsw"}}""")
    bad("""{"knn": {"k": 2, "queries": "id < 10", "index": "ivf"}}""") // no nlist
    bad("""{"knn": {"k": 2, "queries": "id < 10", "index": "ivf",
           "nlist": 2, "nprobe": 3}}""")                         // nprobe > nlist
    bad("""{"knn": {"k": 2, "queries": "id < 10", "index": "brute",
           "nlist": 2}}""")                                      // brute + ivf param
    bad("""{"knn": {"k": 2, "queries": "id < 10", "index": "brute",
           "zzz": 1}}""")                                        // unknown key
    bad("""{"knn": {"k": 2, "queries": "id < 10", "index": "brute"},
           "range": {"from": 0, "to": 10}}""")                   // TSDB clause
    bad("""{"knn": {"k": 2, "queries": "no_such_col < 10",
           "index": "brute"}}""")                                // unresolvable
    bad("""{"knn": {"k": 2, "queries": "id <", "index": "brute"}}""") // malformed
    // a context without the table refuses loudly
    assertThrows[BadQuery](new Engine(base).execute(
      """{"knn": {"k": 2, "queries": "id < 10", "index": "brute"}}"""))
    // the in-row assignment ceiling is enforced at the STATEMENT
    // boundary (r15): past MaxInRowProbeCenters a store-less statement
    // would silently pay the window-fallback's nlist× corpus shuffle
    // per query — that regime must serve from a persisted
    // EmbeddingStore, and the refusal says so
    val over = graft.pipeline.Similarity.MaxInRowProbeCenters + 1
    val eOver = intercept[BadQuery](eng.execute(
      s"""{"knn": {"k": 2, "queries": "id < 10", "index": "ivf",
            "nlist": $over, "nprobe": 1}}"""))
    assert(eOver.getMessage.contains("in-row assignment ceiling") &&
      eOver.getMessage.contains("EmbeddingStore"))
  }

  test("dedup statement: the incremental-dedup split through the JSON surface equals the Scala API; misuse is BadQuery") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),   // exact dup of 1
      (3L, "totally different words entirely here now"),
      (10L, "alpha beta gamma delta epsilon zeta"),  // batch: exact dup
      (20L, "unseen fresh novel content nothing matches"))
      .toDF("id", "text")
    val base = rampContext(Seq(1), 0L, 4L)
    val eng = new Engine(base.copy(documents = Some(docs)))
    val out = eng.execute(
        """{"dedup": {"batch": "id >= 10", "threshold": 0.8}}""")
      .orderBy("id")
      .select("id", "exact_dup_of", "status")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getString(2))).toSeq
    assert(out === Seq((10L, Some(1L), "exact"), (20L, None, "new")))
    def bad(q: String): Unit = assertThrows[BadQuery](eng.execute(q))
    bad("""{"dedup": {"threshold": 0.8}}""")                    // no batch
    bad("""{"dedup": {"batch": "id >= 10"}}""")                 // no threshold
    bad("""{"dedup": {"batch": "id >= 10", "threshold": 1.5}}""")
    bad("""{"dedup": {"batch": "id >= 10", "threshold": 0.8,
           "num-perm": 30, "bands": 8}}""")        // num-perm % bands != 0
    bad("""{"dedup": {"batch": "id >= 10", "threshold": 0.8, "zzz": 1}}""")
    bad("""{"dedup": {"batch": "id >= 10", "threshold": 0.8},
           "limit": 5}""")                          // TSDB clause
    bad("""{"dedup": {"batch": "nope > 1", "threshold": 0.8}}""")
    assertThrows[BadQuery](new Engine(base).execute(
      """{"dedup": {"batch": "id >= 10", "threshold": 0.8}}"""))
    // ambiguity across halves is still one-statement-only
    assertThrows[BadQuery](graft.query.QueryParser.parse(
      """{"dedup": {"batch": "id >= 10", "threshold": 0.8},
           "select": "m", "range": {"from": 0, "to": 1}}"""))
    // three-valued logic: a row where the batch predicate evaluates to
    // NULL is not in the batch, so it MUST be in the corpus — doc 1
    // (null source) is the exact duplicate the batch doc must find
    val docsN = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", Option.empty[String]),
      (10L, "alpha beta gamma delta epsilon zeta", Some("crawl2")))
      .toDF("id", "text", "source")
    val outN = new Engine(base.copy(documents = Some(docsN))).execute(
        """{"dedup": {"batch": "source = 'crawl2'", "threshold": 0.8}}""")
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(outN === Seq((10L, "exact")),
      "a NULL-predicate corpus row must not vanish from the split")
  }

  test("store-registered statements: {\"dedup\"}/{\"knn\"} serve from the registered stores and refuse parameter drift against the manifest recipe") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
        (i, (1 to 12).map(w => s"w${(i * 7 + w) % 9}").mkString(" ")))
      .toDF("id", "text")
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_stmt_cstore").toString
    graft.pipeline.CorpusStore.create(spark, corpusDir,
      docs.where($"id" % 5 =!= 0), "id", "text",
      k = 3, numPerm = 16, bands = 4)
    val vecs = (1L to 40L).map(i => (i, Array.tabulate(4)(d =>
      (((i * 31 + d * 7) % 11).toFloat - 5f)))).toDF("id", "embedding")
    val embDir = java.nio.file.Files
      .createTempDirectory("graft_stmt_estore").toString
    graft.pipeline.EmbeddingStore.create(spark, embDir, vecs,
      nlist = 3, iters = 1, pq = Some((2, 3)))
    val base = rampContext(Seq(1), 0L, 4L)
    val eng = new Engine(base.copy(documents = Some(docs),
      embeddings = Some(vecs), corpusStore = Some(corpusDir),
      embeddingStore = Some(embDir)))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // dedup: the store-served statement equals probeBatch directly
    assert(rowsOf(eng.execute(
        """{"dedup": {"batch": "id % 5 = 0", "threshold": 0.8,
             "k": 3, "num-perm": 16, "bands": 4}}""")) ===
      rowsOf(graft.pipeline.CorpusStore.probeBatch(spark, corpusDir,
        docs.where($"id" % 5 === 0), 0.8)))
    // knn ivf/ivfpq: the store-served statements equal the store calls
    val q = vecs.where($"id" < 5).select($"id".as("qid"), $"embedding")
    assert(rowsOf(eng.execute(
        """{"knn": {"queries": "id < 5", "k": 2, "index": "ivf",
             "nlist": 3, "nprobe": 2}}""")) ===
      rowsOf(graft.pipeline.EmbeddingStore.knn(spark, embDir, q, 2, 2)))
    assert(rowsOf(eng.execute(
        """{"knn": {"queries": "id < 5", "k": 2, "index": "ivfpq",
             "nlist": 3, "nprobe": 2, "m": 2, "ksub": 3}}""")) ===
      rowsOf(graft.pipeline.EmbeddingStore.knnPq(spark, embDir, q, 2, 2)))
    // parameter drift against a registered recipe is BadQuery, never a
    // silent per-statement recompute
    def bad(json: String, fragment: String): Unit = {
      val e = intercept[BadQuery](eng.execute(json))
      assert(e.getMessage.contains(fragment),
        s"expected '$fragment' in: ${e.getMessage}")
    }
    bad("""{"dedup": {"batch": "id % 5 = 0", "threshold": 0.8,
           "k": 3, "num-perm": 32, "bands": 8}}""",
      "do not match the registered corpus store's recipe")
    bad("""{"knn": {"queries": "id < 5", "k": 2, "index": "ivf",
           "nlist": 8}}""",
      "does not match the registered embedding store's recipe")
    bad("""{"knn": {"queries": "id < 5", "k": 2, "index": "ivfpq",
           "nlist": 3, "m": 4, "ksub": 3}}""",
      "do not match the registered embedding store's recipe")
    // a context whose registration is not a store fails at CONSTRUCTION
    assertThrows[IllegalArgumentException](new Engine(
      base.copy(documents = Some(docs), corpusStore = Some("/tmp/nope"))))
    graft.ScopedCache.release()
  }

  test("statement predicates admit only comparison/boolean/arithmetic trees — function calls (reflect/java_method) are BadQuery") {
    import spark.implicits._
    val base = rampContext(Seq(1), 0L, 4L)
    val eng = new Engine(base.copy(
      documents = Some(Seq((1L, "alpha beta"), (10L, "alpha beta"))
        .toDF("id", "text")),
      embeddings = Some(Seq(1L -> Array(1f, 0f), 2L -> Array(0f, 1f))
        .toDF("id", "embedding"))))
    def bad(q: String): Unit = {
      val e = intercept[BadQuery](eng.execute(q))
      assert(e.getMessage.contains("statement-predicate grammar"),
        s"wrong refusal for $q: ${e.getMessage}")
    }
    // the injection surface the whitelist closes: Catalyst's
    // side-effectful built-ins must not be reachable from the JSON
    // front end's required free-form predicate strings
    bad("""{"dedup": {"batch":
         "java_method('java.lang.System', 'getProperty', 'user.dir') = ''",
         "threshold": 0.8}}""")
    bad("""{"knn": {"k": 1, "index": "brute", "queries":
         "reflect('java.lang.Thread', 'sleep', 0L) IS NULL"}}""")
    // ANY function call is outside the grammar, benign ones included
    bad("""{"dedup": {"batch": "length(text) > 3", "threshold": 0.8}}""")
    bad("""{"dedup": {"batch": "rand() < 0.5", "threshold": 0.8}}""")
    // ...while the grammar itself stays expressive: comparisons,
    // boolean connectives, arithmetic, IN/BETWEEN/LIKE/null tests, CAST
    def ok(q: String): Unit = assert(eng.execute(q).count() >= 0L)
    ok("""{"dedup": {"batch":
         "id >= 10 AND NOT (id % 3 = 1) OR id IN (7, 8)",
         "threshold": 0.8}}""")
    ok("""{"dedup": {"batch":
         "id BETWEEN 10 AND 20 AND text LIKE 'alpha%'",
         "threshold": 0.8}}""")
    ok("""{"dedup": {"batch":
         "text RLIKE 'alp.a' AND text IS NOT NULL",
         "threshold": 0.8}}""")
    ok("""{"dedup": {"batch": "CAST(id AS STRING) = '10'",
         "threshold": 0.8}}""")
    ok("""{"knn": {"k": 1, "index": "brute",
         "queries": "-id + 3 > 1"}}""")
  }

  test("hostile inputs over the sf0.001 testdata: no-match statements answer 0 rows, engine-level misuse is BadQuery") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val sf = SparkTestBase.Sf0001
    val bare = new Engine(graft.model.TsdbContext.fromTestdata(spark, sf))
    val withDocs = new Engine(bare.ctx.copy(documents = Some(
      spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id").as("id"), col("text")))))
    val r = """"range": {"from": "20240101T000000", "to": "20240401T000000"}"""
    val back = """"range": {"from": "20240401T000000", "to": "20240101T000000"}"""
    def withApply(node: String) = s"""{"select": "purchase", $r, "apply": [$node]}"""
    // (engine, statement, Right(rows) or Left(refusal fragment))
    val cases: Seq[(Engine, String, Either[String, Long])] = Seq(
      (bare, s"""{"select": "no_such_metric", $r}""", Right(0L)),
      (bare, s"""{"select": "purchase", $r, "where": {"user_id": ["999999"]}}""",
        Right(0L)),
      (bare, s"""{"quantile": {"metric": "no_such_metric", "p": [0.5]}, $r}""",
        Right(0L)),
      (bare, s"""{"correlate": {"metric": ["click", "no_such_metric"],
         "step": "1h"}, $r}""", Right(0L)),
      (bare, s"""{"autocorr": {"metric": ["no_such_metric"], "step": "1h",
         "lags": ["1h"]}, $r}""", Right(0L)),
      (bare, s"""{"distinct": {"metric": ["click"], "tag": "no_such_tag"}, $r}""",
        Right(0L)),
      (bare, s"""{"anomaly": {"metric": "no_such_metric"}, $r}""", Right(0L)),
      (bare, s"""{"select": "purchase", $r, "where-location":
         {"box": {"lon": [179, 180], "lat": [89, 90]}}}""", Right(0L)),
      (bare, s"""{"select": "purchase", $back}""", Right(202L)),
      (bare, s"""{"select-events": "!log", $r, "apply": [{"name": "cusum"}]}""",
        Left("select-events does not support 'apply'")),
      (bare, withApply("""{"name": "cubic-spline"}"""),
        Left("apply node 'cubic-spline': unknown node")),
      (bare, withApply("""{"name": "sma"}"""),
        Left("apply node 'sma': needs numeric param 'window-width'")),
      (bare, withApply("""{"name": "fill", "step": "1d", "method": "cubic"}"""),
        Left("apply node 'fill': fill method must be ffill or linear, got 'cubic'")),
      (bare, withApply("""{"name": "fill", "step": "sideways"}"""),
        Left("apply node 'fill': bad duration: 'sideways'")),
      (bare, """{"knn": {"queries": "id < 10", "k": 3, "index": "brute"}}""",
        Left("knn: no embeddings table registered on this context")),
      (bare, """{"dedup": {"batch": "id % 5 = 0", "threshold": 0.8}}""",
        Left("dedup: no documents table registered on this context")),
      (withDocs, """{"dedup": {"batch": "id %%% 5", "threshold": 0.8}}""",
        Left("dedup: malformed predicate 'id %%% 5'")))
    cases.foreach { case (eng, json, want) =>
      withClue(json) {
        want match {
          case Right(n) => assert(eng.execute(json).count() === n)
          case Left(fragment) =>
            val e = intercept[BadQuery](eng.execute(json).count())
            assert(e.getMessage.contains(fragment))
        }
      }
    }
    // a backward range orders newest first, and limit applies after it
    val newest = bare.execute(s"""{"select": "purchase", $back,
        "order-by": "time", "limit": 3}""").select("ts").as[Long].collect()
    assert(newest.toSeq === bare.execute(s"""{"select": "purchase", $back}""")
      .select("ts").as[Long].collect().sorted.reverse.take(3).toSeq)
    // rendered output: the first day's csv is 4 lines; an unknown format
    // refuses when the statement renders
    val day = """"range": {"from": "20240101T000000", "to": "20240102T000000"}"""
    assert(bare.executeRendered(s"""{"select": "purchase", $day,
        "output": {"format": "csv", "timestamp": "iso"}}""").count() === 4)
    val eFmt = intercept[BadQuery](bare.executeRendered(
      s"""{"select": "purchase", $day, "output": {"format": "xml"}}""").count())
    assert(eFmt.getMessage.contains("bad output format: 'xml'"))
    // a hand-built seasonal AST whose bin does not divide its period
    assertThrows[BadQuery](bare.run(SeasonalQuery("purchase", 10L, 3L,
      "0.25", "0.75", TimeRange(0L, 10L))))
  }

  test("knn/dedup programmatic misuse is BadQuery too — the AST constructors are public, not only the JSON path") {
    import spark.implicits._
    val base = rampContext(Seq(1), 0L, 4L)
    val eng = new Engine(base.copy(
      embeddings = Some(Seq(1L -> Array(1f, 0f)).toDF("id", "embedding"))))
    assertThrows[BadQuery](eng.run(KnnQuery(3, "id < 10", "hnsw")))
    assertThrows[BadQuery](eng.run(KnnQuery(3, "id < 10", "ivf"))) // nlist None
  }
}
