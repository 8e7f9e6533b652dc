package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.time.TimeUtil
import graft.series.SeriesName

class TimeUtilSpec extends AnyFunSuite {
  test("ISO basic format round-trips with ns precision") {
    // reference constant from datetime docs (datetime.h:49-57)
    val ts = TimeUtil.parseIsoOrRaw("20141210T074343.999999999")
    assert(TimeUtil.toIsoBasic(ts) === "20141210T074343.999999999")
  }

  test("raw ns integers pass through") {
    assert(TimeUtil.parseIsoOrRaw("1136214245999999999") === 1136214245999999999L)
  }

  test("fractional part right-pads to 9 digits") {
    val a = TimeUtil.parseIsoOrRaw("20141210T074343.5")
    val b = TimeUtil.parseIsoOrRaw("20141210T074343.500000000")
    assert(a === b)
  }

  test("leading non-digits are trimmed") {
    assert(TimeUtil.parseIsoOrRaw(" 20141210T074343") ===
      TimeUtil.parseIsoOrRaw("20141210T074343"))
  }

  test("known epoch value") {
    // 2006-01-02T15:04:05 UTC = 1136214245 s
    assert(TimeUtil.parseIsoOrRaw("20060102T150405") === 1136214245L * 1000000000L)
  }

  test("durations follow the reference grammar") {
    assert(TimeUtil.parseDuration("1") === 1L)
    assert(TimeUtil.parseDuration("1n") === 1L)
    assert(TimeUtil.parseDuration("1us") === 1000L)
    assert(TimeUtil.parseDuration("1ms") === 1000000L)
    assert(TimeUtil.parseDuration("1s") === 1000000000L)
    assert(TimeUtil.parseDuration("1m") === 60L * 1000000000L)
    assert(TimeUtil.parseDuration("30min") === 30L * 60L * 1000000000L)
    assert(TimeUtil.parseDuration("1h") === 3600L * 1000000000L)
    assert(TimeUtil.parseDuration("2d") === 2L * 86400L * 1000000000L)
    intercept[TimeUtil.BadDateTimeFormat](TimeUtil.parseDuration("5x"))
    intercept[TimeUtil.BadDateTimeFormat](TimeUtil.parseDuration("s"))
  }
}

class SeriesNameSpec extends AnyFunSuite with SparkTestBase {
  test("canonical form sorts tags and normalizes spaces") {
    assert(SeriesName.canonicalize("cpu.user  host=h1   region=eu") ===
      "cpu.user host=h1 region=eu")
    assert(SeriesName.canonicalize("cpu.user region=eu host=h1") ===
      "cpu.user host=h1 region=eu")
  }

  test("at least one tag required for stored series") {
    intercept[SeriesName.BadSeriesName](SeriesName.canonicalize("cpu.user"))
  }

  test("parse extracts metric and tags") {
    val sn = SeriesName.parse("mem host=h1 region=eu")
    assert(sn.metric === "mem")
    assert(sn.tags === scala.collection.immutable.SortedMap("host" -> "h1", "region" -> "eu"))
  }

  test("pivot keeps only listed tags; group drops listed tags") {
    import spark.implicits._
    val wide = Seq(("m", "1", "2", "3", 0L, 1.0))
      .toDF("metric", "a", "b", "c", "ts", "value")
    val e = new graft.engine.Engine(graft.model.TsdbContext.fromWide(spark,
      wide, "metric", Seq("a", "b", "c"), "ts", "value"))
    def outName(clause: String): String = e.execute(
        s"""{"select": "m", "range": {"from": 0, "to": 10}, $clause}""")
      .select("series").as[String].collect().toSeq.distinct.mkString
    assert(outName(""""pivot-by-tag": ["a"]""") === "m a=1")
    assert(outName(""""group-by-tag": ["a"]""") === "m b=2 c=3")
  }

  test("output naming helpers") {
    assert(SeriesName.aggregateMetric("cpu", "min") === "cpu:min")
    assert(SeriesName.groupAggregateMetric("cpu", Seq("min", "max")) === "cpu:min|cpu:max")
    assert(SeriesName.joinMetric(Seq("a", "b")) === "a|b")
  }

  test("reference length limit: names over LIMITS_MAX_SNAME rejected, at it pass") {
    // mirrors Test_seriesparser_4 (seriesparser_test.cc:91): length
    // LIMITS_MAX_SNAME + 1 is BadData; the check is strictly-greater
    // (seriesparser.cc:124), so exactly 0x1000 chars still parses
    val tag = " t=v"
    val atLimit = "m" * (SeriesName.MaxNameLength - tag.length) + tag
    assert(atLimit.length === SeriesName.MaxNameLength)
    assert(SeriesName.parse(atLimit).tags === scala.collection.immutable.SortedMap("t" -> "v"))
    intercept[SeriesName.BadSeriesName](SeriesName.parse("m" + atLimit))
  }

  test("reference tag limit: 32 tags pass, 33 rejected") {
    // LIMITS_MAX_TAGS = 32 (basic.h:25). The reference parser silently
    // STOPS collecting at 32 (seriesparser.cc:149 loop bound) — a
    // silent truncation we deliberately do not copy: a library boundary
    // errors loudly instead of dropping user data
    val tags32 = (1 to 32).map(i => s"t$i=$i").mkString(" ")
    assert(SeriesName.parse(s"m $tags32").tags.size === 32)
    val e = intercept[SeriesName.BadSeriesName](
      SeriesName.parse(s"m $tags32 t33=33"))
    assert(e.getMessage.contains("too many tags"))
  }
}

class QueryParserSpec extends AnyFunSuite {
  import graft.query.Ast._
  import graft.query.QueryParser

  test("scan query (reference queryparser_test.cc:98-107)") {
    val q = QueryParser.parse(
      """{"select": "test", "order-by": "series",
         "range": {"from": "20160102T123000.000000", "to": "20160102T123010.000000"},
         "where": {"tag1": ["1"]}}""").asInstanceOf[SelectQuery]
    assert(q.metric === "test")
    assert(q.orderBy === OrderBy.Series)
    assert(q.where === Where.TagsIn(Map("tag1" -> Seq("1"))))
    assert(q.range.forward)
  }

  test("aggregate query with multiple funcs") {
    val q = QueryParser.parse(
      """{"aggregate": {"cpu": ["min", "max"], "mem": "sum"}}""").asInstanceOf[AggregateQuery]
    assert(q.funcs.toSet === Set(("cpu", AggFunc.Min), ("cpu", AggFunc.Max), ("mem", AggFunc.Sum)))
    assert(q.range.isEmpty)
  }

  test("aggregate rejects order-by") {
    intercept[BadQuery](QueryParser.parse(
      """{"aggregate": {"cpu": "min"}, "order-by": "time", "range": {"from": 0, "to": 1}}"""))
  }

  test("group-aggregate with step and funcs") {
    val q = QueryParser.parse(
      """{"group-aggregate": {"metric": "cpu", "step": "30s", "func": ["min", "max"]},
         "range": {"from": 0, "to": 1000000000000}}""").asInstanceOf[GroupAggregateQuery]
    assert(q.step === 30L * 1000000000L)
    assert(q.funcs === Seq(AggFunc.Min, AggFunc.Max))
  }

  test("group-aggregate filter on func names (HAVING)") {
    val q = QueryParser.parse(
      """{"group-aggregate": {"metric": "cpu", "step": "1s", "func": ["max"]},
         "range": {"from": 0, "to": 10},
         "filter": {"max": {"gt": 100}}}""").asInstanceOf[GroupAggregateQuery]
    assert(q.filters("max") === ValueFilter(gt = Some(100.0)))
  }

  test("join query with per-metric filters and combiner") {
    val q = QueryParser.parse(
      """{"join": ["cpu", "mem"], "range": {"from": 0, "to": 10},
         "filter": {"cpu": {"gt": 1}, "mem": {"le": 5}, "=": {"require": "any"}}}""")
      .asInstanceOf[JoinQuery]
    assert(q.metrics === Seq("cpu", "mem"))
    assert(q.filters("cpu") === ValueFilter(gt = Some(1.0)))
    assert(q.filters("mem") === ValueFilter(le = Some(5.0)))
    assert(q.combiner === FilterCombiner.Any)
  }

  test("group-aggregate-join requires exactly one func") {
    intercept[BadQuery](QueryParser.parse(
      """{"group-aggregate-join": {"metric": ["a","b"], "step": "1s", "func": ["min","max"]},
         "range": {"from": 0, "to": 10}}"""))
  }

  test("select-events with regex filter") {
    val q = QueryParser.parse(
      """{"select-events": "!err", "range": {"from": 0, "to": 10}, "filter": "disk.*"}""")
      .asInstanceOf[SelectEventsQuery]
    assert(q.metric === "!err")
    assert(q.regex === Some("disk.*"))
  }

  test("event name must start with '!'") {
    intercept[BadQuery](QueryParser.parse(
      """{"select-events": "err", "range": {"from": 0, "to": 10}}"""))
  }

  test("suggest queries") {
    val q = QueryParser.parse("""{"select": "metric-names", "starts-with": "cp"}""")
      .asInstanceOf[SuggestQuery]
    assert(q.kind === SuggestKind.MetricNames)
    assert(q.startsWith === Some("cp"))
  }

  test("where-location parses box and knn") {
    val b = QueryParser.parse(
      """{"select": "m", "range": {"from": 0, "to": 10},
         "where-location": {"box": {"lon": [-60, 60], "lat": [-40, 40]}}}""")
      .asInstanceOf[SelectQuery]
    assert(b.location === Some(LocationFilter.Box(-60, 60, -40, 40)))
    val k = QueryParser.parse(
      """{"aggregate": {"m": "sum"},
         "where-location": {"knn": {"lon": 10.0, "lat": 5.0, "k": 3}}}""")
      .asInstanceOf[AggregateQuery]
    assert(k.location === Some(LocationFilter.Knn(10.0, 5.0, 3)))
    val kr = QueryParser.parse(
      """{"aggregate": {"m": "sum"},
         "where-location": {"knn": {"lon": 1.0, "lat": 2.0, "k": 3, "radius": 4.5}}}""")
      .asInstanceOf[AggregateQuery]
    assert(kr.location === Some(LocationFilter.Knn(1.0, 2.0, 3, Some(4.5))))
    intercept[BadQuery](QueryParser.parse(
      """{"aggregate": {"m": "sum"},
         "where-location": {"knn": {"lon": 1, "lat": 2, "k": 3, "radius": 0}}}"""))
  }

  test("where-location malformed variants are BadQuery") {
    // box AND knn together
    intercept[BadQuery](QueryParser.parse(
      """{"select": "m", "range": {"from": 0, "to": 10},
         "where-location": {"box": {"lon": [0, 1], "lat": [0, 1]},
                            "knn": {"lon": 0, "lat": 0, "k": 1}}}"""))
    // neither
    intercept[BadQuery](QueryParser.parse(
      """{"select": "m", "range": {"from": 0, "to": 10}, "where-location": {}}"""))
    // box bounds not a [min, max] pair
    intercept[BadQuery](QueryParser.parse(
      """{"select": "m", "range": {"from": 0, "to": 10},
         "where-location": {"box": {"lon": [0], "lat": [0, 1]}}}"""))
    // inverted bounds
    intercept[BadQuery](QueryParser.parse(
      """{"select": "m", "range": {"from": 0, "to": 10},
         "where-location": {"box": {"lon": [10, -10], "lat": [0, 1]}}}"""))
    // non-positive k
    intercept[BadQuery](QueryParser.parse(
      """{"select": "m", "range": {"from": 0, "to": 10},
         "where-location": {"knn": {"lon": 0, "lat": 0, "k": 0}}}"""))
    // unknown sub-key
    intercept[BadQuery](QueryParser.parse(
      """{"select": "m", "range": {"from": 0, "to": 10},
         "where-location": {"circle": {"lon": 0, "lat": 0}}}"""))
    // metadata kinds reject rather than silently drop
    intercept[BadQuery](QueryParser.parse(
      """{"select": "metric-names",
         "where-location": {"knn": {"lon": 0, "lat": 0, "k": 1}}}"""))
    intercept[BadQuery](QueryParser.parseSearch(
      """{"select": "m", "where-location": {"box": {"lon": [0,1], "lat": [0,1]}}}"""))
  }

  test("search/suggest entry points reject missing 'select' as BadQuery, not NPE") {
    intercept[BadQuery](QueryParser.parseSearch("""{"limit": 5}"""))
    intercept[BadQuery](QueryParser.parse("""{}"""))
    intercept[BadQuery](QueryParser.parseSearch("""{"""))
  }

  test("backward range detected") {
    val q = QueryParser.parse(
      """{"select": "m", "range": {"from": 100, "to": 10}}""").asInstanceOf[SelectQuery]
    assert(!q.range.forward)
  }

  test("apply pipeline parses params") {
    val q = QueryParser.parse(
      """{"select": "m", "range": {"from": 0, "to": 10},
         "apply": [{"name": "rate"}, {"name": "ewma", "decay": 0.9}]}""")
      .asInstanceOf[SelectQuery]
    assert(q.apply.map(_.name) === Seq("rate", "ewma"))
    assert(q.apply(1).params("decay") === 0.9)
  }

  test("unknown clause keys are rejected (validate_query whitelist)") {
    val e = intercept[BadQuery](QueryParser.parse(
      """{"select": "m", "rnage": {"from": 1, "to": 2}}"""))
    assert(e.getMessage.contains("rnage"))
    // `output` is whitelisted as a formatting hint with no semantics
    QueryParser.parse(
      """{"select": "m", "range": {"from": 1, "to": 2}, "output": {"format": "csv"}}""")
  }

  test("quantile statement: parse, p validation, clause rejection") {
    val q = QueryParser.parse(
      """{"quantile": {"metric": "m", "p": [0.5, 0.99]},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[QuantileQuery]
    assert(q.metric === "m")
    assert(q.ps === Seq("0.5", "0.99")) // caller's literals, verbatim
    // scalar p accepted
    assert(QueryParser.parse(
      """{"quantile": {"metric": "m", "p": 0.5},
         "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[QuantileQuery].ps === Seq("0.5"))
    intercept[BadQuery](QueryParser.parse( // p out of (0, 1]
      """{"quantile": {"metric": "m", "p": [1.5]},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // p required
      """{"quantile": {"metric": "m"}, "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // unknown statement key
      """{"quantile": {"metric": "m", "p": [0.5], "by": "host"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // no per-sample output to page
      """{"quantile": {"metric": "m", "p": [0.5]},
         "range": {"from": 0, "to": 10}, "limit": 5}"""))
    intercept[BadQuery](QueryParser.parse( // renderers emit sample rows
      """{"quantile": {"metric": "m", "p": [0.5]},
         "range": {"from": 0, "to": 10}, "output": {"format": "csv"}}"""))
    // string-typed p keeps the caller's exact literal; number nodes are
    // parser-normalized (0.50 -> "0.5")
    assert(QueryParser.parse(
      """{"quantile": {"metric": "m", "p": ["0.50"]},
         "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[QuantileQuery].ps === Seq("0.50"))
    // stepped form: step parses through the shared duration grammar
    assert(QueryParser.parse(
      """{"quantile": {"metric": "m", "p": [0.5], "step": "1h"},
         "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[QuantileQuery].stepNs === Some(3600000000000L))
    // group-by-tag composes (merged series pool exact bucket counts);
    // pivot-by-tag is the other re-keying, same clause family
    assert(QueryParser.parse(
      """{"quantile": {"metric": "m", "p": [0.5]},
         "group-by-tag": ["host"], "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[QuantileQuery].groupBy ===
      Some(GroupByTag(GroupByOp.Group, Seq("host"))))
    // the value filter composes (applied to the scan before bucketing)
    assert(QueryParser.parse(
      """{"quantile": {"metric": "m", "p": [0.5]},
         "filter": {"gt": 50}, "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[QuantileQuery].filter ===
      Some(ValueFilter(gt = Some(50.0))))
    assert(QueryParser.parse(
      """{"seasonal": {"metric": "m", "period": "1d", "bin": "6h"},
         "pivot-by-tag": ["dc"], "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[SeasonalQuery].groupBy ===
      Some(GroupByTag(GroupByOp.Pivot, Seq("dc"))))
    // the per-series-semantics statements still reject the re-keying
    intercept[BadQuery](QueryParser.parse(
      """{"gaps": {"metric": "m", "min-gap": "1h"},
         "group-by-tag": ["host"], "range": {"from": 0, "to": 10}}"""))
  }

  test("correlate statement: parse, lag validation, clause rejection") {
    val q = QueryParser.parse(
      """{"correlate": {"metric": ["a", "b"], "step": "1h", "lag": "1d"},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[CorrelateQuery]
    assert(q.metrics === Seq("a", "b"))
    assert(q.stepNs === 3600000000000L)
    assert(q.lagNs === 86400000000000L)
    intercept[BadQuery](QueryParser.parse( // one metric is no pair
      """{"correlate": {"metric": ["a"], "step": "1h"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // duplicate metrics
      """{"correlate": {"metric": ["a", "a"], "step": "1h"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // step required
      """{"correlate": {"metric": ["a", "b"]},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // lag not a whole step count
      """{"correlate": {"metric": ["a", "b"], "step": "1h", "lag": "90m"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // unknown statement key
      """{"correlate": {"metric": ["a", "b"], "step": "1h", "by": "x"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // no per-sample output to page
      """{"correlate": {"metric": ["a", "b"], "step": "1h"},
         "range": {"from": 0, "to": 10}, "limit": 3}"""))
    intercept[BadQuery](QueryParser.parse( // renderers emit sample rows
      """{"correlate": {"metric": ["a", "b"], "step": "1h"},
         "range": {"from": 0, "to": 10}, "output": {"format": "csv"}}"""))
  }

  test("autocorr statement: parse, lag validation, clause rejection") {
    val q = QueryParser.parse(
      """{"autocorr": {"metric": ["a", "b"], "step": "1h",
                       "lags": ["1h", "1d"]},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[AutocorrQuery]
    assert(q.metrics === Seq("a", "b"))
    assert(q.stepNs === 3600000000000L)
    assert(q.lagsNs === Seq(3600000000000L, 86400000000000L))
    intercept[BadQuery](QueryParser.parse( // lags required
      """{"autocorr": {"metric": ["a"], "step": "1h"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // empty lags
      """{"autocorr": {"metric": ["a"], "step": "1h", "lags": []},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // lag not a whole step count
      """{"autocorr": {"metric": ["a"], "step": "1h", "lags": ["90m"]},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // non-positive lag
      """{"autocorr": {"metric": ["a"], "step": "1h", "lags": ["0s"]},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // duplicate lags
      """{"autocorr": {"metric": ["a"], "step": "1h", "lags": ["1h", "1h"]},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // duplicate metrics
      """{"autocorr": {"metric": ["a", "a"], "step": "1h", "lags": ["1h"]},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // step required
      """{"autocorr": {"metric": ["a"], "lags": ["1h"]},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // unknown statement key
      """{"autocorr": {"metric": ["a"], "step": "1h", "lags": ["1h"], "by": "x"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // no per-sample output to page
      """{"autocorr": {"metric": ["a"], "step": "1h", "lags": ["1h"]},
         "range": {"from": 0, "to": 10}, "limit": 3}"""))
    intercept[BadQuery](QueryParser.parse( // renderers emit sample rows
      """{"autocorr": {"metric": ["a"], "step": "1h", "lags": ["1h"]},
         "range": {"from": 0, "to": 10}, "output": {"format": "csv"}}"""))
  }

  test("active statement: parse, clause rejection") {
    val q = QueryParser.parse(
      """{"active": {"metric": ["a", "b"], "step": "1d"},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[ActiveQuery]
    assert(q.metrics === Seq("a", "b"))
    assert(q.stepNs === Some(86400000000000L))
    assert(QueryParser.parse(
      """{"active": {"metric": "a"}, "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[ActiveQuery].stepNs === None)
    intercept[BadQuery](QueryParser.parse( // unknown statement key
      """{"active": {"metric": ["a"], "by": "host"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // empty metric list
      """{"active": {"metric": []}, "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // counts have no rows to page
      """{"active": {"metric": ["a"]},
         "range": {"from": 0, "to": 10}, "limit": 3}"""))
    intercept[BadQuery](QueryParser.parse( // renderers emit sample rows
      """{"active": {"metric": ["a"]},
         "range": {"from": 0, "to": 10}, "output": {"format": "csv"}}"""))
  }

  test("seasonal statement: parse, p/bin validation, clause rejection") {
    val q = QueryParser.parse(
      """{"seasonal": {"metric": "m", "period": "1d", "bin": "6h"},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[SeasonalQuery]
    assert(q.periodNs === 86400000000000L && q.binNs === 21600000000000L)
    assert(q.pLo === "0.25" && q.pHi === "0.75") // defaults
    assert(QueryParser.parse(
      """{"seasonal": {"metric": "m", "period": "1d", "bin": "1h",
                       "p": ["0.10", "0.90"]},
         "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[SeasonalQuery].pLo === "0.10") // caller's literal
    intercept[BadQuery](QueryParser.parse( // bin must divide period
      """{"seasonal": {"metric": "m", "period": "1d", "bin": "7h"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // p must be two elements
      """{"seasonal": {"metric": "m", "period": "1d", "bin": "1h",
                       "p": ["0.5"]}, "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // p must be ascending
      """{"seasonal": {"metric": "m", "period": "1d", "bin": "1h",
                       "p": ["0.9", "0.1"]},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // p in open (0, 1)
      """{"seasonal": {"metric": "m", "period": "1d", "bin": "1h",
                       "p": ["0.5", "1.0"]},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // unknown statement key
      """{"seasonal": {"metric": "m", "period": "1d", "bin": "1h",
                       "by": "host"}, "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // bands have no rows to page
      """{"seasonal": {"metric": "m", "period": "1d", "bin": "1h"},
         "range": {"from": 0, "to": 10}, "limit": 3}"""))
  }

  test("trend statement: parse, horizon/step validation, clause rejection") {
    val q = QueryParser.parse(
      """{"trend": {"metric": ["a", "b"], "step": "1d", "horizon": "7d"},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[TrendQuery]
    assert(q.metrics === Seq("a", "b"))
    assert(q.stepNs === 86400000000000L)
    assert(q.horizonNs === 7L * 86400000000000L)
    assert(QueryParser.parse(
      """{"trend": {"metric": "a", "step": "1h"},
         "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[TrendQuery].horizonNs === 0L) // horizon defaults to 0
    intercept[BadQuery](QueryParser.parse( // step required
      """{"trend": {"metric": ["a"]}, "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // empty metric list
      """{"trend": {"metric": [], "step": "1d"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // duplicate metrics
      """{"trend": {"metric": ["a", "a"], "step": "1d"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // horizon not a whole step count
      """{"trend": {"metric": ["a"], "step": "1d", "horizon": "36h"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // unknown statement key
      """{"trend": {"metric": ["a"], "step": "1d", "by": "host"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // sub-µs step: no µs output grid
      """{"trend": {"metric": ["a"], "step": "500n"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // same rule for stepped quantile
      """{"quantile": {"metric": "m", "p": [0.5], "step": "500n"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // and stepped active
      """{"active": {"metric": ["a"], "step": "500n"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // no per-sample output to page
      """{"trend": {"metric": ["a"], "step": "1d"},
         "range": {"from": 0, "to": 10}, "limit": 3}"""))
    intercept[BadQuery](QueryParser.parse( // renderers emit sample rows
      """{"trend": {"metric": ["a"], "step": "1d"},
         "range": {"from": 0, "to": 10}, "output": {"format": "csv"}}"""))
  }

  test("distinct statement: parse, k/tag/step validation, clause rejection") {
    val q = QueryParser.parse(
      """{"distinct": {"metric": ["a", "b"], "tag": "user", "k": 128,
                       "step": "1d"},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[DistinctQuery]
    assert(q.metrics === Seq("a", "b"))
    assert(q.tag === "user")
    assert(q.k === 128)
    assert(q.stepNs === Some(86400000000000L))
    assert(QueryParser.parse( // k defaults to 256; step optional
      """{"distinct": {"metric": "a", "tag": "user"},
         "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[DistinctQuery].k === 256)
    assert(QueryParser.parse( // a value filter composes (form 2)
      """{"distinct": {"metric": "a", "tag": "user"},
         "filter": {"gt": 150.0}, "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[DistinctQuery].filter.exists(_.gt === Some(150.0)))
    intercept[BadQuery](QueryParser.parse( // named filter form: the
      // per-metric semantics aren't implemented — reject, never take
      // names.head and silently apply it to every metric
      """{"distinct": {"metric": ["a", "b"], "tag": "user"},
         "filter": {"a": {"gt": 150.0}, "b": {"lt": 5.0}},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // tag required
      """{"distinct": {"metric": ["a"]}, "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // empty tag
      """{"distinct": {"metric": ["a"], "tag": ""},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // null tag: asText would say "null"
      """{"distinct": {"metric": ["a"], "tag": null},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // numeric tag: no "5" coercion
      """{"distinct": {"metric": ["a"], "tag": 5},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // empty metric list
      """{"distinct": {"metric": [], "tag": "user"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // k = 1 has no k-th minimum
      """{"distinct": {"metric": ["a"], "tag": "user", "k": 1},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // k past the sketch-size bound
      """{"distinct": {"metric": ["a"], "tag": "user", "k": 100000},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // non-integer k
      """{"distinct": {"metric": ["a"], "tag": "user", "k": 2.5},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // zero step
      """{"distinct": {"metric": ["a"], "tag": "user", "step": "0s"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // sub-µs step: no µs grid
      """{"distinct": {"metric": ["a"], "tag": "user", "step": "500n"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // unknown statement key
      """{"distinct": {"metric": ["a"], "tag": "user", "by": "host"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // estimates have no rows to page
      """{"distinct": {"metric": ["a"], "tag": "user"},
         "range": {"from": 0, "to": 10}, "limit": 3}"""))
    intercept[BadQuery](QueryParser.parse( // renderers emit sample rows
      """{"distinct": {"metric": ["a"], "tag": "user"},
         "range": {"from": 0, "to": 10}, "output": {"format": "csv"}}"""))
  }

  test("changepoints statement: parse, window/min-shift validation, clause rejection") {
    val q = QueryParser.parse(
      """{"changepoints": {"metric": ["a"], "step": "1d", "window": 14,
                           "min-shift": 0.5},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[ChangepointsQuery]
    assert(q.metrics === Seq("a"))
    assert(q.stepNs === 86400000000000L)
    assert(q.window === 14)
    assert(q.minShift === 0.5)
    assert(QueryParser.parse( // window defaults to 7
      """{"changepoints": {"metric": "a", "step": "1h", "min-shift": 1.0},
         "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[ChangepointsQuery].window === 7)
    intercept[BadQuery](QueryParser.parse( // step required
      """{"changepoints": {"metric": ["a"], "min-shift": 1.0},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // min-shift required
      """{"changepoints": {"metric": ["a"], "step": "1d"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // zero min-shift flags everything
      """{"changepoints": {"metric": ["a"], "step": "1d", "min-shift": 0},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // fractional window
      """{"changepoints": {"metric": ["a"], "step": "1d", "window": 2.5,
                           "min-shift": 1.0},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // zero-bucket window
      """{"changepoints": {"metric": ["a"], "step": "1d", "window": 0,
                           "min-shift": 1.0},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // sub-µs step: no µs grid
      """{"changepoints": {"metric": ["a"], "step": "500n",
                           "min-shift": 1.0},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // unknown statement key
      """{"changepoints": {"metric": ["a"], "step": "1d", "min-shift": 1.0,
                           "by": "host"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // no per-sample rows to page
      """{"changepoints": {"metric": ["a"], "step": "1d", "min-shift": 1.0},
         "range": {"from": 0, "to": 10}, "limit": 3}"""))
  }

  test("sessions statement: parse, gap validation, clause rejection") {
    val q = QueryParser.parse(
      """{"sessions": {"metric": "m", "gap": "30min"},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[SessionsQuery]
    assert(q.metric === "m")
    assert(q.gapNs === 1800000000000L)
    intercept[BadQuery](QueryParser.parse( // gap required
      """{"sessions": {"metric": "m"}, "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // zero gap
      """{"sessions": {"metric": "m", "gap": "0s"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // non-textual metric
      """{"sessions": {"metric": 5, "gap": "1d"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // unknown statement key
      """{"sessions": {"metric": "m", "gap": "1d", "by": "host"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // interval rows aren't pageable
      """{"sessions": {"metric": "m", "gap": "1d"},
         "range": {"from": 0, "to": 10}, "limit": 3}"""))
  }

  test("gaps statement: parse, threshold exclusivity, clause rejection") {
    val q = QueryParser.parse(
      """{"gaps": {"metric": "m", "min-gap": "12h"},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[GapsQuery]
    assert(q.metric === "m" && q.minGapNs === Some(43200000000000L) &&
      q.factor === None)
    val qf = QueryParser.parse(
      """{"gaps": {"metric": "m", "factor": 2.5},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[GapsQuery]
    assert(qf.minGapNs === None && qf.factor === Some(2.5))
    intercept[BadQuery](QueryParser.parse( // exactly one threshold: neither
      """{"gaps": {"metric": "m"}, "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // exactly one threshold: both
      """{"gaps": {"metric": "m", "min-gap": "1h", "factor": 3.0},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // factor must be positive
      """{"gaps": {"metric": "m", "factor": 0},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // min-gap must be positive
      """{"gaps": {"metric": "m", "min-gap": "0s"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // unknown statement key
      """{"gaps": {"metric": "m", "min-gap": "1h", "by": "host"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // intervals have no rows to page
      """{"gaps": {"metric": "m", "min-gap": "1h"},
         "range": {"from": 0, "to": 10}, "limit": 3}"""))
  }

  test("stale statement: parse, forward-range rule, clause rejection") {
    val q = QueryParser.parse(
      """{"stale": {"metric": "m", "older-than": "12h"},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[StaleQuery]
    assert(q.metric === "m" && q.olderThanNs === 43200000000000L)
    intercept[BadQuery](QueryParser.parse( // older-than required
      """{"stale": {"metric": "m"}, "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // older-than must be positive
      """{"stale": {"metric": "m", "older-than": "0s"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // backward range has no "now"
      """{"stale": {"metric": "m", "older-than": "1h"},
         "range": {"from": 10, "to": 0}}"""))
    intercept[BadQuery](QueryParser.parse( // unknown statement key
      """{"stale": {"metric": "m", "older-than": "1h", "by": "x"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // renderers emit sample rows
      """{"stale": {"metric": "m", "older-than": "1h"},
         "range": {"from": 0, "to": 10}, "output": {"format": "csv"}}"""))
  }

  test("anomaly statement: parse, c/rate validation, clause rejection") {
    val q = QueryParser.parse(
      """{"anomaly": {"metric": "m", "c": 2.5, "rate": 0.5},
         "range": {"from": 0, "to": 10}}""").asInstanceOf[AnomalyQuery]
    assert(q.metric === "m" && q.c === 2.5 && q.rate === Some(0.5))
    assert(QueryParser.parse(
      """{"anomaly": {"metric": "m"}, "range": {"from": 0, "to": 10}}""")
      .asInstanceOf[AnomalyQuery].c === 3.0) // c defaults to Hampel's 3
    intercept[BadQuery](QueryParser.parse( // c must be positive
      """{"anomaly": {"metric": "m", "c": 0},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // rate in (0, 1]
      """{"anomaly": {"metric": "m", "rate": 1.5},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // rate must be a number
      """{"anomaly": {"metric": "m", "rate": "half"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // unknown statement key
      """{"anomaly": {"metric": "m", "by": "host"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // flags have no rows to page
      """{"anomaly": {"metric": "m"},
         "range": {"from": 0, "to": 10}, "limit": 3}"""))
    intercept[BadQuery](QueryParser.parse( // renderers emit sample rows
      """{"anomaly": {"metric": "m"},
         "range": {"from": 0, "to": 10}, "output": {"format": "csv"}}"""))
  }

  test("zero-width duration clauses are BadQuery at parse time, not plan-time arithmetic") {
    // the duration grammar admits "0s"; each bin-sizing clause must
    // surface it in the BadQuery taxonomy, never as an
    // ArithmeticException (lag % 0) or a plan-construction require
    intercept[BadQuery](QueryParser.parse(
      """{"group-aggregate": {"metric": "m", "func": "mean", "step": "0s"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse(
      """{"group-aggregate-join": {"metric": ["a", "b"], "func": "mean",
                                   "step": "0s"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse(
      """{"quantile": {"metric": "m", "p": [0.5], "step": "0s"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse(
      """{"active": {"metric": ["a"], "step": "0s"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // would be lag % 0 in the parser
      """{"correlate": {"metric": ["a", "b"], "step": "0s", "lag": "1h"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // would be horizon % 0
      """{"trend": {"metric": ["a"], "step": "0s", "horizon": "1h"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse( // would be period % 0
      """{"seasonal": {"metric": "m", "period": "1d", "bin": "0s"},
         "range": {"from": 0, "to": 10}}"""))
    intercept[BadQuery](QueryParser.parse(
      """{"seasonal": {"metric": "m", "period": "0s", "bin": "0s"},
         "range": {"from": 0, "to": 10}}"""))
  }

  test("explicit series list in where") {
    val q = QueryParser.parse(
      """{"select": "m", "range": {"from": 0, "to": 10},
         "where": [{"a": "1", "b": "2"}, {"a": "3"}]}""").asInstanceOf[SelectQuery]
    assert(q.where === Where.ExplicitSeries(Seq(Map("a" -> "1", "b" -> "2"), Map("a" -> "3"))))
  }
}
