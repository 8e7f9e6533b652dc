package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model.{TsdbContext, TsdbLayout}

/** Independent-implementation cross-checks: the same query must produce
  * identical rows over the flat context and over the partitioned
  * physical layout (different scan paths, partition pruning, extra
  * columns). Round-1 lesson: this class of equivalence test caught a
  * real ts-collapse bug the oracle missed. */
class EquivalenceSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val flatCtx = TsdbContext.fromTestdata(spark, sfDir)
  private lazy val layoutCtx = {
    val path = java.nio.file.Files.createTempDirectory("graft_equiv").toString
    TsdbLayout.writeSamples(flatCtx, s"$path/samples")
    TsdbLayout.contextOver(spark, s"$path/samples", flatCtx.series, flatCtx.events)
  }

  private val queries = Seq(
    "select scan" ->
      """{"select": "purchase",
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "order-by": "series"}""",
    "group-aggregate" ->
      """{"group-aggregate": {"metric": "purchase", "step": "7d",
                              "func": ["min", "max", "cnt"]},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""",
    "join" ->
      """{"join": ["click", "view"],
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""",
    "aggregate all funcs" ->
      """{"aggregate": {"purchase": ["min", "max", "sum", "cnt", "mean"]},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""",
    "apply chain" ->
      """{"select": "purchase",
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "apply": [{"name": "sma", "window-width": 3}, {"name": "cusum"}]}""",
    "where-location box" ->
      """{"select": "purchase",
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "where-location": {"box": {"lon": [-60, 60], "lat": [-40, 40]}}}""",
    "where-location knn aggregate" ->
      """{"aggregate": {"purchase": "sum"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "where-location": {"knn": {"lon": 10.0, "lat": 10.0, "k": 5}}}""",
    // relies on the fixture having no duplicate (series, ts) on the right
    // metric (true of the generated testdata): tied right rows make the
    // carried value implementation-defined, as the brute-force test below
    // documents by construction
    "asof-join" ->
      """{"asof-join": {"left": "click", "right": "view"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")

  /** Doubles rounded to 6 decimals — the two layouts feed sums in
    * different row orders, so sum/mean differ in the last ulp (FP
    * addition is not associative); same tolerance as the oracle gate. */
  private def norm(row: Seq[Any]): Seq[Any] = row.map {
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
    case x => x
  }

  for ((name, json) <- queries)
    test(s"flat and partitioned layouts agree: $name") {
      val flat = new Engine(flatCtx).execute(json)
        .collect().map(r => norm(r.toSeq)).sortBy(_.toString)
      val layered = new Engine(layoutCtx).execute(json)
        .collect().map(r => norm(r.toSeq)).sortBy(_.toString)
      assert(flat.nonEmpty)
      assert(layered.toSeq === flat.toSeq)
    }

  test("bpe fold equals a reference Sennrich trainer on random corpora") {
    import spark.implicits._
    // literal textbook BPE: overlapping pair counts, (freq desc, pair
    // asc) argmax, left-to-right non-overlapping merge via index walk —
    // an implementation shaped nothing like the engine's fold
    def refBpe(words: Map[String, Long], rounds: Int): Map[String, Seq[String]] = {
      var vocab: Map[String, Seq[String]] =
        words.map { case (w, _) => w -> w.map(_.toString) }
      for (_ <- 0 until rounds) {
        val counts = scala.collection.mutable.Map
          .empty[(String, String), Long].withDefaultValue(0L)
        for ((w, f) <- words; s = vocab(w); i <- 0 until s.length - 1)
          counts((s(i), s(i + 1))) += f
        if (counts.nonEmpty) {
          val ((a, b), _) = counts.toSeq
            .minBy { case ((x, y), c) => (-c, s"$x $y") }
          vocab = vocab.map { case (w, s) =>
            val out = scala.collection.mutable.Buffer.empty[String]
            var i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
                out += a + b; i += 2
              } else { out += s(i); i += 1 }
            }
            w -> out.toSeq
          }
        }
      }
      vocab
    }
    val rnd = new scala.util.Random(13)
    for (round <- 1 to 4) {
      val alphabet = "ab c".filter(_ != ' ') // {a, b, c}: collisions likely
      def word() = Seq.fill(1 + rnd.nextInt(5))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val docs = Seq.tabulate(8)(i =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(5))(word()).mkString(" ")))
        .toDF("doc_id", "text")
      val freqs = docs.as[(Long, String)].collect()
        .flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
      val rounds = rnd.nextInt(5)
      val got = graft.pipeline.TextOps.bpeVocab(docs, "text", rounds)
        .select("word", "st").as[(String, String)].collect()
        .map { case (w, st) => w -> st.split(" ").toSeq }.toMap
      assert(got === refBpe(freqs, rounds), s"round $round (merges=$rounds)")
    }
  }

  test("incremental dedup: exact tier equals brute force; near tier never lies") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val vocabWords = Seq("aa", "bb", "cc", "dd", "ee", "ff")
    def text() = Seq.fill(4 + rnd.nextInt(4))(
      vocabWords(rnd.nextInt(vocabWords.length))).mkString(" ")
    def shingleSet(t: String): Set[String] =
      t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    for (round <- 1 to 3) {
      val corpus = Seq.tabulate(20)(i => (i.toLong, text()))
      val batch = Seq.tabulate(10)(i => (100L + i,
        if (rnd.nextBoolean()) corpus(rnd.nextInt(20))._2 else text()))
      val out = graft.pipeline.Dedup.dedupAgainstCorpus(
          corpus.toDF("doc_id", "text"), batch.toDF("doc_id", "text"),
          "doc_id", "text", k = 3, numPerm = 32, bands = 8, threshold = 0.7)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3)))
      graft.ScopedCache.release()
      assert(out.map(_._1).sorted.toSeq === batch.map(_._1).sorted,
        "every batch doc gets exactly one verdict row")
      val byId = batch.toMap
      out.foreach { case (id, exact, near, status) =>
        // exact tier: no LSH involved, must equal brute force precisely
        val trueExact = corpus.filter(_._2 == byId(id)).map(_._1).sorted.headOption
        assert(exact === trueExact, s"doc $id exact tier")
        // near tier is LSH-recall-bounded, so it may MISS — but a
        // reported match must be genuinely >= threshold (the exact
        // verify step's no-false-positive guarantee), and the min-id
        // claim must hold among all true matches <= the reported one
        near.foreach { cid =>
          val bs = shingleSet(byId(id))
          val cs = shingleSet(corpus.toMap.apply(cid))
          val inter = (bs & cs).size.toDouble
          assert(inter / (bs.size + cs.size - inter) >= 0.7,
            s"doc $id reported a sub-threshold near dup $cid")
        }
        assert(status === (if (exact.isDefined) "exact"
          else if (near.isDefined) "near" else "new"), s"doc $id status")
      }
    }
  }

  test("asof-join equals a brute-force reference on random duplicate-heavy data") {
    import spark.implicits._
    import graft.query.Ast._
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 3) {
      // left rows may share (tag, ts); right rows include deliberate
      // equal-(tag, ts) TIES — the pinned rule (TimeJoins.asof right
      // pre-aggregation) resolves them to the MAX value, so the model
      // below is deterministic
      val tags = Seq("T0", "T1", "T2")
      val lRows = Seq.fill(40)(("l", tags(rnd.nextInt(3)),
        rnd.nextInt(30).toLong, rnd.nextInt(1000).toDouble))
      val rRows = rnd.shuffle(
        (for (t <- tags; ts <- 0L to 30L) yield (t, ts)).toList)
        .take(25)
        .flatMap { case (t, ts) =>
          Seq.fill(1 + rnd.nextInt(2))(
            ("r", t, ts, rnd.nextInt(1000).toDouble))
        }
      val wide = (lRows ++ rRows).toDF("metric", "tag", "ts", "value")
      val eng = new Engine(TsdbContext.fromWide(
        spark, wide, "metric", Seq("tag"), "ts", "value"))
      val got = eng.asofJoin(AsofJoinQuery("l", "r", TimeRange(0, 100)))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .sortBy(_.toString).toSeq
      val expect = lRows.map { case (_, t, ts, v) =>
        val matches = rRows.filter(r => r._2 == t && r._3 <= ts)
        val carried =
          if (matches.isEmpty) None
          else {
            val latest = matches.map(_._3).max
            Some(matches.filter(_._3 == latest).map(_._4).max)
          }
        (s"l|r tag=$t", ts, v, carried)
      }.sortBy(_.toString)
      assert(got === expect, s"round $round")
    }
  }

  test("interpolationJoin: bracketing blend, exact hits, boundary nulls, tie max") {
    import spark.implicits._
    val right = Seq(("a", 100L, 10.0), ("a", 200L, 30.0), ("a", 200L, 20.0),
      ("a", 400L, 50.0)).toDF("name", "ts", "value")
    val left = Seq(
      ("a", 50L, 0.0),  // before the first right sample -> null
      ("a", 100L, 0.0), // exact hit -> v0 (t0 = t1 guard)
      ("a", 150L, 0.0), // halfway 100..200 -> 10 + (30-10)*0.5 = 20
      ("a", 300L, 0.0), // halfway 200..400, tie at 200 -> max 30 -> 40
      ("a", 450L, 0.0)) // past the last right sample -> null
      .toDF("name", "ts", "value")
    val out = graft.ops.TimeJoins.interpolationJoin(left, right,
        Seq("name"), "value", asCol = "vi")
      .select("ts", "vi").as[(Long, Option[Double])].collect().toSeq.sorted
    assert(out === Seq(50L -> None, 100L -> Some(10.0), 150L -> Some(20.0),
      300L -> Some(40.0), 450L -> None))
  }

  test("asof tie rule: batch carry and streaming index probe agree on ties") {
    import spark.implicits._
    // three right rows tied at ts=100 for series a — both forms must
    // resolve to the MAX value (5.0), never an arbitrary pick
    val right = Seq(("a", 100L, 1.0), ("a", 100L, 5.0), ("a", 100L, 3.0),
      ("a", 200L, 2.0), ("b", 100L, 7.0), ("b", 100L, 4.0))
      .toDF("name", "ts", "value")
    val left = Seq(("a", 99L, 10.0), ("a", 100L, 11.0), ("a", 250L, 12.0),
      ("b", 150L, 13.0)).toDF("name", "ts", "value")
    val batch = graft.ops.TimeJoins.asof(
        left.withColumnRenamed("value", "lv"),
        right.withColumnRenamed("value", "rv"), Seq("name"), Seq("rv"))
      .select("name", "ts", "rv")
      .as[(String, Long, Option[Double])].collect().toSeq.sorted
    val streamed = graft.streaming.TsdbStream.asofStatic(left,
        graft.streaming.TsdbStream.asofIndex(right))
      .select("name", "ts", "r_value")
      .as[(String, Long, Option[Double])].collect().toSeq.sorted
    val expect = Seq(("a", 99L, None), ("a", 100L, Some(5.0)),
      ("a", 250L, Some(2.0)), ("b", 150L, Some(7.0)))
    assert(batch === expect)
    assert(streamed === expect)
  }

  /** Metrics `a`, `b` and the event metric `!e`, 4 data-bearing series
    * each (tags dc, host): 400 samples 10 µs apart, h3 silent over
    * [2 ms, 2.5 ms), one planted spike on a/h1. A rollup, a histogram
    * index and a bucket-sums index at 100 µs serve the aligned
    * statements. */
  private lazy val indexed: TsdbContext = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val hosts = Seq("h0" -> "d0", "h1" -> "d0", "h2" -> "d1", "h3" -> "d1")
    val rows = for {
      (m, mi) <- Seq("a", "b", "!e").zipWithIndex
      ((h, dc), hi) <- hosts.zipWithIndex
      k <- 0 until 400 if !(h == "h3" && k >= 200 && k < 250)
    } yield (m, h, dc, k * 10000L,
      ((k * (hi + 3) + mi * 7) % 97).toDouble +
        (if (m == "a" && h == "h1" && k == 300) 1000.0 else 0.0))
    val live = TsdbContext.fromWide(spark,
      rows.toDF("metric", "host", "dc", "ts", "value"),
      "metric", Seq("dc", "host"), "ts", "value")
    val fine = 100000L
    live.copy(
      events = live.samples.selectExpr("series_id", "ts",
        "CAST(value AS STRING) AS body"),
      rollups = Seq(fine -> graft.engine.Rollup.build(live.samples, fine)),
      histograms = Seq(fine -> graft.ops.HistQuantiles.histogram(
        live.samples.withColumn("win", col("ts") - pmod(col("ts"), lit(fine))),
        Seq("series_id", "win"))),
      bucketSums = Seq(fine ->
        graft.ops.Stats.bucketSums(live.samples, fine, keyCol = "series_id")))
  }

  test("resolved ids inline and through the join agree for every statement kind") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // more than MaxInlineSeries silent series per metric: a statement
    // resolving a whole metric then crosses to the join regime
    val silent = TsdbContext.fromWide(spark,
      (for (m <- Seq("a", "b", "!e"); i <- 0 to Engine.MaxInlineSeries)
        yield (m, s"s$i", "d9", 0L, 0.0))
        .toDF("metric", "host", "dc", "ts", "value"),
      "metric", Seq("dc", "host"), "ts", "value").series
    val inline = new Engine(indexed)
    val joined = new Engine(indexed.copy(
      series = indexed.series.unionByName(silent)))

    val sel = """{"select": "a", "range": {"from": 0, "to": 4000000}}"""
    def broadcasts(e: Engine) = e.execute(sel).queryExecution.sparkPlan
      .collect { case j: BroadcastHashJoinExec => j }.nonEmpty
    assert(!broadcasts(inline) && broadcasts(joined),
      "the fixture must exercise both regimes")

    val r = """"range": {"from": 0, "to": 4000000}"""
    val u = """"range": {"from": 50000, "to": 3950000}"""
    val statements = Seq(
      sel,
      s"""{"select": "a", $r, "filter": {"gt": 50}}""",
      s"""{"select": "a", $r, "group-by-tag": ["dc"]}""",
      s"""{"select-events": "!e", $r, "filter": "1.*"}""",
      """{"aggregate": {"a": ["min", "max", "sum", "cnt"]}}""",
      s"""{"aggregate": {"a": ["min", "first"], "b": "mean"}, $u}""",
      s"""{"group-aggregate": {"metric": "a", "step": "400us",
          "func": ["min", "max", "cnt"]}, $r}""",
      s"""{"group-aggregate": {"metric": "a", "step": "400us",
          "func": ["sum", "last"]}, $u, "group-by-tag": ["dc"]}""",
      s"""{"group-aggregate": {"metric": "a", "step": "30us",
          "func": "mean"}, $r}""",
      s"""{"quantile": {"metric": "a", "p": [0.5, 0.9]}, $r}""",
      s"""{"quantile": {"metric": "a", "p": [0.5], "step": "1ms"}, $u}""",
      s"""{"seasonal": {"metric": "a", "period": "1ms", "bin": "200us"}, $r}""",
      s"""{"seasonal": {"metric": "a", "period": "1ms", "bin": "200us"}, $u}""",
      s"""{"sessions": {"metric": "a", "gap": "100us"}, $r}""",
      s"""{"gaps": {"metric": "a", "min-gap": "100us"}, $r}""",
      s"""{"anomaly": {"metric": "a", "c": 3.0}, $r}""",
      s"""{"active": {"metric": ["a", "b"], "step": "1ms"}, $r}""",
      s"""{"active": {"metric": ["a", "b"]}, $u}""",
      s"""{"distinct": {"metric": ["a", "b"], "tag": "host", "k": 4}, $r}""",
      s"""{"distinct": {"metric": ["a"], "tag": "dc", "k": 4,
          "step": "1ms"}, $u}""",
      s"""{"correlate": {"metric": ["a", "b"], "step": "200us"}, $r}""",
      s"""{"correlate": {"metric": ["a", "b"], "step": "200us"}, $u}""",
      s"""{"autocorr": {"metric": ["a"], "step": "100us",
          "lags": ["100us", "1ms"]}, $r}""",
      s"""{"trend": {"metric": ["a", "b"], "step": "100us"}, $u}""",
      s"""{"changepoints": {"metric": ["a"], "step": "100us", "window": 3,
          "min-shift": 5.0}, $r}""",
      s"""{"join": ["a", "b"], $r}""",
      s"""{"asof-join": {"left": "a", "right": "b"}, $u}""",
      s"""{"group-aggregate-join": {"metric": ["a", "b"], "step": "400us",
          "func": "max"}, $r}""")
    for (q <- statements) {
      val a = inline.execute(q).collect().map(r => norm(r.toSeq)).sortBy(_.toString)
      val b = joined.execute(q).collect().map(r => norm(r.toSeq)).sortBy(_.toString)
      assert(a.nonEmpty, s"empty answer proves nothing: $q")
      assert(a.toSeq === b.toSeq, s"regimes disagree on: $q")
    }
    // stale lists silent series too (null last_ts): the live ones agree
    val stale = """{"stale": {"metric": "a", "older-than": "500us"},
      "range": {"from": 0, "to": 5000000}}"""
    val a = inline.execute(stale).collect().map(_.toSeq).sortBy(_.toString)
    val b = joined.execute(stale).collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq === b.filterNot(_.head.toString.contains("d9"))
      .sortBy(_.toString).toSeq)
    assert(b.count(x => x.head.toString.contains("d9") && x(1) == null) ===
      Engine.MaxInlineSeries + 1)
  }

  test("answer ordering is identical below and above the one-task sort gate") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    val engine = new Engine(indexed)
    val r = """"range": {"from": 0, "to": 4000000}"""
    val b = """"range": {"from": 4000000, "to": 0}"""
    val u = """"range": {"from": 50000, "to": 3950000}"""
    val bySeries = Seq("series", "ts")
    val byTime = Seq("ts", "series")
    // the statements that take an order-by, each way and in both range
    // directions: series order is (series, ts), time order (ts, series)
    val ordered = for {
      rng <- Seq(r, b)
      (order, keys) <- Seq("series" -> bySeries, "time" -> byTime)
      stmt <- Seq(
        """"select": "a"""",
        """"select-events": "!e"""",
        """"group-aggregate": {"metric": "a", "step": "400us",
            "func": ["min", "max"]}""",
        """"join": ["a", "b"]""",
        """"asof-join": {"left": "a", "right": "b"}""",
        """"group-aggregate-join": {"metric": ["a", "b"], "step": "400us",
            "func": "max"}""")
    } yield (s"""{$stmt, $rng, "order-by": "$order"}""", keys)
    // every other answer tail, forward and backward, with the keys it
    // orders by
    val fixed = Seq(
      s"""{"aggregate": {"a": ["min", "max"], "b": "mean"}, $u}""" ->
        bySeries,
      """{"quantile": {"metric": "a", "p": [0.5, 0.9]}, RANGE}""" ->
        Seq("series", "p"),
      """{"quantile": {"metric": "a", "p": [0.5], "step": "1ms"}, RANGE}""" ->
        Seq("series", "ts_us", "p"),
      """{"seasonal": {"metric": "a", "period": "1ms", "bin": "200us"},
          RANGE}""" -> Seq("series", "phase"),
      """{"sessions": {"metric": "a", "gap": "100us"}, RANGE}""" ->
        Seq("series", "start_us"),
      """{"gaps": {"metric": "a", "min-gap": "100us"}, RANGE}""" ->
        Seq("series", "gap_start_us"),
      """{"anomaly": {"metric": "a", "c": 3.0}, RANGE}""" ->
        Seq("series", "ts_us", "value"),
      """{"active": {"metric": ["a", "b"], "step": "1ms"}, RANGE}""" ->
        Seq("metric", "ts_us"),
      """{"active": {"metric": ["a", "b"]}, RANGE}""" -> Seq("metric"),
      """{"distinct": {"metric": ["a", "b"], "tag": "host", "k": 4},
          RANGE}""" -> Seq("metric"),
      """{"distinct": {"metric": ["a"], "tag": "dc", "k": 4, "step": "1ms"},
          RANGE}""" -> Seq("metric", "ts_us"),
      """{"correlate": {"metric": ["a", "b"], "step": "200us"}, RANGE}""" ->
        Seq("key_a", "key_b"),
      """{"autocorr": {"metric": ["a"], "step": "100us",
          "lags": ["100us", "1ms"]}, RANGE}""" -> Seq("metric", "lag"),
      """{"changepoints": {"metric": ["a"], "step": "100us", "window": 3,
          "min-shift": 5.0}, RANGE}""" -> Seq("metric", "ts_us"),
      """{"trend": {"metric": ["a", "b"], "step": "100us"}, RANGE}""" ->
        Seq("metric"))
      .flatMap { case (q, keys) =>
        Seq(r, b).map(rng => q.replace("RANGE", rng) -> keys).distinct }
    // one form each: stale is forward-only, the catalog statements
    // take no range
    val singleForm = Seq(
      """{"stale": {"metric": "a", "older-than": "500us"},
          "range": {"from": 0, "to": 5000000}}""" -> Seq("series"),
      """{"select": "meta:names:a"}""" -> Seq("name"),
      """{"select": "tag-values", "metric": "a", "tag": "host"}""" ->
        Seq("name"),
      """{"select": "tag-names"}""" -> Seq("name"))

    /** The answer's sort-key sequence, and its rows grouped by key as
      * multisets (rows tying on every key may come out in any order). */
    def answer(df: DataFrame, keys: Seq[String]) = {
      val rows = df.collect().toSeq
      def key(row: org.apache.spark.sql.Row) = keys.map(k => row.get(row.fieldIndex(k)))
      (rows.map(key), rows.groupBy(key).map { case (k, rs) =>
        k -> rs.map(x => norm(x.toSeq)).sortBy(_.toString) })
    }
    def globalSort(df: DataFrame): Option[Boolean] =
      Some(df.queryExecution.optimizedPlan).collect { case s: Sort => s.global }
    // a 2^60-byte one-task read puts every known estimate below the
    // gate, a 1-byte one every estimate above it
    for ((q, keys) <- ordered ++ fixed ++ singleForm) {
      val (below, oneTask) = withSessionConf(MaxPartitionBytes, (1L << 60).toString) {
        val df = engine.execute(q)
        (answer(df, keys), globalSort(df))
      }
      val (above, ranged) = withSessionConf(MaxPartitionBytes, "1") {
        val df = engine.execute(q)
        (answer(df, keys), globalSort(df))
      }
      assert(oneTask === Some(false) && ranged === Some(true),
        s"the gate must pick the one-task sort below and the range sort above: $q")
      assert(below._1.nonEmpty, s"empty answer proves nothing: $q")
      assert(below._1 === above._1, s"sort-key sequences differ across the gate: $q")
      assert(below._2 === above._2, s"rows differ across the gate: $q")
    }
  }
}
