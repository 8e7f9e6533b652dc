package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.series.SeriesName
import graft.sources.Resp
import graft.time.TimeUtil

/** Property tests for the pure kernels (SURVEY §5: bins partition the
  * range; canonicalization is idempotent; protocol render/parse
  * round-trips). Uses ScalaCheck generators with a fixed seed sweep (no
  * scalatest bridge artifact in the offline cache). */
class PropertySpec extends AnyFunSuite {

  /** Evaluate `f` on `n` deterministic samples of `gen`. */
  private def forAllN[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val nsGen = Gen.chooseNum(0L, 4102444800000000000L) // to year 2100
  private val stepGen = Gen.chooseNum(1L, TimeUtil.NsPerDay * 30)

  test("binIntervals: disjoint, W-aligned, and exactly the bins the touched days intersect") {
    // the scoped rebuild's core arithmetic — a wrong interval either
    // rebuilds a bin it shouldn't (wasted but correct) or MISSES one
    // (a stale bin with a green alert), so it gets the property pin:
    // for any day set and window, the merged intervals are disjoint,
    // aligned, and a bin b is inside one iff [b, b+W) overlaps a
    // touched day — including pre-epoch days and W > day
    val dayGen = Gen.chooseNum(-40000L, 40000L) // ±~109 years of days
    val wGen = Gen.oneOf(Gen.chooseNum(1L, TimeUtil.NsPerDay * 9),
      Gen.oneOf(3600000000000L, TimeUtil.NsPerDay, 7 * TimeUtil.NsPerDay))
    forAllN(Gen.zip(Gen.nonEmptyListOf(dayGen), wGen), n = 300) {
      case (days, w) =>
      val ivs = graft.model.IndexCatalog.binIntervalsOf(days, w)
      // disjoint, sorted, W-aligned (floorDiv multiples), non-empty
      ivs.sliding(2).foreach {
        case Seq((_, h1), (l2, _)) => assert(h1 < l2, s"$ivs not disjoint")
        case _ => ()
      }
      ivs.foreach { case (l, h) =>
        assert(l < h, s"empty interval in $ivs")
        assert(l == Math.floorDiv(l, w) * w && h == Math.floorDiv(h, w) * w,
          s"interval ($l, $h) not aligned to w=$w")
      }
      // membership law on sampled bins around each touched day
      val daySet = days.toSet
      def overlapsTouched(bin: Long): Boolean = {
        val lo = Math.floorDiv(bin, TimeUtil.NsPerDay)
        val hi = Math.floorDiv(bin + w - 1, TimeUtil.NsPerDay)
        (lo to hi).exists(daySet)
      }
      def inIvs(bin: Long): Boolean =
        ivs.exists { case (l, h) => bin >= l && bin < h }
      days.foreach { d =>
        val first = Math.floorDiv(d * TimeUtil.NsPerDay, w) * w
        Seq(first - w, first, first + w,
            Math.floorDiv((d + 1) * TimeUtil.NsPerDay - 1, w) * w,
            Math.floorDiv((d + 1) * TimeUtil.NsPerDay - 1, w) * w + w)
          .foreach { bin =>
            assert(inIvs(bin) === overlapsTouched(bin),
              s"bin $bin (w=$w, day $d): interval membership must equal " +
                s"day overlap; ivs=$ivs")
          }
      }
    }
  }

  test("group-aggregate bins partition the range and align to begin") {
    forAllN(Gen.zip(nsGen, Gen.chooseNum(0L, Long.MaxValue / 4), stepGen)) {
      case (begin, off, step) =>
        val ts = begin + off % (step * 1000)
        // reference bin rule: begin + step*((ts-begin)/step)
        val bin = begin + ((ts - begin) / step) * step
        assert(bin <= ts && ts < bin + step)
        assert((bin - begin) % step === 0L)
    }
  }

  test("ISO-basic timestamps round-trip through render/parse at ns precision") {
    forAllN(nsGen)(ns => assert(TimeUtil.parseIsoBasic(TimeUtil.toIsoBasic(ns)) === ns))
  }

  test("duration grammar: parse(n + unit) = n * unit_ns") {
    val units = Seq("n" -> 1L, "us" -> 1000L, "ms" -> 1000000L,
      "s" -> TimeUtil.NsPerSec, "m" -> TimeUtil.NsPerMin,
      "min" -> TimeUtil.NsPerMin, "h" -> TimeUtil.NsPerHour,
      "d" -> TimeUtil.NsPerDay)
    forAllN(Gen.zip(Gen.chooseNum(1L, 100000L), Gen.oneOf(units))) {
      case (n, (u, k)) => assert(TimeUtil.parseDuration(s"$n$u") === n * k)
    }
  }

  private val tagKey = Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
  private val tagVal = Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
  private val seriesGen: Gen[(String, List[(String, String)])] = for {
    metric <- Gen.identifier.map("m_" + _.take(10))
    n <- Gen.chooseNum(1, 6)
    keys <- Gen.listOfN(n, tagKey)
    vals <- Gen.listOfN(n, tagVal)
  } yield (metric, keys.distinct.zip(vals))

  test("parser fuzz: arbitrary JSON either parses or raises the query-error class") {
    import graft.query.QueryParser
    // grammar-biased generator: statements/clauses with randomly wrong
    // shapes (arrays where objects belong, bad enums, missing companions)
    // each statement with the fields its body admits (a leaf-bodied
    // statement has none)
    val statements: Map[String, Seq[String]] = Map(
      "select" -> Nil, "select-events" -> Nil, "join" -> Nil,
      "aggregate" -> Seq("purchase", "click"),
      "group-aggregate" -> Seq("metric", "func", "step"),
      "group-aggregate-join" -> Seq("metric", "func", "step"),
      "asof-join" -> Seq("left", "right", "tolerance"),
      "quantile" -> Seq("metric", "p", "step"),
      "correlate" -> Seq("metric", "step", "lag"),
      "trend" -> Seq("metric", "step", "horizon"),
      "autocorr" -> Seq("metric", "step", "lags"),
      "active" -> Seq("metric", "step"),
      "distinct" -> Seq("metric", "tag", "k", "step"),
      "changepoints" -> Seq("metric", "step", "window", "min-shift"),
      "sessions" -> Seq("metric", "gap"),
      "seasonal" -> Seq("metric", "period", "bin", "p"),
      "gaps" -> Seq("metric", "min-gap", "factor"),
      "stale" -> Seq("metric", "older-than"),
      "anomaly" -> Seq("metric", "c", "rate"),
      "knn" -> Seq("k", "queries", "index", "nlist", "nprobe"),
      "dedup" -> Seq("batch", "threshold", "k"))
    val clauseKeys = Seq("where", "filter", "order-by", "group-by-tag",
      "pivot-by-tag", "limit", "offset", "apply", "output",
      "where-location")
    val key = Gen.oneOf((statements.keys ++ statements.values.flatten ++
      clauseKeys ++ Seq("range", "from", "to", "gt", "bogus-key")).toSeq)
    val leaf: Gen[String] = Gen.oneOf(
      Gen.const("\"purchase\""), Gen.const("\"20240101T000000\""),
      Gen.const("\"1d\""), Gen.const("\"min\""), Gen.const("\"series\""),
      Gen.chooseNum(-5, 100).map(_.toString), Gen.const("null"),
      Gen.const("true"), Gen.const("[]"), Gen.const("{}"),
      Gen.const("[\"click\", \"view\"]"),
      // wrong-typed leaves: bad and overflowing durations, bad numbers
      Gen.const("\"soon\""), Gen.const("\"9999999999999d\""),
      Gen.const("\"x\""), Gen.const("2.7"))
    def render(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    def obj(depth: Int): Gen[String] =
      for {
        n <- Gen.chooseNum(0, 4)
        ks <- Gen.listOfN(n, key)
        vs <- Gen.listOfN(n, if (depth <= 0) leaf else Gen.frequency(
          3 -> leaf, 1 -> Gen.lzy(obj(depth - 1))))
      } yield render(ks.zip(vs))
    /** Each of `keys` present with probability 3/4, valued by `value`. */
    def someOf(keys: Seq[String], value: Gen[String]): Gen[Seq[(String, String)]] =
      Gen.sequence[Seq[Option[(String, String)]], Option[(String, String)]](
        keys.map(k => Gen.frequency(1 -> Gen.const(None),
          3 -> value.map(v => Some(k -> v))))).map(_.flatten)
    // statement-shaped: one statement with its own fields, a range and
    // a few clauses, all valued by leaves — so every per-field reader
    // sees wrong-typed values
    val statementShaped: Gen[String] = for {
      (stmt, fields) <- Gen.oneOf(statements.toSeq)
      body <- if (fields.isEmpty) leaf else someOf(fields, leaf).map(render)
      range <- someOf(Seq("from", "to"), leaf).map(render)
      withRange <- Gen.oneOf(true, true, false)
      clauses <- Gen.someOf(clauseKeys).flatMap(cs => someOf(cs.take(2).toSeq, leaf))
    } yield render(Seq(stmt -> body) ++
      (if (withRange) Seq("range" -> range) else Nil) ++ clauses)
    val query = Gen.frequency(1 -> obj(2), 2 -> statementShaped)
    forAllN(query, n = 2000) { json =>
      try { QueryParser.parse(json); () }
      catch {
        // the one sanctioned failure class; anything else — NPE,
        // MatchError, a time-grammar or arithmetic exception, a bare
        // require — is a parser crash and fails the property
        case _: graft.query.Ast.BadQuery => ()
        case e: Throwable => fail(s"parser crash ${e.getClass} on: $json", e)
      }
    }
  }

  test("series canonicalization is idempotent and sorts tags") {
    forAllN(seriesGen) { case (metric, tags) =>
      val messy = metric + "  " +
        tags.reverse.map { case (k, v) => s"$k=$v" }.mkString("\t ")
      val c1 = SeriesName.canonicalize(messy)
      assert(SeriesName.canonicalize(c1) === c1)
      val parsed = SeriesName.parse(c1)
      assert(parsed.tags.keys.toSeq === parsed.tags.keys.toSeq.sorted)
    }
  }

  test("RESP render/parse round-trips samples") {
    val sampleGen = for {
      (metric, tags) <- seriesGen
      ts <- nsGen
      v <- Gen.chooseNum(-1000000000L, 1000000000L)
    } yield Resp.Sample(
      SeriesName(metric, scala.collection.immutable.SortedMap(tags: _*)).render,
      ts, v.toDouble)
    forAllN(Gen.listOfN(5, sampleGen), n = 50) { samples =>
      val payload = samples.map(s => s"+${s.name}\r\n:${s.ts}\r\n+${s.value}\r\n").mkString
      assert(Resp.parse(payload) === samples)
    }
  }
}

/** Spark-backed properties tying independent engine code paths together. */
class EnginePropertySpec extends AnyFunSuite with SparkTestBase {

  private def forAllN[A](gen: Gen[A], n: Int)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  /** group-aggregate-join over (m, m_copy) with a filter on m must equal
    * single-metric group-aggregate with the same HAVING: the two filter
    * code paths (Engine.groupAggregate's post-agg `where` vs
    * applyAggregateJoinFilters' null-out + presence combiner) implement
    * the same semantics and must stay tied together. */
  test("GAJ filter on a duplicated metric ≡ group-aggregate HAVING") {
    import graft.engine.Engine
    import graft.model.TsdbContext
    import graft.query.Ast._
    import org.apache.spark.sql.functions.lit
    import spark.implicits._

    val caseGen: Gen[(Seq[(String, Long, Double)], Long, Double)] = for {
      nRows <- Gen.chooseNum(10, 40)
      users <- Gen.listOfN(nRows, Gen.chooseNum(1, 3))
      tss <- Gen.listOfN(nRows, Gen.chooseNum(0L, 999L))
      vs <- Gen.listOfN(nRows, Gen.chooseNum(-100, 100))
      step <- Gen.chooseNum(1L, 300L)
      threshold <- Gen.chooseNum(-50, 50)
    } yield (users.lazyZip(tss).lazyZip(vs)
        .map((u, t, v) => (s"$u", t, v.toDouble)).toSeq,
      step, threshold.toDouble)

    forAllN(caseGen, n = 5) { case (rows, step, threshold) =>
      val wide = rows.toDF("user", "ts", "value")
      val both = wide.withColumn("metric", lit("m"))
        .unionByName(wide.withColumn("metric", lit("mc")))
      val ctx = TsdbContext.fromWide(spark, both, "metric", Seq("user"), "ts", "value")
      val eng = new Engine(ctx)
      val range = TimeRange(0, 1000)
      val having = eng.run(GroupAggregateQuery(Seq("m"), Seq(AggFunc.Max),
          step, range, filters = Map("" -> ValueFilter(gt = Some(threshold)))))
        .collect().map { r =>
          // series "m:max user=U" → key on the tag suffix
          (r.getString(0).dropWhile(_ != ' ').trim, r.getLong(1), r.getDouble(2))
        }.toSet
      val gaj = eng.run(GroupAggregateJoinQuery(Seq("m", "mc"), AggFunc.Max,
          step, range, filters = Map("m" -> ValueFilter(gt = Some(threshold)))))
        .collect()
      val gajKeys = gaj.map { r =>
        (r.getString(0).dropWhile(_ != ' ').trim, r.getLong(1), r.getDouble(2))
      }.toSet
      assert(gajKeys === having, s"step=$step threshold=$threshold")
      // the unfiltered duplicate column carries the identical downsample
      gaj.foreach(r => assert(r.getDouble(3) === r.getDouble(2)))
    }
  }

  test("codegen shingle kernels equal naive reimplementations on random text") {
    import graft.functions.TextExpressions
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val textGen: Gen[(String, Int)] = for {
      n <- Gen.chooseNum(0, 15)
      // include empty words (consecutive spaces) — split(" ", -1) keeps them
      ws <- Gen.listOfN(n, Gen.oneOf(Gen.const(""), Gen.alphaLowerStr.map(_.take(3))))
      k <- Gen.chooseNum(1, 4)
    } yield (ws.mkString(" "), k)
    forAllN(textGen, n = 30) { case (text, k) =>
      def naiveAll = {
        val words = text.split(" ", -1)
        if (words.length < k) Seq.empty[String]
        else words.sliding(k).map(_.mkString(" ")).toSeq
      }
      val df = Seq(Tuple1(text)).toDF("t")
      val all = df.select(TextExpressions.wordShinglesAll(col("t"), k))
        .as[Seq[String]].head()
      val dedup = df.select(TextExpressions.wordShingles(col("t"), k))
        .as[Seq[String]].head()
      assert(all === naiveAll, s"text='$text' k=$k")
      assert(dedup === naiveAll.distinct, s"text='$text' k=$k")
    }
  }

  test("codegen vector kernels equal naive dot/cosine on random floats") {
    import graft.functions.VectorExpressions
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val vecGen: Gen[(Seq[Float], Seq[Float])] = for {
      n <- Gen.chooseNum(1, 16)
      a <- Gen.listOfN(n, Gen.chooseNum(-100, 100).map(_ / 7.0f))
      b <- Gen.listOfN(n, Gen.chooseNum(-100, 100).map(_ / 7.0f))
    } yield (a, b)
    forAllN(vecGen, n = 30) { case (a, b) =>
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
      val (dot, cos) = df.select(VectorExpressions.vecDot(col("a"), col("b")),
        VectorExpressions.vecCosine(col("a"), col("b")))
        .as[(Double, Double)].head()
      // naive with the same accumulation order (left-to-right doubles)
      var (d, na, nb) = (0.0, 0.0, 0.0)
      a.zip(b).foreach { case (x, y) =>
        d += x.toDouble * y.toDouble
        na += x.toDouble * x.toDouble; nb += y.toDouble * y.toDouble
      }
      assert(dot === d, s"a=$a b=$b")
      val expected = if (na == 0.0 || nb == 0.0) cos // degenerate: just don't crash
        else d / (math.sqrt(na) * math.sqrt(nb))
      assert(cos === expected || (cos.isNaN && expected.isNaN), s"a=$a b=$b")
    }
  }

  test("fill ffill: grid complete per series; every value = latest original at-or-before") {
    import graft.ops.ApplyNodes
    import spark.implicits._
    val caseGen: Gen[(Seq[Long], Long)] = for {
      n <- Gen.chooseNum(1, 12)
      tss <- Gen.listOfN(n, Gen.chooseNum(0L, 400L))
      step <- Gen.chooseNum(1L, 50L)
    } yield (tss.distinct.sorted, step)
    forAllN(caseGen, n = 8) { case (tss, step) =>
      val rows = tss.map(t => ("s", t, t.toDouble)) // value = its own ts
      val out = ApplyNodes.fill(rows.toDF("series", "ts", "value"),
          Seq("value"), step, "ffill")
        .as[(String, Long, Double)].collect().sortBy(_._2)
      val expectGrid = (tss.min to tss.max by step).toSet ++ tss.toSet
      assert(out.map(_._2).toSet === expectGrid, s"tss=$tss step=$step")
      out.foreach { case (_, ts, v) =>
        val latest = tss.filter(_ <= ts).max // exists: grid starts at min
        assert(v === latest.toDouble, s"ts=$ts tss=$tss step=$step")
      }
    }
  }

  test("chunk with no overlap reassembles the document exactly") {
    import graft.pipeline.TextOps
    import spark.implicits._
    val caseGen: Gen[(Seq[String], Int)] = for {
      n <- Gen.chooseNum(1, 60)
      words <- Gen.listOfN(n, Gen.alphaLowerStr.map(s => "w" + s.take(4)))
      width <- Gen.chooseNum(1, 20)
    } yield (words, width)
    forAllN(caseGen, n = 10) { case (words, width) =>
      val text = words.mkString(" ")
      val chunks = TextOps.chunk(Seq((1L, text)).toDF("doc_id", "text"),
          "doc_id", "text", width, overlap = 0)
        .orderBy("chunk_idx")
        .select("chunk_text", "n_tokens").as[(String, Int)].collect()
      assert(chunks.map(_._1).mkString(" ") === text)
      assert(chunks.map(_._2).sum === words.size)
      assert(chunks.dropRight(1).forall(_._2 == width))
    }
  }

  test("splits partition the corpus; sampling at rate r is a subset of rate r'") {
    import graft.pipeline.TextOps
    import spark.implicits._
    val docs = (1L to 300L).map(i => (i, s"document body $i ${i % 7}", "x"))
      .toDF("doc_id", "text", "lang")
    val splits = TextOps.assignSplits(docs, "doc_id", "text", valPct = 15, testPct = 5)
      .select("id", "split").as[(Long, String)].collect()
    assert(splits.length === 300 && splits.map(_._1).distinct.length === 300)
    assert(splits.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // monotonicity: raising the rate only ADDS documents (nested samples —
    // the property that makes hash sampling safe to re-run at a new rate)
    def kept(r: Double) = TextOps.stratifiedSample(docs, "text", "lang",
      Map("x" -> r)).select("doc_id").as[Long].collect().toSet
    val (k25, k50) = (kept(0.25), kept(0.5))
    assert(k25.subsetOf(k50) && k50.subsetOf(kept(1.0)) && kept(1.0).size === 300)
  }

  /** Adding an integer constant to every sample shifts the window means
    * by exactly that constant but leaves every shift — an integer
    * DIFFERENCE of milli-quantized window sums — untouched, so the
    * flagged boundary set is invariant. Ties the detector's integer
    * discipline down: a refactor that computed shifts from the two
    * ROUNDED means (or from raw doubles) would break this exactness on
    * random data. */
  test("levelShifts is translation-invariant on random milli-exact series") {
    import spark.implicits._
    import graft.ops.Stats
    val gen: Gen[(Seq[(Long, Int)], Int)] = for {
      n <- Gen.chooseNum(12, 30)
      // occupied bucket ids with gaps; milli-exact values
      bs <- Gen.listOfN(n, Gen.chooseNum(0L, 50L))
      vs <- Gen.listOfN(n, Gen.chooseNum(-20000, 20000))
      c <- Gen.chooseNum(1, 5)
    } yield (bs.distinct.zip(vs), c)
    forAllN(gen, n = 12) { case (pts, c) =>
      def run(offset: Int) = {
        val samples = pts.map { case (b, mv) =>
          ("s", b * 1000L, mv / 1000.0 + offset) }
          .toDF("name", "ts", "value")
        Stats.levelShifts(
            Stats.bucketMeans(samples, 1000L, "name", "ts", "value"),
            "name", 1000L, w = 3, minShift = 0.75)
          .orderBy("ts_us")
          .select("ts_us", "before_mean", "after_mean", "shift")
          .as[(Long, Double, Double, Double)].collect().toSeq
      }
      val base = run(0)
      val shifted = run(c)
      assert(shifted.map(r => (r._1, r._4)) === base.map(r => (r._1, r._4)),
        s"flags and shifts must survive +$c exactly")
      base.zip(shifted).foreach { case ((_, b1, a1, _), (_, b2, a2, _)) =>
        assert(math.abs(b2 - b1 - c) < 1e-9 && math.abs(a2 - a1 - c) < 1e-9)
      }
    }
  }

  /** Deterministic-hash regression bound: the KMV estimate at k = 64
    * lands within 3 standard errors (~38%) of the true cardinality on
    * seeded random universes well above k. hash60 is deterministic, so
    * this is a fixed regression pin, not a flaky statistical test — it
    * catches an estimator or k-cut regression (wrong h_k, off-by-one
    * rank, double-counted duplicates), each of which moves the estimate
    * far outside the band. */
  test("kmvServeKeys estimate stays within the 3-sigma band of the truth") {
    import spark.implicits._
    val gen: Gen[(Int, Int)] = for {
      n <- Gen.chooseNum(300, 2000)
      salt <- Gen.chooseNum(0, 1000000)
    } yield (n, salt)
    forAllN(gen, n = 5) { case (n, salt) =>
      val vals = (1 to n).map(i => ("g", s"user-$salt-$i")) ++
        (1 to n).map(i => ("g", s"user-$salt-$i")) // duplicates: no effect
      val est = graft.ops.Sketches.kmvDistinct(
          vals.toDF("g", "v"), "g", "v", k = 64)
        .select("est_distinct").as[Double].head()
      assert(math.abs(est / n - 1.0) < 0.38,
        s"n=$n salt=$salt est=$est — outside the 3-sigma band")
    }
  }
}
