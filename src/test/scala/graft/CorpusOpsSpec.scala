package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.pipeline.TextOps

/** Mixture-design / corpus-hygiene operators added in the round-6
  * continuation: Gopher rule gates, temperature mixture reweighting,
  * OOV coverage, shard shuffle, segment-level corpus dedup. */
class CorpusOpsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // ---- gopher rules --------------------------------------------------------

  test("gopherRules: each gate fails for exactly its designed violation") {
    val df = Seq(
      (1L, "the quick cat sat beside a warm mat in the bright sun today"), // passes all
      (2L, "too short"),                                        // word count
      (3L, "the extraordinarily magnificent incomprehensibilities " +
        "of the antidisestablishmentarian bureaucratical " +
        "internationalization proliferate in a"),               // mean len > 10
      (4L, "the # fish # in # a # net # # # of # # #"),         // symbol ratio
      (5L, "cats chase mice dogs chase cats birds fly high up")) // no stopwords
      .toDF("doc_id", "text")
    val out = TextOps.gopherRules(df, "doc_id", "text",
        minWords = 10, maxWords = 100, minStop = 2)
      .orderBy("id")
      .select("id", "flag_word_count", "flag_mean_len", "flag_symbol",
        "flag_alpha", "flag_stop", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect()
    assert(out(0) === ((1L, true, true, true, true, true, true)))
    assert(out(1)._2 === false && out(1)._7 === false) // word count gate
    assert(out(2)._3 === false && out(2)._7 === false) // mean length gate
    assert(out(3)._4 === false && out(3)._7 === false) // symbol gate
    // the symbol doc also fails alpha (its '#' words have no letters)
    assert(out(3)._5 === false)
    assert(out(4)._6 === false && out(4)._7 === false) // stopword gate
  }

  test("gopherRules signals: mean length, symbol ratio, stop count") {
    val df = Seq((1L, "aa bbbb # ... the a")).toDF("doc_id", "text")
    val r = TextOps.gopherRules(df, "doc_id", "text").head()
    assert(r.getAs[Int]("n_words") === 6)
    // lens 2,4,1,3,3,1 = 14/6
    assert(r.getAs[Double]("mean_word_len") === math.rint(14.0 / 6 * 1e6) / 1e6)
    assert(r.getAs[Double]("symbol_ratio") ===
      math.rint(2.0 / 6 * 1e6) / 1e6)
    assert(r.getAs[Double]("alpha_frac") === math.rint(4.0 / 6 * 1e6) / 1e6)
    assert(r.getAs[Int]("n_stop") === 2) // "the", "a"
  }

  // ---- temperature mixture -------------------------------------------------

  test("temperatureMixture: sqrt weights, saturating rates, recipe rows") {
    // strata with 100 and 400 tokens: weights 1/3 and 2/3 at alpha=0.5
    val doc100 = Seq.fill(100)("w").mkString(" ")
    val doc400 = Seq.fill(400)("w").mkString(" ")
    val df = Seq(("a", doc100), ("b", doc400)).toDF("source", "text")
    val out = TextOps.temperatureMixture(df, "source", "text",
        targetTokens = 300L)
      .orderBy("stratum")
      .select("stratum", "n_docs", "n_tokens", "weight", "rate",
        "expected_tokens")
      .as[(String, Long, Long, Double, Double, Long)].collect()
    assert(out(0) === (("a", 1L, 100L, 0.333333, 1.0, 100L)))
    assert(out(1) === (("b", 1L, 400L, 0.666667, 0.5, 200L)))
  }

  test("temperatureMixture up-weights small strata vs proportional") {
    val small = Seq.fill(10)("w").mkString(" ")
    val large = Seq.fill(1000)("w").mkString(" ")
    val out = TextOps.temperatureMixture(
        Seq(("s", small), ("l", large)).toDF("source", "text"),
        "source", "text", targetTokens = 500L)
      .select("stratum", "weight").as[(String, Double)].collect().toMap
    // proportional would give s ~1%; sqrt-scaling gives ~9%
    assert(out("s") > 0.08 && out("s") < 0.1)
    assert(math.abs(out("s") + out("l") - 1.0) < 1e-5)
  }

  // ---- oov rate ------------------------------------------------------------

  test("oovRate: top-V vocab by (count desc, word asc); per-doc fraction") {
    val df = Seq(
      (1L, "a a a b b c"), // a:3 b:2 c:1 corpus-wide with doc 2
      (2L, "a b c d")).toDF("doc_id", "text")
    // counts: a=4, b=3, c=2, d=1 -> vocab(2) = {a, b}
    val out = TextOps.oovRate(df, "doc_id", "text", vocabSize = 2)
      .orderBy("id").select("id", "n_tokens", "n_oov", "oov_rate")
      .as[(Long, Long, Long, Double)].collect()
    assert(out(0) === ((1L, 6L, 1L, 0.166667)))
    assert(out(1) === ((2L, 4L, 2L, 0.5)))
  }

  test("oovRate vocab tie-break is (count desc, word asc)") {
    // b and c tie at 2; vocab(2) must be {a, b} not {a, c}
    val df = Seq((1L, "a a a b b c c")).toDF("doc_id", "text")
    val out = TextOps.oovRate(df, "doc_id", "text", vocabSize = 2).head()
    assert(out.getAs[Long]("n_oov") === 2L) // the two c's
  }

  // ---- shard shuffle -------------------------------------------------------

  test("shardShuffle: deterministic, contiguous per-shard ranks, in range") {
    val df = (0L until 64L).map(i => (i, s"doc number $i payload"))
      .toDF("doc_id", "text")
    val a = TextOps.shardShuffle(df, "doc_id", "text", nShards = 4)
      .orderBy("id").as[(Long, Int, Int)].collect()
    val b = TextOps.shardShuffle(df, "doc_id", "text", nShards = 4)
      .orderBy("id").as[(Long, Int, Int)].collect()
    assert(a.toSeq === b.toSeq) // reproducible
    assert(a.forall { case (_, sh, _) => sh >= 0 && sh < 4 })
    // ranks within each shard are exactly 1..size(shard)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
    }
    assert(a.map(r => (r._2, r._3)).distinct.length === 64) // (shard, seq) unique
  }

  test("shardShuffle separates byte-identical duplicates via the id salt") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "same text"),
      (4L, "same text")).toDF("doc_id", "text")
    val out = TextOps.shardShuffle(df, "doc_id", "text", nShards = 2)
      .select("shard", "seq").as[(Int, Int)].collect()
    // a pure content hash would give all four the same shard AND adjacent
    // ranks; the salt must spread them over >1 (shard, seq) neighborhood
    assert(out.distinct.length === 4)
  }

  // ---- learned classifier --------------------------------------------------

  test("bowCounts kernel equals the composable hash60 histogram") {
    val df = Seq("the quick brown fox", "a a a  b", "", "x").toDF("text")
    val b = 8
    val hs = transform(filter(split(col("text"), " "), w => length(w) > 0),
      w => pmod(graft.pipeline.Dedup.hash60(w), lit(b.toLong)))
    val composable = df.select(transform(sequence(lit(0), lit(b - 1)),
      bb => size(filter(hs, h => h === bb.cast("long")))).as("xs"))
      .as[Seq[Int]].collect()
    val kernel = df.select(
      graft.functions.TextExpressions.bowCounts(col("text"), b).as("xs"))
      .as[Seq[Int]].collect()
    assert(kernel.toSeq === composable.toSeq)
    assert(kernel.head.sum === 4) // token counts survive intact
  }

  test("trainTextClassifier separates a separable corpus perfectly") {
    val pos = (1L to 20L).map(i => (i, "good clean prose " * 3 + s"x$i", 1))
    val neg = (21L to 40L).map(i => (i, "spam junk noise " * 3 + s"x$i", 0))
    val df = (pos ++ neg).toDF("doc_id", "text", "y")
    val m = TextOps.trainTextClassifier(df, "text", "y",
      buckets = 16, rounds = 10, lr = 2.0)
    val out = TextOps.scoreTextClassifier(df, "doc_id", "text", "y", m)
      .select("label", "pred").as[(Int, Boolean)].collect()
    assert(out.forall { case (y, p) => p === (y == 1) },
      s"separable data must classify perfectly: ${out.toSeq}")
  }

  test("training is invariant to input partitioning (integer-exact gradients)") {
    val docs = (1L to 60L).map(i =>
      (i, (1 to 12).map(w => s"w${(i * 5 + w) % 19}").mkString(" "),
        if (i % 3 == 0) 1 else 0))
    val a = TextOps.trainTextClassifier(
      docs.toDF("doc_id", "text", "y").repartition(1), "text", "y",
      buckets = 8, rounds = 4, lr = 0.5)
    val b = TextOps.trainTextClassifier(
      docs.toDF("doc_id", "text", "y").repartition(7), "text", "y",
      buckets = 8, rounds = 4, lr = 0.5)
    // micro-unit quantization before the sums makes the gradients exact
    // integers, so weights are BIT-identical whatever the partitioning —
    // the property that lets the oracle replay training at all
    assert(a.bias === b.bias)
    assert(a.weights === b.weights)
    assert(a.means === b.means)
  }

  test("zero rounds yields the centered-zero model (all scores 0.5)") {
    val df = Seq((1L, "a b c", 0), (2L, "d e f", 1)).toDF("doc_id", "text", "y")
    val m = TextOps.trainTextClassifier(df, "text", "y",
      buckets = 4, rounds = 0, lr = 0.5)
    assert(m.bias === 0.0 && m.weights.forall(_ === 0.0))
    val scores = TextOps.scoreTextClassifier(df, "doc_id", "text", "y", m)
      .select("score").as[Double].collect()
    assert(scores.forall(_ === 0.5))
  }

  test("classifier model round-trips through parquet persistence") {
    val df = Seq((1L, "good text here", 1), (2L, "bad stuff there", 0))
      .toDF("doc_id", "text", "y")
    val m = TextOps.trainTextClassifier(df, "text", "y",
      buckets = 8, rounds = 3, lr = 0.5)
    val path = java.nio.file.Files
      .createTempDirectory("graft_cls").toString + "/model"
    TextOps.writeClassifier(spark, m, path)
    val m2 = TextOps.readClassifier(spark, path)
    assert(m2 === m) // bias, weights AND means — scoring needs all three
  }

  test("cellOutliers ranks each cell's members by rounded distance desc") {
    // two obvious clusters around (0,0) and (10,10); ids 3 and 6 sit
    // farthest from their centroids
    val vecs = Seq(
      (1L, Array(0f, 0f)), (2L, Array(1f, 0f)), (3L, Array(3f, 3f)),
      (4L, Array(10f, 10f)), (5L, Array(11f, 10f)), (6L, Array(7f, 7f)))
      .toDF("id", "embedding")
    val centers = graft.pipeline.Similarity.fitCodebook(vecs, nlist = 2, iters = 2)
    val out = graft.pipeline.Similarity.cellOutliers(centers, vecs, k = 1)
      .select("rank", "id").as[(Int, Long)].collect().toSeq.sortBy(_._2)
    assert(out.map(_._1).forall(_ === 1))
    assert(out.map(_._2).toSet === Set(3L, 6L))
  }

  // ---- model-based randomized checks ---------------------------------------

  private def rng(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)

  test("packGreedyBins matches the reference fold on randomized shards") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val r = rng(seed)
      val rows = (1L to 80L).map(i =>
        (s"s${math.floorMod(r.next(), 4)}", i, 1L + math.floorMod(r.next(), 40)))
      val budget = 64L
      val out = TextOps.packGreedyBins(
          rows.toDF("source", "doc_id", "tok"), "source", "doc_id", "tok", budget)
        .select("shard", "id", "bin_id", "bin_pos")
        .as[(String, Long, Long, Long)].collect()
        .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
      // reference: per shard, in id order, the literal greedy fold
      rows.groupBy(_._1).foreach { case (shard, rs) =>
        var bin = 0L; var fill = 0L
        rs.sortBy(_._2).foreach { case (_, id, tok) =>
          if (fill > 0 && fill + tok > budget) { bin += 1; fill = 0 }
          assert(out((shard, id)) === ((bin, fill)),
            s"seed=$seed shard=$shard id=$id")
          fill += tok
        }
      }
    }
  }

  test("segmentDedup matches the reference model on randomized corpora") {
    for (seed <- Seq(7L, 8L)) {
      val r = rng(seed)
      // tiny vocabulary + short docs force genuine cross-doc segment hits
      val docs = (1L to 40L).map { i =>
        val n = 3 + math.floorMod(r.next(), 7).toInt
        (i, (0 until n).map(_ => s"w${math.floorMod(r.next(), 5)}").mkString(" "))
      }
      val k = 3
      def segsOf(t: String): Seq[String] =
        t.split(" ", -1).grouped(k).map(_.mkString(" ")).toSeq
      val dup = docs.flatMap { case (id, t) => segsOf(t).distinct.map(_ -> id) }
        .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
      val expected = docs.map { case (id, t) =>
        val segs = segsOf(t)
        val kept = segs.filterNot(dup)
        id -> ((segs.size.toLong, (segs.size - kept.size).toLong,
          md5Hex(kept.mkString(" "))))
      }.toMap
      val out = TextOps.segmentDedup(docs.toDF("doc_id", "text"),
          "doc_id", "text", segTokens = k, minDocs = 2)
        .select("id", "n_segments", "n_removed", "clean_hash")
        .as[(Long, Long, Long, String)].collect()
      out.foreach { case (id, n, rm, h) =>
        assert(expected(id) === ((n, rm, h)), s"seed=$seed id=$id")
      }
    }
  }

  test("collapseRepeats matches the reference fold on randomized texts") {
    val r = rng(11L)
    val docs = (1L to 60L).map { i =>
      val n = 1 + math.floorMod(r.next(), 8).toInt
      (i, (0 until n).map(_ => s"t${math.floorMod(r.next(), 3)}").mkString(" "))
    }
    def collapse(t: String): Seq[String] = {
      val ws = t.split(" ", -1).toSeq
      ws.headOption.toSeq ++ ws.sliding(2).collect {
        case Seq(a, b) if a != b => b
      }
    }
    val expected = docs.map { case (id, t) =>
      val ws = t.split(" ", -1)
      id -> ((ws.length, ws.length - collapse(t).size,
        md5Hex(collapse(t).mkString(" "))))
    }.toMap
    TextOps.collapseRepeats(docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("id", "n_tokens", "n_collapsed", "clean_hash")
      .as[(Long, Int, Int, String)].collect()
      .foreach { case (id, n, c, h) => assert(expected(id) === ((n, c, h)), s"id=$id") }
  }

  // ---- monitoring ----------------------------------------------------------

  test("winnowPairs surfaces a shared run of w+k-1 words; disjoint docs stay apart") {
    val shared = "alpha beta gamma delta epsilon zeta" // 6 = w+k-1 words
    val df = Seq(
      (1L, s"one two $shared three four"),
      (2L, s"five six seven $shared eight"),
      (3L, "nine ten eleven twelve thirteen fourteen fifteen"))
      .toDF("doc_id", "text")
    val pairs = graft.pipeline.Dedup.winnowPairs(df, "doc_id", "text",
        k = 3, w = 4, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs === Seq((1L, 2L))) // the guarantee, and only the guarantee
  }

  test("multi-probe SRP finds the neighbor one sign-bit away that single-probe misses") {
    // query q and its near neighbor n differ ONLY in dim 1's sign (one
    // Hamming bit); decoy d shares q's bucket but is far away
    val corpus = Seq(
      (1L, Array(0.1f, 1f, 1f, 1f)),     // n: bucket flips bit 0
      (2L, Array(-9f, 9f, 0.1f, 0.1f)))  // d: q's exact bucket, low cosine
      .toDF("id", "embedding")
    val q = Seq((10L, Array(-0.1f, 1f, 1f, 1f))).toDF("qid", "embedding")
    val single = graft.pipeline.Similarity
      .knnBucketed(corpus, q, k = 1, bits = 4)
      .select("id").as[Long].collect()
    val multi = graft.pipeline.Similarity
      .knnMultiprobe(corpus, q, k = 1, bits = 4)
      .select("id").as[Long].collect()
    assert(single.toSeq === Seq(2L)) // stuck with the in-bucket decoy
    assert(multi.toSeq === Seq(1L)) // the flipped-bit neighbor wins
  }

  test("collapseRepeats drops only IMMEDIATE duplicate tokens") {
    val df = Seq(
      (1L, "a b b b c b"), // -> "a b c b": non-adjacent repeat survives
      (2L, "x x"),         // -> "x"
      (3L, "no repeats here")).toDF("doc_id", "text")
    val out = TextOps.collapseRepeats(df, "doc_id", "text")
      .orderBy("id").select("n_tokens", "n_collapsed", "clean_hash")
      .as[(Int, Int, String)].collect()
    assert(out(0) === ((6, 2, md5Hex("a b c b"))))
    assert(out(1) === ((2, 1, md5Hex("x"))))
    assert(out(2) === ((3, 0, md5Hex("no repeats here"))))
  }

  test("catalogGrowth: first-write day counts and running total") {
    val samples = Seq(
      (1L, 0L), (1L, 200L),                  // series 1 first on day 0
      (2L, 86400000000000L + 5L),            // series 2 first on day 1
      (3L, 86400000000000L * 2),             // series 3 first on day 2
      (4L, 86400000000000L * 2 + 7L))        // series 4 first on day 2
      .toDF("series_id", "ts").withColumn("value", lit(1.0))
    val out = graft.ops.Monitoring.catalogGrowth(samples)
      .orderBy("day_idx").as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((0L, 1L, 1L), (1L, 1L, 2L), (2L, 2L, 4L)))
  }

  test("madIndex/madAnomalies: robust stats flag the outlier, not the bulk") {
    val df = Seq((1L, 10L, 1.0), (1L, 20L, 2.0), (1L, 30L, 3.0),
      (1L, 40L, 100.0)).toDF("series_id", "ts", "value")
    val idx = graft.ops.Monitoring.madIndex(df)
      .as[(Long, Double, Double)].head()
    assert(idx === ((1L, 2.5, 1.0))) // med of [1,2,3,100]; mad of devs
    val flagged = graft.ops.Monitoring.madAnomalies(df)
      .where(col("is_anomaly")).select("value").as[Double].collect()
    assert(flagged.toSeq === Seq(100.0)) // the mean/sigma rule would
    // have been dragged toward the outlier; MAD is not
  }

  test("flagAnomalies streams statelessly against the broadcast index") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val idx = graft.ops.Monitoring.madIndex(
      Seq(("a", 0L, 1.0), ("a", 1L, 2.0), ("a", 2L, 3.0))
        .toDF("name", "ts", "value"), keyCol = "name")
    val in = MemoryStream[(String, Long, Double)]
    val q = graft.streaming.TsdbStream.flagAnomalies(
        in.toDF().toDF("name", "ts", "value"), idx, c = 3.0)
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append").start()
    try {
      in.addData(("a", 10L, 2.5), ("a", 11L, 50.0), ("x", 12L, 1e9))
      q.processAllAvailable()
      val rows = spark.table("anom_out").select("name", "value")
        .as[(String, Double)].collect().toSeq
      // 2.5 is in-band; 50 flags; series x has no baseline -> dropped
      assert(rows === Seq(("a", 50.0)))
    } finally q.stop()
  }

  test("staleSeries: stale and never-wrote flagged; live series pass") {
    val series = Seq(
      (1L, "m user=1", "m"), (2L, "m user=2", "m"), (3L, "m user=3", "m"))
      .toDF("series_id", "name", "metric")
      .withColumn("tags", map(lit("user"), lit("x")))
    val samples = Seq(
      (1L, 100L, 1.0), (1L, 900L, 1.0), // live: last at 900 >= 500
      (2L, 100L, 1.0), (2L, 400L, 1.0)) // stale: last at 400 < 500
      .toDF("series_id", "ts", "value") // series 3 never wrote
    val out = graft.ops.Monitoring.staleSeries(series, samples, cutoffNs = 500L)
      .select("name", "last_ts").as[(String, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(out === Seq(("m user=2", Some(400L)), ("m user=3", None)))
  }

  test("tagCardinality counts distinct values and series per (metric, key)") {
    val series = Seq(
      (1L, "m", Map("host" -> "a", "dc" -> "x")),
      (2L, "m", Map("host" -> "b", "dc" -> "x")),
      (3L, "m", Map("host" -> "b", "dc" -> "y")),
      (4L, "n", Map("host" -> "a")))
      .toDF("series_id", "metric", "tags")
    val out = graft.ops.Monitoring.tagCardinality(series)
      .orderBy("metric", "tag_key")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("m", "dc", 2L, 3L), ("m", "host", 2L, 3L), ("n", "host", 1L, 1L)))
  }

  test("ingestDrift: identical sides give zero KL everywhere; drift shows up") {
    val same = Seq((1L, "a b c d"), (2L, "c d e f")).toDF("doc_id", "text")
    val zero = TextOps.ingestDrift(same, same, "text", buckets = 8, k = 2)
      .select("kl_micro").as[Long].collect()
    assert(zero.forall(_ === 0L)) // p == q per bucket -> p·ln(1) == 0 exactly
    val drifted = Seq((1L, "x y x y x y")).toDF("doc_id", "text")
    val kl = TextOps.ingestDrift(same, drifted, "text", buckets = 8, k = 2)
      .agg(sum("kl_micro")).as[Long].head()
    assert(kl > 0L, s"diverged batch must show positive total KL, got $kl")
  }

  // ---- greedy packing ------------------------------------------------------

  test("packGreedyBins: rows never straddle, oversized rows get their own bin") {
    val df = Seq(
      ("s", 1L, 4L), ("s", 2L, 3L), // bin 0: 4+3 = 7 <= 8
      ("s", 3L, 2L),                // 7+2 > 8 -> bin 1
      ("s", 4L, 9L),                // 2+9 > 8 -> bin 2 (alone: 9 > budget)
      ("s", 5L, 1L),                // 9+1 > 8 -> bin 3
      ("t", 6L, 8L), ("t", 7L, 8L)) // other shard: bins 0 and 1, exact fits
      .toDF("source", "doc_id", "tok")
    val out = TextOps.packGreedyBins(df, "source", "doc_id", "tok", budget = 8L)
      .orderBy("id")
      .select("shard", "id", "n_tokens", "bin_id", "bin_pos")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq(
      ("s", 1L, 4L, 0L, 0L), ("s", 2L, 3L, 0L, 4L),
      ("s", 3L, 2L, 1L, 0L), ("s", 4L, 9L, 2L, 0L),
      ("s", 5L, 1L, 3L, 0L),
      ("t", 6L, 8L, 0L, 0L), ("t", 7L, 8L, 1L, 0L)))
  }

  test("packGreedyBins invariants: contiguous bins, budget respected") {
    val df = (1L to 100L).map(i => ("s" + (i % 3), i, 1L + (i * 7) % 20))
      .toDF("source", "doc_id", "tok")
    val out = TextOps.packGreedyBins(df, "source", "doc_id", "tok", budget = 30L)
      .select("shard", "id", "n_tokens", "bin_id")
      .as[(String, Long, Long, Long)].collect()
    out.groupBy(_._1).foreach { case (_, rows) =>
      val bins = rows.map(_._4).distinct.sorted
      assert(bins.toSeq === (0L until bins.length)) // contiguous from 0
      rows.groupBy(_._4).foreach { case (_, binRows) =>
        // a bin over budget can only be a single oversized row
        assert(binRows.map(_._3).sum <= 30L || binRows.length == 1)
      }
    }
  }

  // ---- segment dedup -------------------------------------------------------

  test("segmentDedup removes cross-doc segments, keeps within-doc repeats") {
    val df = Seq(
      // docs 1+2 share segment "x y z"; doc 3 repeats "p q r" twice
      // WITHIN itself only
      (1L, "x y z a b c"),
      (2L, "x y z d e f"),
      (3L, "p q r p q r")).toDF("doc_id", "text")
    val out = TextOps.segmentDedup(df, "doc_id", "text",
        segTokens = 3, minDocs = 2)
      .orderBy("id").select("id", "n_segments", "n_removed", "clean_hash")
      .as[(Long, Long, Long, String)].collect()
    assert(out(0) === ((1L, 2L, 1L, md5Hex("a b c"))))
    assert(out(1) === ((2L, 2L, 1L, md5Hex("d e f"))))
    // within-doc repeat: 1 doc distinct -> kept, text unchanged
    assert(out(2) === ((3L, 2L, 0L, md5Hex("p q r p q r"))))
  }

  test("segmentDedup: fully-removed doc hashes the empty string") {
    val df = Seq((1L, "x y z"), (2L, "x y z")).toDF("doc_id", "text")
    val out = TextOps.segmentDedup(df, "doc_id", "text",
        segTokens = 3, minDocs = 2)
      .orderBy("id").select("n_removed", "clean_hash")
      .as[(Long, String)].collect()
    assert(out.forall(_ === ((1L, md5Hex("")))))
  }

  test("madIndexSampled: sampled stats converge to exact; outlier flags agree") {
    // the regime the sampled index exists for: a LARGE series (the exact
    // form's percentile buffer grows with n; the sample bounds it by the
    // rate). Median/MAD are √n-consistent, so at n = 10k the half-sample
    // statistics sit within a few percent of exact and both indexes flag
    // exactly the planted gross outliers. (At the small per-series counts
    // of the oracle testdata the two flag sets genuinely differ — the
    // ts_anomaly_mad_sampled entry locks the sampled ARITHMETIC, this
    // spec locks the convergence contract.)
    val n = 10000
    val bulk = (0 until n).map(i => ("s", i.toLong, (i * 37 % 1000) / 10.0))
    val outliers = (0 until 5).map(i => ("s", (n + i).toLong, 1e6 + i))
    val df = (bulk ++ outliers).toDF("name", "ts", "value")
    val exact = graft.ops.Monitoring.madIndex(df, keyCol = "name")
      .select("med", "mad").as[(Double, Double)].head()
    val sampled = graft.ops.Monitoring.madIndexSampled(df, keyCol = "name",
        rate = 0.5)
      .select("med", "mad").as[(Double, Double)].head()
    assert(math.abs(sampled._1 - exact._1) / exact._1 < 0.05,
      s"sampled med ${sampled._1} vs exact ${exact._1}")
    assert(math.abs(sampled._2 - exact._2) / exact._2 < 0.05,
      s"sampled mad ${sampled._2} vs exact ${exact._2}")
    // both indexes flag the 5 planted outliers and nothing else
    def flags(idx: org.apache.spark.sql.DataFrame) =
      graft.ops.Monitoring.madAnomaliesWith(df, idx, keyCol = "name", c = 3.0)
        .where(col("is_anomaly")).select("ts").as[Long].collect().toSet
    val fe = flags(graft.ops.Monitoring.madIndex(df, keyCol = "name"))
    val fs = flags(graft.ops.Monitoring.madIndexSampled(df, keyCol = "name"))
    val planted = (n until n + 5).map(_.toLong).toSet
    assert(fe === planted)
    assert(fs === planted)
  }

  test("histogram quantiles: one-sided 12.5% bound vs exact; windows merge; buckets bounded") {
    import graft.ops.HistQuantiles
    // skewed positive data (squares) — the regime where a linear-bucket
    // histogram would need unbounded range but log buckets stay ~8/octave
    val n = 5000
    val rows = (1 to n).map(i => ("s", i.toLong,
      ((i * 131) % n).toDouble * ((i * 131) % n) / 100.0 + 0.01))
    val df = rows.toDF("name", "ts", "value")
    // build HOURLY-style windows (here: ts mod 5 windows), merge, serve —
    // merged counts must equal the single-pass histogram exactly
    val windowed = HistQuantiles.histogram(
      df.withColumn("w", col("ts") % 5), Seq("name", "w"))
    val merged = HistQuantiles.merge(windowed, Seq("name"))
    val direct = HistQuantiles.histogram(df, Seq("name"))
    assert(merged.orderBy("lo").collect().toSeq ===
      direct.orderBy("lo").collect().toSeq, "window merge must be lossless")
    // bounded memory: bucket count stays a few hundred at any row count
    assert(direct.count() <= 8 * 53)
    // accuracy: answer = bucket lower edge of the ceil(p*n)-th order
    // statistic -> q <= exact and exact < q * (1 + 1/8) (+1 micro-unit
    // for the underflow bucket edge case)
    val sorted = rows.map(_._3).sorted
    for (p <- Seq("0.5", "0.95", "0.99")) {
      val q = HistQuantiles.quantiles(merged, Seq("name"), Seq(p))
        .select("q").as[Double].head()
      val exact = sorted(math.ceil(p.toDouble * n).toInt - 1)
      assert(q <= exact + 1e-6, s"p=$p: $q above exact $exact")
      assert(exact < q * 1.125 + 1e-6, s"p=$p: $q too far below exact $exact")
    }
  }

  test("histogram quantiles: signed domain — mirrored buckets keep the one-sided bound") {
    import graft.ops.HistQuantiles
    // values spanning negative..positive: negatives key on MINUS the
    // magnitude bucket's upper edge, so the reported edge stays at or
    // below every value in the bucket on both sides of zero
    val n = 4001
    val rows = (0 until n).map(i => ("s", i.toLong,
      (((i * 131) % n) - n / 2).toDouble / 7.0))
    val df = rows.toDF("name", "ts", "value")
    val hist = HistQuantiles.histogram(df, Seq("name"))
    // bounded: at most ~8/octave per sign
    assert(hist.count() <= 2 * 8 * 53 + 1)
    val sorted = rows.map(_._3).sorted
    for (p <- Seq("0.1", "0.25", "0.5", "0.9")) {
      val q = HistQuantiles.quantiles(hist, Seq("name"), Seq(p))
        .select("q").as[Double].head()
      val exact = sorted(math.ceil(p.toDouble * n).toInt - 1)
      assert(q <= exact + 1e-6, s"p=$p: $q above exact $exact")
      assert(exact <= q + math.abs(exact) / 8 + 2e-6,
        s"p=$p: $q too far below exact $exact")
    }
  }

  test("corrAligned: known correlations, bucket-mean alignment, zero-variance nulls") {
    // four aligned buckets (width 10): b = 2a (corr 1), c = -2a + 10
    // (corr -1), d constant (zero variance -> null); a's buckets carry
    // TWO rows each so the bucket MEAN (not any single row) aligns
    val rows =
      (0 until 4).flatMap(i => Seq(
        ("a", i * 10L + 2, (i + 1).toDouble - 0.5),
        ("a", i * 10L + 7, (i + 1).toDouble + 0.5),
        ("b", i * 10L + 5, 2.0 * (i + 1)),
        ("c", i * 10L + 5, 10.0 - 2.0 * (i + 1)),
        ("d", i * 10L + 5, 5.0)))
    val out = graft.ops.Stats.corrAligned(
        rows.toDF("metric", "ts", "value"), bucketNs = 10L)
      .orderBy("key_a", "key_b")
      .as[(String, String, Long, Option[Double])].collect().toSeq
    assert(out.map(r => (r._1, r._2)) ===
      Seq(("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d")))
    assert(out.forall(_._3 === 4L))
    val byPair = out.map(r => (r._1, r._2) -> r._4).toMap
    assert(byPair(("a", "b")) === Some(1.0))
    assert(byPair(("a", "c")) === Some(-1.0))
    assert(byPair(("b", "c")) === Some(-1.0))
    assert(byPair(("a", "d")) === None)
    assert(byPair(("b", "d")) === None)
    assert(byPair(("c", "d")) === None)
  }

  test("seasonal bands: spikes flagged against their own phase, not the global spread") {
    val hourNs = 3600L; val dayNs = 24 * hourNs // scaled-down ns
    // 60 days x 4 phases; each phase has its own level (phase*100) with
    // a +-2 within-phase spread — globally the levels span 0..300, so a
    // global band would never flag anything; phase-relative judgement
    // must flag the two planted spikes and little else
    val rows = (0 until 60).flatMap { day =>
      (0 until 4).map { ph =>
        val ts = day * dayNs + ph * hourNs
        val v =
          if (day == 30 && ph == 1) 999.0        // planted high spike
          else if (day == 40 && ph == 2) -50.0   // planted low spike
          else ph * 100.0 + (day % 5).toDouble - 2.0
        ("s", ts, v)
      }
    }
    val df = rows.toDF("name", "ts", "value")
    val out = graft.ops.Monitoring.seasonalOutliers(df, dayNs, hourNs,
        keyCol = "name")
      .select("ts", "value").as[(Long, Double)].collect().toSeq
    // the band is the bucket HULL, so the tight in-band spread never
    // self-flags — exactly the two planted spikes come back
    assert(out.map(_._2).toSet === Set(999.0, -50.0),
      s"expected exactly the spikes, got ${out.map(_._2).sorted}")
  }

  test("seasonal bands: underflow-bucket hull does not self-flag near-zero noise") {
    // all values round to the underflow bucket (±0.2 µu): its hull is
    // (−1, 1) µu, so NOTHING self-flags — the band's lower edge must be
    // −1 µu, not the bucket key 0 (which would flag every negative)
    val rows = (0 until 80).map(i =>
      ("s", i.toLong, if (i % 2 == 0) 2e-7 else -2e-7))
    val out = graft.ops.Monitoring.seasonalOutliers(
      rows.toDF("name", "ts", "value"), periodNs = 4L, binNs = 1L,
      keyCol = "name")
    assert(out.count() === 0)
  }

  test("bucketHiKey: every value lies inside its bucket's [lo, hi] hull") {
    import graft.ops.HistQuantiles
    val vals = (-3000 to 3000).map(_ / 7.0) ++
      Seq(-1e-6, 1e-6, 0.0, 123456.789, -98765.4321, 16.0, -16.0,
        15.999999, -15.999999)
    val rows = vals.map(Tuple1(_)).toDF("value")
      .select(col("value"), HistQuantiles.bucketLo(col("value")).as("lo"),
        HistQuantiles.bucketHiKey(HistQuantiles.bucketLo(col("value")))
          .as("hi"))
      .collect()
    rows.foreach { r =>
      val q = math.round(r.getDouble(0) * 1e6)
      val lo = r.getLong(1); val hi = r.getLong(2)
      assert(lo <= q && q <= hi, s"${r.getDouble(0)}: q=$q outside [$lo, $hi]")
      assert(hi > lo)
    }
  }

  test("simhashAgainstIndex: exact repeats flag near with the MIN corpus id; fresh text is new") {
    import graft.pipeline.Dedup
    val corpus = Seq(
      (4L, "alpha beta gamma delta epsilon zeta"),
      (10L, "alpha beta gamma delta epsilon zeta"), // same text as 4
      (7L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_sh_sem").toString
    Dedup.writeSimhashIndex(corpus, dir, "doc_id", "text")
    val batch = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"), // dup of 4 AND 10
      (101L, "totally unrelated words qq ww ee rr tt yy uu"))
      .toDF("doc_id", "text")
    val out = Dedup.simhashAgainstIndex(
        spark.read.parquet(s"$dir/simhash"), batch, "doc_id", "text")
      .orderBy("id")
      .as[(Long, Option[Long], Option[Int], String)].collect().toSeq
    assert(out.head === ((100L, Some(4L), Some(0), "near")),
      s"identical text must flag near with the MIN matching corpus id: $out")
    assert(out(1)._4 === "new" && out(1)._2 === None,
      s"unrelated text must come back new: $out")
    ScopedCache.release()
  }

  test("histogram quantiles: the target order statistic lies in the reported bucket's hull") {
    // randomized pin of the one-sided bound across magnitudes 1e-3..1e4
    // on BOTH signs: the reported bucket key is <= the true ceil(p·n)-th
    // order statistic (µu-quantized), and the statistic sits inside the
    // bucket's value hull — the negative-mirror and underflow edge
    // arithmetic cannot regress without this tripping
    import graft.ops.HistQuantiles
    val rnd = new scala.util.Random(42)
    val vals = (0 until 4000).map { i =>
      (rnd.nextDouble() - 0.4) * math.pow(10.0, rnd.nextInt(7) - 2) }
    val df = vals.zipWithIndex
      .map { case (v, i) => ("k" + i % 3, v) }.toDF("k", "value")
    val ps = Seq("0.01", "0.1", "0.25", "0.5", "0.75", "0.9", "0.99")
    val qk = HistQuantiles.quantileKeys(
        HistQuantiles.histogram(df, Seq("k")), Seq("k"), ps)
      .select("k", "p", "lo_key").as[(String, String, Long)].collect()
    val hulls = qk.map(_._3).distinct.toSeq.toDF("lo")
      .select(col("lo"), HistQuantiles.bucketHiKey(col("lo")).as("hi"))
      .as[(Long, Long)].collect().toMap
    val byKey = vals.zipWithIndex.groupBy { case (_, i) => "k" + i % 3 }
      .view.mapValues(_.map(_._1).sorted).toMap
    def qu(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    qk.foreach { case (k, p, loKey) =>
      val sorted = byKey(k)
      val stat = sorted(math.ceil(p.toDouble * sorted.size).toInt - 1)
      val qStat = qu(stat * 1000000.0)
      assert(loKey <= qStat && qStat <= hulls(loKey),
        s"$k p=$p: stat $stat (µu $qStat) outside bucket [$loKey, ${hulls(loKey)}]")
    }
  }

  test("trend: a constant shift leaves the slope bit-identical, moves the forecast by the shift") {
    // shift-invariance on milli-grid data (µu quantization exact under
    // an integer shift): slope moments change algebraically cancelling,
    // and with integer products far under 2^53 the double formula
    // reproduces the slope EXACTLY; the forecast moves by the shift up
    // to one 6dp rounding step
    val rnd = new scala.util.Random(7)
    val rows = (0 until 50).map(i =>
      ("s", i.toLong * 1000L, rnd.nextInt(10000) / 1000.0))
    val shifted = rows.map { case (n, t, v) => (n, t, v + 7.0) }
    def fit(r: Seq[(String, Long, Double)]) =
      graft.ops.Stats.trend(r.toDF("metric", "ts", "value"),
          bucketNs = 1000L, horizonBuckets = 5L)
        .select("slope", "forecast").as[(Double, Double)].head()
    val (s0, f0) = fit(rows)
    val (s1, f1) = fit(shifted)
    assert(s1 === s0, "slope must be invariant under a constant shift")
    assert(math.abs(f1 - (f0 + 7.0)) <= 2e-6,
      s"forecast must move by the shift: $f0 -> $f1")
  }

  test("histogram compaction: hour->day equals the direct day build bit-for-bit") {
    import graft.ops.HistQuantiles
    val hourNs = 3600L; val dayNs = 24 * hourNs // scaled-down ns
    val df = (0 until 600).map(i =>
        ("s" + i % 3, (i.toLong * 137) % (5 * dayNs), (i * 37 % 100) / 3.0))
      .toDF("name", "ts", "value")
    def winAt(w: Long) = df.withColumn("win",
      col("ts") - pmod(col("ts"), lit(w)))
    val hourly = HistQuantiles.histogram(winAt(hourNs), Seq("name", "win"))
    val compacted = HistQuantiles
      .compact(hourly, Seq("name"), "win", hourNs, dayNs)
      .select("name", "win", "lo", "cnt")
      .as[(String, Long, Long, Long)].collect().toSet
    val direct = HistQuantiles.histogram(winAt(dayNs), Seq("name", "win"))
      .select("name", "win", "lo", "cnt")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(compacted === direct,
      "counts must add through the ladder — compacted == built-at-coarse")
  }

  test("kmv compaction: day->30d equals the direct coarse index") {
    import graft.ops.Sketches
    val df = (0 until 3000).map(i =>
        ("g" + i % 2, (i % 90).toLong, "v" + (i * 7 % 500)))
      .toDF("g", "day", "v")
    val fine = Sketches.kmvIndex(df, "g", "day", "v", k = 16)
    val compacted = Sketches.kmvCompact(fine, "g", "day",
        fineWin = 1L, coarseWin = 30L, k = 16)
      .as[(String, Long, Long)].collect().toSet
    val direct = Sketches.kmvIndex(
        df.withColumn("day", expr("day - day % 30")), "g", "day", "v", k = 16)
      .as[(String, Long, Long)].collect().toSet
    assert(compacted === direct,
      "a coarse k-min hash is in its fine window's k-min — compaction loses nothing")
  }

  test("bucket-sums compaction: hour->day equals the direct coarse build") {
    // multi-row buckets with negative and fractional values so the µu
    // sums are non-trivial; 90 fine buckets of width 1000 compact 4:1
    val rows = (0 until 900).map(i =>
      ("s" + i % 3, i.toLong * 100, (i * 37 % 200 - 100) / 7.0))
      .toDF("k", "ts", "value")
    val fine = graft.ops.Stats.bucketSums(rows, 1000L, keyCol = "k")
    val compacted = graft.ops.Stats
      .bucketSumsCompact(fine, "k", 1000L, 4000L)
      .as[(String, Long, Long, Long)].collect().toSet
    val direct = graft.ops.Stats.bucketSums(rows, 4000L, keyCol = "k")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(compacted === direct,
      "µu sums and counts add through the ladder — compacted == built-at-coarse")
    intercept[IllegalArgumentException] {
      graft.ops.Stats.bucketSumsCompact(fine, "k", 1000L, 2500L)
    }
  }

  test("trend: perfect line -> exact slope/forecast; single bucket -> null line") {
    // value = 2·bucket + 3 over buckets 5..14 of width 1 µs: rebased
    // x ∈ 0..9, milli-quantized means are exact integers, so the OLS
    // recovers slope 2 and the horizon-3 forecast 2·(5+9+3)+3 = 37
    // EXACTLY (not approximately); 'one' has a single bucket — no line,
    // null slope AND null forecast, but the row still reports its
    // forecast-bucket timestamp
    val rows = (5 until 15).map(i => ("up", i * 1000L + 300, 2.0 * i + 3.0)) ++
      Seq(("one", 700L, 5.0))
    val out = graft.ops.Stats.trend(rows.toDF("metric", "ts", "value"),
        bucketNs = 1000L, horizonBuckets = 3L)
      .orderBy("metric")
      .as[(String, Long, Option[Double], Option[Double], Long)]
      .collect().toSeq
    assert(out === Seq(
      ("one", 1L, None, None, 3L),
      ("up", 10L, Some(2.0), Some(37.0), 17L)))
  }

  test("trend: two buckets draw the exact line through them; sub-µs step rejected") {
    val rows = Seq(("m", 0L, 10.0), ("m", 1000L, 14.0))
    val out = graft.ops.Stats.trend(rows.toDF("metric", "ts", "value"),
        bucketNs = 1000L, horizonBuckets = 0L)
      .as[(String, Long, Option[Double], Option[Double], Long)].head()
    assert(out === (("m", 2L, Some(4.0), Some(14.0), 1L)))
    intercept[IllegalArgumentException](graft.ops.Stats.trend(
      rows.toDF("metric", "ts", "value"), bucketNs = 500L,
      horizonBuckets = 0L))
  }

  test("autocorr: a period-4 signal peaks at exactly its own lag") {
    val pattern = Seq(10.0, 20.0, 5.0, 15.0)
    val rows = (0 until 200).map(i => ("m", i.toLong, pattern(i % 4)))
    val out = graft.ops.Stats.autocorr(
        rows.toDF("metric", "ts", "value"), bucketNs = 1L,
        lags = Seq(1L, 2L, 4L))
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(out(4L) === 1.0, s"period lag must be perfect: $out")
    // the pattern is not orthogonal at every off-lag (lag 2 pairs
    // (10,5)/(20,15)... at corr 0.6) — what matters is that ONLY the
    // true period is perfect
    assert(out(1L) < 0.99 && out(2L) < 0.99,
      s"off-period lags must not be perfect: $out")
  }

  test("corrAligned lag: a leader correlates at its lag, weaker at zero") {
    // y_t = x_{t-1} exactly: perfect correlation at lag 1, not at 0
    val base = (0 until 40).map(i => ((i * 17) % 23).toDouble)
    val rows = base.zipWithIndex.map { case (v, i) => ("x", i.toLong, v) } ++
      base.zipWithIndex.map { case (v, i) => ("y", (i + 1).toLong, v) }
    val df = rows.toDF("metric", "ts", "value")
    val lag1 = graft.ops.Stats.corrAligned(df, bucketNs = 1L, lagBuckets = 1L)
      .select("corr").as[Double].head()
    assert(lag1 === 1.0)
    val lag0 = graft.ops.Stats.corrAligned(df, bucketNs = 1L)
      .select("corr").as[Double].head()
    assert(math.abs(lag0) < 0.9, s"pseudo-random base should decorrelate: $lag0")
  }

  test("corrAligned: agrees with Spark's native corr to quantization tolerance") {
    val rows = (0 until 500).map { i =>
      val x = math.sin(i / 7.0) * 100 + i * 0.1
      Seq(("x", i.toLong, x), ("y", i.toLong, 0.8 * x + 30 * math.cos(i / 3.0)))
    }.flatten
    val df = rows.toDF("metric", "ts", "value")
    val ours = graft.ops.Stats.corrAligned(df, bucketNs = 1L)
      .select("corr").as[Double].head()
    val xs = df.groupBy("ts").pivot("metric").sum("value")
    val native = xs.select(corr(col("x"), col("y"))).as[Double].head()
    // milli-unit quantization of values ~1e2 -> ppm-level corr shift
    assert(math.abs(ours - native) < 1e-4, s"$ours vs $native")
  }

  test("m4: four extremes per bucket, ties pinned lexicographically") {
    val df = Seq(
      ("a", 10L, 5.0), ("a", 20L, 1.0), ("a", 30L, 9.0), ("a", 40L, 3.0),
      // bucket 1: value tie 7.0 at ts 110/120 -> max-value picks the
      // LATER ts (lexicographic (value, ts) max); ts tie at 130 ->
      // last takes the larger value
      ("a", 110L, 7.0), ("a", 120L, 7.0), ("a", 130L, 2.0), ("a", 130L, 4.0))
      .toDF("name", "ts", "value")
    val out = graft.ops.Downsample.m4(df, Seq("name"), bucketNs = 100L)
      .orderBy("bucket")
      .select("bucket", "first_ts", "first_v", "last_ts", "last_v",
        "min_ts", "min_v", "max_ts", "max_v")
      .as[(Long, Long, Double, Long, Double, Long, Double, Long, Double)]
      .collect().toSeq
    assert(out(0) === ((0L, 10L, 5.0, 40L, 3.0, 20L, 1.0, 30L, 9.0)))
    assert(out(1) === ((1L, 110L, 7.0, 130L, 4.0, 130L, 2.0, 120L, 7.0)))
    // scale shape: struct min/max partial-aggregate — no window, no sort
    // of sample rows before the exchange
    val p = graft.ops.Downsample.m4(df, Seq("name"), 100L)
      .queryExecution.sparkPlan.toString
    assert(!p.contains("Window"), s"m4 must aggregate, not window:\n$p")
  }

  test("counterIncrease: resets credit the post-reset reading, first sample is zero") {
    val df = Seq(
      ("a", 10L, 1.0),   // first -> 0
      ("a", 20L, 5.0),   // +4
      ("a", 110L, 3.0),  // reset -> +3 (NOT -2)
      ("a", 120L, 10.0), // +7
      ("b", 10L, 100.0)) // first -> 0
      .toDF("name", "ts", "value")
    val out = graft.ops.Downsample.counterIncrease(df, Seq("name"),
        bucketNs = 100L)
      .orderBy("name", "bucket")
      .select("name", "bucket", "increase")
      .as[(String, Long, Double)].collect().toSeq
    assert(out === Seq(("a", 0L, 4.0), ("a", 1L, 10.0), ("b", 0L, 0.0)))
  }

  test("gaps: absolute threshold flags the silence, relative adapts per series") {
    // series a ticks every 10 then falls silent for 170; series b ticks
    // every 100 by design. The fixed threshold (50) flags b's NORMAL
    // cadence too (the drowning failure mode); the relative rule
    // (3x own mean spacing: a = 3x42 = 126, b = 3x100 = 300) flags only
    // a's genuine outage
    val df = (Seq(0L, 10L, 20L, 30L, 200L, 210L).map(("a", _, 1.0)) ++
      Seq(0L, 100L, 200L, 300L).map(("b", _, 1.0)))
      .toDF("name", "ts", "value")
    val abs = graft.ops.Monitoring.gaps(df, minGapNs = 50L, keyCol = "name")
      .select("name", "gap_start", "gap_end", "gap_ns")
      .as[(String, Long, Long, Long)].collect().toSeq.sorted
    assert(abs === Seq(("a", 30L, 200L, 170L), ("b", 0L, 100L, 100L),
      ("b", 100L, 200L, 100L), ("b", 200L, 300L, 100L)))
    val rel = graft.ops.Monitoring.gapsRelative(df, factor = 3.0,
        keyCol = "name")
      .select("name", "gap_start", "gap_end", "gap_ns")
      .as[(String, Long, Long, Long)].collect().toSeq.sorted
    assert(rel === Seq(("a", 30L, 200L, 170L)))
    // a single-sample series has no cadence -> judged by neither form
    val one = Seq(("c", 5L, 1.0)).toDF("name", "ts", "value")
    assert(graft.ops.Monitoring.gapsRelative(one, 3.0, "name").count() === 0)
  }

  test("madIndexSampled: a series sampled to extinction drops out") {
    // one row at rate 0.5 either keeps or loses the row; rate 0 loses it
    // deterministically — the series then has NO baseline and its
    // samples are not judged (inner join in madAnomaliesWith)
    val df = Seq(("a", 1L, 1.0)).toDF("name", "ts", "value")
    val idx = graft.ops.Monitoring.madIndexSampled(df, keyCol = "name",
      rate = 0.0)
    assert(idx.count() === 0)
    assert(graft.ops.Monitoring.madAnomaliesWith(df, idx, keyCol = "name")
      .count() === 0)
  }

  test("segmentDedup: ragged tail segment participates like any other") {
    // 4 tokens at segTokens=3: segments "a b c" and "d"; the 1-token
    // tail "d" is shared across both docs and must be removed
    val df = Seq((1L, "a b c d"), (2L, "e f g d")).toDF("doc_id", "text")
    val out = TextOps.segmentDedup(df, "doc_id", "text",
        segTokens = 3, minDocs = 2)
      .orderBy("id").select("id", "n_segments", "n_removed", "clean_hash")
      .as[(Long, Long, Long, String)].collect()
    assert(out(0) === ((1L, 2L, 1L, md5Hex("a b c"))))
    assert(out(1) === ((2L, 2L, 1L, md5Hex("e f g"))))
  }
}
