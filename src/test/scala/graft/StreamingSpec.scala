package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.TsdbLayout.Tier
import graft.query.Ast.AggFunc
import graft.sources.OpenTsdb
import graft.streaming.TsdbStream

/** Structured Streaming ingestion + continuous downsampling. The same
  * transforms run on batch DataFrames (asserted per test), which is the
  * design point: one code path for backlog and live tail. */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  test("streaming downsample: put lines -> windowed min/max/cnt per series") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val parsed = OpenTsdb.parseLines(in.toDF())
    val down = TsdbStream.downsample(parsed, "1 minute", "5 minutes",
      Seq(AggFunc.Min, AggFunc.Max, AggFunc.Cnt))
    val q = down.writeStream.format("memory").queryName("down")
      .outputMode("append").start()
    try {
      // two windows for m t=a: [0:00, 0:01) and [0:01, 0:02)
      in.addData(
        "put m 60 1.0 t=a", // 60 s -> window 1
        "put m 70 5.0 t=a",
        "put m 125 2.0 t=a") // window 2
      q.processAllAvailable()
      // watermark far past both windows -> both emitted in append mode
      in.addData("put m 100000 9.0 t=a")
      q.processAllAvailable()
      val rows = spark.table("down")
        .select(col("name"), col("bin").cast("long"), col("min"), col("max"), col("cnt"))
        .as[(String, Long, Double, Double, Double)].collect().sortBy(_._2)
      assert(rows.take(2).toSeq === Seq(
        ("m t=a", 60L, 1.0, 5.0, 2.0),
        ("m t=a", 120L, 2.0, 2.0, 1.0)))
    } finally q.stop()
  }

  test("streaming RESP ingest: protocol frames -> samples -> windowed downsample") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val samples = graft.sources.Resp.toSamples(in.toDS())
    val down = TsdbStream.downsample(samples, "1 minute", "5 minutes",
      Seq(AggFunc.Min, AggFunc.Max, AggFunc.Cnt))
    val q = down.writeStream.format("memory").queryName("resp_down")
      .outputMode("append").start()
    try {
      in.addData(
        "+m t=a\r\n:60000000000\r\n+1.0\r\n+m t=a\r\n:70000000000\r\n+5.0\r\n",
        "+m t=a\r\n:125000000000\r\n+2.0\r\n")
      q.processAllAvailable()
      in.addData("+m t=a\r\n:100000000000000\r\n+9.0\r\n") // advance watermark
      q.processAllAvailable()
      val rows = spark.table("resp_down")
        .select(col("name"), col("bin").cast("long"), col("min"), col("max"), col("cnt"))
        .as[(String, Long, Double, Double, Double)].collect().sortBy(_._2)
      assert(rows.take(2).toSeq === Seq(
        ("m t=a", 60L, 1.0, 5.0, 2.0),
        ("m t=a", 120L, 2.0, 2.0, 1.0)))
    } finally q.stop()
  }

  test("streaming rollup maintenance equals the batch-built rollup bin-for-bin") {
    implicit val sqlCtx = spark.sqlContext
    val stepNs = 60L * 1000000000L // 1 min fine bins
    val rows = Seq(
      (1L, 60000000001L * 1000L, 3.0), // deliberately non-µs-aligned ns
      (1L, 70000000000000L, 1.0),
      (1L, 119999999999999L, 5.0),     // last ns of bin 1
      (1L, 125000000000000L, 2.0),     // bin 2
      (2L, 65000000000000L, 7.0))
    val in = MemoryStream[(Long, Long, Double)]
    val streamed = TsdbStream.rollupBuild(
      in.toDF().toDF("series_id", "ts", "value"), stepNs, "5 minutes")
    val q = streamed.writeStream.format("memory").queryName("roll")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      in.addData((2L, 100000000000000000L, 0.0)) // advance the watermark
      q.processAllAvailable()
      val got = spark.table("roll")
        .where(col("bin") < 100000000000000000L)
        .orderBy("series_id", "bin").collect().map(_.toSeq)
      val want = graft.engine.Rollup
        .build(rows.toDF("series_id", "ts", "value"), stepNs)
        .select(col("series_id") +: col("bin") +:
          graft.engine.Rollup.accNames.map(col): _*)
        .orderBy("series_id", "bin").collect().map(_.toSeq)
      assert(got.toSeq === want.toSeq)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("downsample is batch/stream agnostic") {
    val batch = Seq(
      ("m t=a", 60L * 1000000000L, 1.0),
      ("m t=a", 70L * 1000000000L, 5.0),
      ("m t=a", 125L * 1000000000L, 2.0)).toDF("name", "ts", "value")
    val out = TsdbStream.downsample(batch, "1 minute", "5 minutes",
      Seq(AggFunc.Min, AggFunc.Max, AggFunc.Cnt))
      .select(col("name"), col("bin").cast("long"), col("min"), col("max"), col("cnt"))
      .as[(String, Long, Double, Double, Double)].collect().sortBy(_._2)
    assert(out.toSeq === Seq(
      ("m t=a", 60L, 1.0, 5.0, 2.0),
      ("m t=a", 120L, 2.0, 2.0, 1.0)))
  }

  test("streaming sessionize: gap splits sessions, end = last event + gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val df = in.toDF().toDF("name", "ts", "value")
    val q = TsdbStream.sessionize(df, "1 minute", "5 minutes")
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      val s = 1000000000L
      in.addData(
        ("m t=a", 60L * s, 1.0), ("m t=a", 90L * s, 3.0), // one session
        ("m t=a", 400L * s, 2.0)) // gap > 1 min -> second session
      q.processAllAvailable()
      in.addData(("m t=a", 100000L * s, 9.0)) // push watermark past both
      q.processAllAvailable()
      val rows = spark.table("sess")
        .select(col("name"), unix_micros(col("session_start")),
          unix_micros(col("session_end")), col("n"), col("min"), col("max"))
        .as[(String, Long, Long, Long, Double, Double)].collect().sortBy(_._2)
      assert(rows.take(2).toSeq === Seq(
        ("m t=a", 60000000L, 150000000L, 2L, 1.0, 3.0),
        ("m t=a", 400000000L, 460000000L, 1L, 2.0, 2.0)))
    } finally q.stop()
  }

  test("sessionize is batch/stream agnostic") {
    val s = 1000000000L
    val batch = Seq(
      ("m t=a", 60L * s, 1.0), ("m t=a", 90L * s, 3.0),
      ("m t=a", 400L * s, 2.0)).toDF("name", "ts", "value")
    val out = TsdbStream.sessionize(batch, "1 minute", "5 minutes")
      .select(col("name"), unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n"), col("min"), col("max"))
      .as[(String, Long, Long, Long, Double, Double)].collect().sortBy(_._2)
    assert(out.toSeq === Seq(
      ("m t=a", 60000000L, 150000000L, 2L, 1.0, 3.0),
      ("m t=a", 400000000L, 460000000L, 1L, 2.0, 2.0)))
  }

  test("stream-stream interval join pairs right rows in [left-window, left]") {
    implicit val sqlCtx = spark.sqlContext
    val s = 1000000000L
    val lin = MemoryStream[(String, Long, Double)]
    val rin = MemoryStream[(String, Long, Double)]
    val joined = TsdbStream.intervalJoin(
      lin.toDF().toDF("name", "ts", "value"),
      rin.toDF().toDF("name", "ts", "value"),
      windowUs = 60L * 1000000L, lateness = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try {
      rin.addData(("m t=a", 30L * s, 7.0), ("m t=a", 200L * s, 8.0))
      lin.addData(("m t=a", 60L * s, 1.0)) // window [0s, 60s] -> pairs with 30s
      q.processAllAvailable()
      val rows = spark.table("ij")
        .select(col("name"), col("l_ts"), col("r_ts"), col("l_value"), col("r_value"))
        .as[(String, Long, Long, Double, Double)].collect().toSeq
      assert(rows === Seq(("m t=a", 60L * s, 30L * s, 1.0, 7.0)))
    } finally q.stop()
  }

  test("stream-static asof probes the broadcast index statelessly across batches") {
    implicit val sqlCtx = spark.sqlContext
    val s = 1000000000L
    val idx = TsdbStream.asofIndex(Seq(
      ("a", 10L * s, 1.0), ("a", 20L * s, 2.0), ("b", 5L * s, 9.0))
      .toDF("name", "ts", "value"))
    val in = MemoryStream[(String, Long, Double)]
    val q = TsdbStream.asofStatic(in.toDF().toDF("name", "ts", "value"), idx,
        toleranceNs = Some(8L * s))
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      in.addData(("a", 9L * s, 0.1)) // before any right row -> null
      q.processAllAvailable()
      in.addData(
        ("a", 10L * s, 0.2), // exact-ts match (<= semantics) -> 1.0
        ("a", 25L * s, 0.3), // latest at-or-before 25 -> 2.0, within tol
        ("b", 20L * s, 0.4), // match is 15s stale -> tolerance nulls it
        ("c", 7L * s, 0.5)) // series absent from the index -> null
      q.processAllAvailable()
      val rows = spark.table("asof_out")
        .select(col("name"), col("ts"), col("r_value"))
        .as[(String, Long, Option[Double])].collect().toSeq.sortBy(r => (r._1, r._2))
      assert(rows === Seq(
        ("a", 9L * s, None), ("a", 10L * s, Some(1.0)),
        ("a", 25L * s, Some(2.0)), ("b", 20L * s, None),
        ("c", 7L * s, None)))
    } finally q.stop()
  }

  test("asofStatic resolves equal-ts right rows to the largest value, deterministically") {
    val s = 1000000000L
    // two right rows at the SAME ts with different values: the index
    // sorts by (ts, value) and the probe takes the last ordinal
    val right = Seq(("a", 10L * s, 3.0), ("a", 10L * s, 7.0))
      .toDF("name", "ts", "value")
    val left = Seq(("a", 10L * s, 0.1), ("a", 11L * s, 0.2))
      .toDF("name", "ts", "value")
    val out = TsdbStream.asofStatic(left, TsdbStream.asofIndex(right))
      .select("ts", "r_value").as[(Long, Double)].collect().toSeq.sorted
    assert(out === Seq((10L * s, 7.0), (11L * s, 7.0)))
  }

  test("asofStatic equals the batch TimeJoins.asof on the same frames") {
    val s = 1000000000L
    val right = Seq(("a", 10L * s, 1.0), ("a", 20L * s, 2.0),
      ("b", 5L * s, 9.0)).toDF("name", "ts", "value")
    val left = Seq(("a", 9L * s, 0.1), ("a", 10L * s, 0.2),
      ("a", 25L * s, 0.3), ("b", 20L * s, 0.4), ("c", 7L * s, 0.5))
      .toDF("name", "ts", "value")
    val probe = TsdbStream.asofStatic(left, TsdbStream.asofIndex(right))
      .select("name", "ts", "value", "r_value")
      .as[(String, Long, Double, Option[Double])].collect().toSeq.sorted
    val batch = graft.ops.TimeJoins.asof(left,
        right.withColumnRenamed("value", "r_value"),
        Seq("name"), Seq("r_value"))
      .select("name", "ts", "value", "r_value")
      .as[(String, Long, Double, Option[Double])].collect().toSeq.sorted
    assert(probe === batch)
  }

  test("streaming dedup drops exact (series, ts) duplicates in-horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val df = in.toDF().toDF("name", "ts", "value")
    val q = TsdbStream.dedup(df, "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(("a", 1000000000L, 1.0), ("a", 1000000000L, 1.0), ("a", 2000000000L, 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() === 2)
    } finally q.stop()
  }

  test("checkpointed stream restarts without reprocessing (durability)") {
    // file source -> parse -> parquet sink with checkpoint; stop, add more
    // input, restart with the same checkpoint: old input is not re-emitted.
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt")
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    def writeLines(name: String, lines: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(s"$base/tmp_$name")
      java.nio.file.Files.write(p, String.join("\n", lines: _*).getBytes)
      java.nio.file.Files.move(p, java.nio.file.Paths.get(s"$in/$name"))
    }
    def startQuery() = OpenTsdb.toSamples(
        spark.readStream.format("text").load(in))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    writeLines("a.txt", Seq("put m 10 1.0 t=a", "put m 20 2.0 t=a"))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() === 2)

    writeLines("b.txt", Seq("put m 30 3.0 t=a"))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(out)
    assert(rows.count() === 3) // a.txt not reprocessed, b.txt appended once
    assert(rows.select(sum(col("value"))).head().getDouble(0) === 6.0)
  }

  test("kmvBuild: kill mid-stream, restart from checkpoint — the recovered sink serves the statement batch-exactly") {
    // the statement-serving stream indexes must be durable END-TO-END,
    // not just converged-when-lucky: kill the query mid-window, restart
    // from the checkpoint, REGISTER the recovered sink, and the served
    // distinct statement must equal the batch engine's bit-for-bit
    val base = java.nio.file.Files.createTempDirectory("graft_kmv_restart")
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    val winNs = 1000L
    // 18 distinct users across 4 windows; the split at row 30 kills the
    // query with window 2 OPEN (its k-min state recovers from the
    // checkpoint, not from reprocessing file A)
    val all = (0 until 48).map(i => ("m", (i * 80).toLong, "u" + (i * 7 % 18)))
    def writeLines(name: String, rows: Seq[(String, Long, String)]): Unit = {
      val p = java.nio.file.Paths.get(s"$base/tmp_$name")
      java.nio.file.Files.write(p, rows.map { case (m, ts, u) => s"$m,$ts,$u" }
        .mkString("\n").getBytes)
      java.nio.file.Files.move(p, java.nio.file.Paths.get(s"$in/$name"))
    }
    def startQuery() = {
      val parsed = spark.readStream.format("text").load(in)
        .selectExpr("split(value, ',')[0] AS name",
          "CAST(split(value, ',')[1] AS LONG) AS ts",
          "split(value, ',')[2] AS value")
      TsdbStream.kmvBuild(parsed, winNs, k = 4)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          df.write.mode("append").parquet(out); () }
        .option("checkpointLocation", ckpt).outputMode("update").start()
    }
    writeLines("a.txt", all.take(30))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    writeLines("b.txt", all.drop(30))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val sink = spark.read.parquet(out)
    // the engine fixture: same rows as a settled table, user as the tag
    val wide = all.toDF("metric", "ts", "user")
      .withColumn("value", lit(1.0))
    val ctx = graft.model.TsdbContext.fromWide(spark, wide, "metric",
      Seq("user"), "ts", "value")
    val stmt = """{"distinct": {"metric": "m", "tag": "user", "k": 4},
                  "range": {"from": 0, "to": 4000}}"""
    val served = new graft.engine.Engine(ctx.copy(kmvIndexes = Seq(
        graft.model.KmvIndexDef("user", winNs, 4,
          sink.select(col("name").as("metric"),
            (col("win") * winNs).as("win"), col("h"))))))
      .execute(stmt)
    // really the served path (registration accepted, not the scan)
    assert(served.queryExecution.executedPlan.toString.contains("parquet"),
      "the recovered sink must serve the statement")
    assert(served.collect().toSeq ===
      new graft.engine.Engine(ctx).execute(stmt).collect().toSeq,
      "recovered-sink serving must equal the batch statement bit-for-bit")
  }

  test("layoutIngest: kill mid-stream, restart — exactly-once files; the layout serves select batch-exactly") {
    // the live-ingest half of the database story: the file sink's
    // _spark_metadata log must make a restart append-only (file A is
    // never reprocessed, no duplicate rows), and the resulting
    // metric/ts_day directory must answer queries EXACTLY like the
    // in-memory context over the same rows — streamed-in data is
    // queryable with pruning intact, no batch rewrite in between
    val base = java.nio.file.Files.createTempDirectory("graft_ingest_layout")
    val in = s"$base/in"; val out = s"$base/samples"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    val h = 3600L * 1000000000L
    // two tag series, hourly for 72 h → three ts_day directories
    val all = (0 until 72).flatMap { i =>
      Seq(("x", i.toLong * h, i / 3.0), ("y", i.toLong * h, 2 * i / 3.0))
    }
    def writeLines(name: String, rows: Seq[(String, Long, Double)]): Unit = {
      val p = java.nio.file.Paths.get(s"$base/tmp_$name")
      java.nio.file.Files.write(p, rows.map { case (u, ts, v) => s"$u,$ts,$v" }
        .mkString("\n").getBytes)
      java.nio.file.Files.move(p, java.nio.file.Paths.get(s"$in/$name"))
    }
    def startQuery() = {
      val parsed = spark.readStream.format("text").load(in)
        .selectExpr(
          "xxhash64(concat('m user=', split(value, ',')[0])) AS series_id",
          "CAST(split(value, ',')[1] AS LONG) AS ts",
          "CAST(split(value, ',')[2] AS DOUBLE) AS value")
        .withColumn("metric", lit("m"))
      TsdbStream.layoutIngest(parsed, out, ckpt)
    }
    writeLines("a.txt", all.take(100))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    writeLines("b.txt", all.drop(100))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val wide = all.toDF("user", "ts", "value")
      .withColumn("metric", lit("m"))
    val ctx = graft.model.TsdbContext.fromWide(spark, wide, "metric",
      Seq("user"), "ts", "value")
    // exactly once: every row present, none twice (a.txt not replayed)
    val laidRows = spark.read.parquet(out)
      .select("series_id", "ts", "value")
      .orderBy("series_id", "ts").collect().toSeq
    assert(laidRows.size === all.size, "each streamed row lands exactly once")
    assert(laidRows === ctx.samples.select("series_id", "ts", "value")
      .orderBy("series_id", "ts").collect().toSeq)
    // and the directory answers like the in-memory context, with the
    // layout's partition pruning live on the scan
    val laid = graft.model.TsdbLayout.contextOver(spark, out,
      ctx.series, ctx.events)
    val stmt = s"""{"select": "m",
                    "range": {"from": ${24 * h}, "to": ${48 * h}}}"""
    val served = new graft.engine.Engine(laid).execute(stmt)
    assert(served.collect().toSeq ===
      new graft.engine.Engine(ctx).execute(stmt).collect().toSeq,
      "stream-ingested layout must serve the select bit-for-bit")
    val plan = served.queryExecution.executedPlan.toString
    // bracket-content assert: an empty PartitionFilters list must fail
    assert("PartitionFilters: \\[[^\\]]*ts_day".r.findFirstIn(plan).isDefined,
      s"the ingested layout scan must carry a ts_day partition filter:\n$plan")
  }

  test("compactL0: settled ingest days move into the batch layout; answers never change") {
    // the LSM L0→L1 rule over the two-tier database: batch layout owns
    // days [0, 2), the live ingest tier owns [2, 5); compaction claims
    // the settled days and flips the reader's tier through the
    // watermark — same answers before, after, and on idempotent re-run
    val db = java.nio.file.Files.createTempDirectory("graft_l0_db").toString
    val h = 3600L * 1000000000L
    val all = (0 until 120).flatMap { i =>
      Seq(("x", i.toLong * h, i / 3.0), ("y", i.toLong * h, 2 * i / 3.0))
    }
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    graft.model.TsdbLayout.writeDatabase(ctxOf(all.filter(_._2 < 48 * h)), db)

    // live tier: a REAL layoutIngest run over days 2-4
    val in = s"$db/ingest_in"; new java.io.File(in).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.txt"),
      all.filter(_._2 >= 48 * h)
        .map { case (u, ts, v) => s"$u,$ts,$v" }.mkString("\n").getBytes)
    def startIngest() = TsdbStream.layoutIngest(
      spark.readStream.format("text").load(in)
        .selectExpr(
          "xxhash64(concat('m user=', split(value, ',')[0])) AS series_id",
          "CAST(split(value, ',')[1] AS LONG) AS ts",
          "CAST(split(value, ',')[2] AS DOUBLE) AS value")
        .withColumn("metric", lit("m")),
      s"$db/samples_l0", s"$db/ingest_ckpt")
    val q = startIngest()
    try q.processAllAvailable() finally q.stop()

    val full = ctxOf(all)
    val stmt = s"""{"select": "m", "range": {"from": 0, "to": ${120 * h}}}"""
    def servedRows() = new graft.engine.Engine(
      graft.model.TsdbLayout.openDatabase(spark, db)).execute(stmt)
      .collect().toSeq
    val oracle = new graft.engine.Engine(full).execute(stmt).collect().toSeq
    assert(servedRows() === oracle,
      "two-tier read (batch ∪ L0) must equal the in-memory context")

    // claim days 2-3 (cutoff = start of day 4)
    assert(graft.model.TsdbLayout.compactL0(spark, db, 96 * h) === 2)
    assert(graft.model.TsdbLayout.l0Watermark(spark, db) === 4L)
    for (d <- Seq(2, 3))
      assert(new java.io.File(s"$db/samples/metric=m/ts_day=$d").isDirectory,
        s"day $d must now live in the batch layout")
    assert(servedRows() === oracle, "compaction must not change answers")

    // idempotent re-run: nothing to move, watermark stays, answers hold
    assert(graft.model.TsdbLayout.compactL0(spark, db, 96 * h) === 0)
    assert(servedRows() === oracle)

    // CRASH RECOVERY, with a LATER cutoff: simulate the window where
    // the overwrite committed but the watermark never advanced (delete
    // the watermark file — the claimed days now sit in BOTH tiers and
    // double-read), then recover with tomorrow's scheduled cutoff, not
    // the crashed run's: occupied days verify multiset-equal per day,
    // the newly-settled day 4 is genuinely moved, and answers heal
    java.nio.file.Files.delete(java.nio.file.Paths.get(db, "l0_watermark"))
    assert(servedRows() !== oracle,
      "the simulated crash window must actually double-read (else this " +
        "test proves nothing)")
    assert(graft.model.TsdbLayout.compactL0(spark, db, 120 * h) === 3,
      "the later-cutoff re-run must recover days 2-3 AND move day 4")
    assert(graft.model.TsdbLayout.l0Watermark(spark, db) === 5L)
    assert(new java.io.File(s"$db/samples/metric=m/ts_day=4").isDirectory)
    assert(servedRows() === oracle, "recovery restores single-read answers")
    assert(graft.model.TsdbLayout.compactL0(spark, db, 120 * h) === 0)

    // LATE DATA below the watermark: a straggler streamed into a
    // claimed day is reader-invisible (its day is batch-owned), the
    // l0Stragglers alert reports it, and routing it through
    // upsertSamples — the documented late path — makes it visible
    val late = ("x", 30 * h + 1L, 99.0) // day 1: batch-owned, wm = 4
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/late.txt"),
      s"${late._1},${late._2},${late._3}".getBytes)
    val q3 = startIngest() // resumes from the checkpoint; a.txt skipped
    try q3.processAllAvailable() finally q3.stop()
    assert(graft.model.TsdbLayout.l0Stragglers(spark, db)
      .as[(String, Long, Long)].collect().toSeq === Seq(("m", 1L, 1L)),
      "the straggler alert must name the claimed day")
    assert(servedRows() === oracle,
      "a straggler must be reader-invisible, not double- or mis-read")
    val xId = Seq("m user=x").toDF("name")
      .select(xxhash64(col("name"))).head().getLong(0)
    graft.model.TsdbLayout.upsertSamples(spark, s"$db/samples",
      Seq((xId, late._2, late._3)).toDF("series_id", "ts", "value"),
      ctxOf(all).series)
    val withLate = ctxOf(all :+ late)
    assert(servedRows() === new graft.engine.Engine(withLate)
      .execute(stmt).collect().toSeq,
      "after the upsert route, the late row reads exactly once")
    assert(graft.model.TsdbLayout.l0Stragglers(spark, db).isEmpty,
      "routing the straggler through upsert must clear the alert")

    // the upsert BOUNDARY: a correction into a day the L0 tier still
    // owns (ts_day >= watermark, = 5 after the later-cutoff recovery)
    // must refuse loudly — writing it would double-read the day
    // immediately and brick the next compaction
    val eUp = intercept[IllegalArgumentException](
      graft.model.TsdbLayout.upsertSamples(spark, s"$db/samples",
        Seq((xId, 121 * h, 1.0)).toDF("series_id", "ts", "value"),
        ctxOf(all).series))
    assert(eUp.getMessage.contains("owned by the live ingest tier"))

    // day-exclusivity guard: an ingest tier holding a day the batch
    // layout already owns WITH DIFFERENT CONTENT must refuse to
    // compact, loudly (identical content is the tolerated crash state)
    val db2 = java.nio.file.Files.createTempDirectory("graft_l0_db2").toString
    graft.model.TsdbLayout.writeDatabase(ctxOf(all.filter(_._2 < 48 * h)), db2)
    val in2 = s"$db2/ingest_in"; new java.io.File(in2).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in2/a.txt"),
      all.filter(_._2 < 24 * h) // day 0 — already owned by batch...
        .map { case (u, ts, v) => s"$u,$ts,${v + 1.0}" } // ...and conflicting
        .mkString("\n").getBytes)
    val q2 = TsdbStream.layoutIngest(
      spark.readStream.format("text").load(in2)
        .selectExpr(
          "xxhash64(concat('m user=', split(value, ',')[0])) AS series_id",
          "CAST(split(value, ',')[1] AS LONG) AS ts",
          "CAST(split(value, ',')[2] AS DOUBLE) AS value")
        .withColumn("metric", lit("m")),
      s"$db2/samples_l0", s"$db2/ingest_ckpt")
    try q2.processAllAvailable() finally q2.stop()
    val e = intercept[IllegalArgumentException](
      graft.model.TsdbLayout.compactL0(spark, db2, 24 * h))
    assert(e.getMessage.contains("exclusive"))

    // BEFORE the first compaction (no watermark file) the upsert guard
    // scopes to the days L0 actually shows rows for: a correction to a
    // batch-only day must pass (refusing ">= Long.MinValue" would
    // block all maintenance until the first compaction), while a day
    // L0 holds refuses — its copies would double-read immediately
    graft.model.TsdbLayout.upsertSamples(spark, s"$db2/samples",
      Seq((xId, 30 * h, 7.7)).toDF("series_id", "ts", "value"),
      ctxOf(all).series) // day 1: batch-only, allowed
    val ePre = intercept[IllegalArgumentException](
      graft.model.TsdbLayout.upsertSamples(spark, s"$db2/samples",
        Seq((xId, 2 * h, 7.7)).toDF("series_id", "ts", "value"),
        ctxOf(all).series)) // day 0: L0 shows rows, refused
    assert(ePre.getMessage.contains("owned by the live ingest tier"))
  }

  test("rollupBuild: kill mid-bin, restart from checkpoint — the recovered sink serves group-aggregate batch-exactly") {
    // the FOURTH statement-serving stream index gets the same durability
    // pin as kmv/bucketMeans/hist: kill the maintainer with a bin open,
    // restart from the checkpoint, REGISTER the recovered sink as the
    // engine's rollup, and the served group-aggregate must equal the
    // raw-scan engine bit-for-bit
    val base = java.nio.file.Files.createTempDirectory("graft_rollup_restart")
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    val s = 1000000000L; val step = 10 * s
    // two tag series of metric m, one row per second for 120 s; the cut
    // at row 110 (55 s × 2 series) kills the query with bin [50 s, 60 s)
    // OPEN on both series — its partial accumulator recovers from the
    // checkpoint, not from reprocessing file A
    val all = (0 until 120).flatMap { i =>
      val t = i.toLong * s
      Seq(("x", t, i / 7.0), ("y", t, 2 * i / 7.0 + 3.0))
    }
    def writeLines(name: String, rows: Seq[(String, Long, Double)]): Unit = {
      val p = java.nio.file.Paths.get(s"$base/tmp_$name")
      java.nio.file.Files.write(p, rows.map { case (u, ts, v) => s"$u,$ts,$v" }
        .mkString("\n").getBytes)
      java.nio.file.Files.move(p, java.nio.file.Paths.get(s"$in/$name"))
    }
    def startQuery() = {
      // series_id derived exactly as TsdbContext.fromWide derives it
      // (xxhash64 of the canonical name), so the streamed rollup keys
      // match the settled catalog's
      val parsed = spark.readStream.format("text").load(in)
        .selectExpr(
          "xxhash64(concat('m user=', split(value, ',')[0])) AS series_id",
          "CAST(split(value, ',')[1] AS LONG) AS ts",
          "CAST(split(value, ',')[2] AS DOUBLE) AS value")
      TsdbStream.rollupBuild(parsed, step, "10 seconds")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    writeLines("a.txt", all.take(110))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // phase B: the rest plus a far-future sentinel that flushes the
    // watermark past every real bin (the sentinel's own bin never
    // finalizes, so it cannot reach the sink)
    writeLines("b.txt", all.drop(110) :+ (("zz", 1000L * s, 0.0)))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val sink = spark.read.parquet(out)
    // the recovered sink IS the batch rollup, bit-for-bit
    val wide = all.toDF("user", "ts", "value")
      .withColumn("metric", lit("m"))
    val ctx = graft.model.TsdbContext.fromWide(spark, wide, "metric",
      Seq("user"), "ts", "value")
    assert(sink.orderBy("series_id", "bin").collect().toSeq ===
      graft.engine.Rollup.build(ctx.samples, step)
        .select(sink.columns.map(col).toSeq: _*)
        .orderBy("series_id", "bin").collect().toSeq,
      "restarted sink must equal the batch rollup exactly")
    // and the engine SERVES from the registered recovery: aligned range,
    // 12 fine bins (≥ RollupMinServedBins), fully-aligned → rollup-only
    val stmt = """{"group-aggregate": {"metric": "m", "step": "20s",
                                       "func": ["min", "max", "cnt"]},
                   "range": {"from": 0, "to": 120000000000}}"""
    val served = new graft.engine.Engine(ctx.copy(rollups = Seq(step -> sink)))
      .execute(stmt)
    assert(served.queryExecution.executedPlan.toString.contains("parquet"),
      "the recovered sink must serve the statement")
    assert(served.collect().toSeq ===
      new graft.engine.Engine(ctx).execute(stmt).collect().toSeq,
      "recovered-sink serving must equal the raw-scan statement bit-for-bit")

    // and the LIVING-database composition: the stream-maintained sink
    // ADOPTS into a persisted catalog (pointer, not copy), so a
    // catalog-loaded restart serves from the directory the stream
    // keeps appending to
    val catDir = java.nio.file.Files
      .createTempDirectory("graft_rollup_adopt").toString
    graft.model.IndexCatalog.save(ctx, catDir)
    graft.model.IndexCatalog.adopt(catDir, "rollup", out,
      windowNs = Some(step))
    val viaCatalog = new graft.engine.Engine(
      graft.model.IndexCatalog.load(spark, catDir, ctx)).execute(stmt)
    assert(viaCatalog.collect().toSeq === served.collect().toSeq,
      "catalog-adopted stream sink must serve identically")
  }

  test("bucketMeansBuild: kill mid-bucket, restart from checkpoint — the recovered sink serves trend batch-exactly") {
    val base = java.nio.file.Files.createTempDirectory("graft_bm_restart")
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    val s = 1000000000L; val bucket = 10 * s
    // two structured series, one row per second for 120 s; the split at
    // row index 55·2 kills the query with bucket [50 s, 60 s) OPEN on
    // both series — its partial (sum, cnt) recovers from the checkpoint
    val all = (0 until 120).flatMap { i =>
      val t = i.toLong * s
      Seq(("x", t, i / 7.0), ("y", t, 2 * i / 7.0 + 3.0))
    }
    def writeLines(name: String, rows: Seq[(String, Long, Double)]): Unit = {
      val p = java.nio.file.Paths.get(s"$base/tmp_$name")
      java.nio.file.Files.write(p, rows.map { case (n, ts, v) => s"$n,$ts,$v" }
        .mkString("\n").getBytes)
      java.nio.file.Files.move(p, java.nio.file.Paths.get(s"$in/$name"))
    }
    def startQuery() = {
      val parsed = spark.readStream.format("text").load(in)
        .selectExpr("split(value, ',')[0] AS name",
          "CAST(split(value, ',')[1] AS LONG) AS ts",
          "CAST(split(value, ',')[2] AS DOUBLE) AS value")
      TsdbStream.bucketMeansBuild(parsed, bucket, "10 seconds")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    writeLines("a.txt", all.take(110))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // phase B: the rest plus a far-future sentinel that flushes the
    // watermark past every real bucket
    writeLines("b.txt", all.drop(110) :+ (("zz", 1000L * s, 0.0)))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val sink = spark.read.parquet(out).where(col("name") =!= "zz")
    // the recovered sink IS the batch reduction, bit-for-bit
    assert(sink.select("name", "__b", "__s", "__c")
      .as[(String, Long, Long, Long)].collect().toSet ===
      graft.ops.Stats.bucketSums(all.toDF("name", "ts", "value"),
          bucket, keyCol = "name")
        .as[(String, Long, Long, Long)].collect().toSet,
      "restarted sink must equal the batch bucket sums exactly")
    // and the statement readout served from it equals the batch op
    val servedTrend = graft.ops.Stats.trendFromBucketMeans(
        graft.ops.Stats.meansFromSums(sink, "name"), "name",
        bucket, horizonBuckets = 2L)
      .orderBy("name").collect().toSeq
    val batchTrend = graft.ops.Stats.trend(
        all.toDF("name", "ts", "value"), bucket, horizonBuckets = 2L,
        keyCol = "name")
      .orderBy("name").collect().toSeq
    assert(servedTrend === batchTrend,
      "trend served from the recovered sink must equal the batch trend")
  }

  test("histBuild: kill mid-window, restart from checkpoint — the recovered sink serves quantiles batch-exactly") {
    val base = java.nio.file.Files.createTempDirectory("graft_hist_restart")
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    val s = 1000000000L; val win = 10 * s
    // two series with real value spread; the split at row 110 kills the
    // query with window [50 s, 60 s) OPEN — its partial bucket counts
    // recover from the checkpoint, not from reprocessing file A
    val all = (0 until 120).flatMap { i =>
      val t = i.toLong * s
      Seq(("x", t, (i * 37 % 100) / 7.0), ("y", t, 2 * i / 7.0 + 3.0))
    }
    def writeLines(name: String, rows: Seq[(String, Long, Double)]): Unit = {
      val p = java.nio.file.Paths.get(s"$base/tmp_$name")
      java.nio.file.Files.write(p, rows.map { case (n, ts, v) => s"$n,$ts,$v" }
        .mkString("\n").getBytes)
      java.nio.file.Files.move(p, java.nio.file.Paths.get(s"$in/$name"))
    }
    def startQuery() = {
      val parsed = spark.readStream.format("text").load(in)
        .selectExpr("split(value, ',')[0] AS name",
          "CAST(split(value, ',')[1] AS LONG) AS ts",
          "CAST(split(value, ',')[2] AS DOUBLE) AS value")
      TsdbStream.histBuild(parsed, win, "10 seconds")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    writeLines("a.txt", all.take(110))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    writeLines("b.txt", all.drop(110) :+ (("x", 1000L * s, 0.0)))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    // the sentinel's own window never finalizes: the recovered sink IS
    // the batch histogram, bit-for-bit
    val sink = spark.read.parquet(out)
    val batchHist = graft.ops.HistQuantiles.histogram(
      all.toDF("name", "ts", "value")
        .withColumn("win", col("ts") - pmod(col("ts"), lit(win))),
      Seq("name", "win"))
    assert(sink.select("name", "win", "lo", "cnt")
      .as[(String, Long, Long, Long)].collect().toSet ===
      batchHist.as[(String, Long, Long, Long)].collect().toSet,
      "restarted sink must equal the batch histogram exactly")
    // and the percentile readout served from it equals the batch one
    val served = graft.ops.HistQuantiles.quantiles(
        sink, Seq("name"), Seq("0.5", "0.99"))
      .orderBy("name", "p").collect().toSeq
    val batch = graft.ops.HistQuantiles.quantiles(
        batchHist, Seq("name"), Seq("0.5", "0.99"))
      .orderBy("name", "p").collect().toSeq
    assert(served === batch,
      "quantiles served from the recovered sink must equal the batch index")
  }

  test("curation ops run unchanged on a document stream (stream-static broadcast)") {
    // contamination joins a STATIC broadcast benchmark against a STREAMING
    // corpus; sampling/splits are stateless filters/projections — the same
    // library calls compile on streams, the continuous-curation design point
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val stream = in.toDF().toDF("doc_id", "text", "lang")
    val bench = Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val curated = graft.pipeline.TextOps.stratifiedSample(
      graft.pipeline.TextOps.assignSplits(stream, "doc_id", "text")
        .join(stream.select(col("doc_id").as("id"), col("text"), col("lang")), "id"),
      "text", "lang", Map("drop" -> 0.0))
    val q = curated.writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      in.addData((1L, "alpha beta gamma delta", "keep"),
        (2L, "one two three four", "drop"))
      q.processAllAvailable()
      val rows = spark.table("curated").select("id", "split")
        .as[(Long, String)].collect()
      assert(rows.map(_._1).toSet === Set(1L), "rate-0 stratum dropped in-stream")
      assert(Seq("train", "val", "test").contains(rows.head._2))
    } finally q.stop()
    // contamination needs a per-batch aggregation -> complete/update mode or
    // foreachBatch in production; prove the batch call on the SAME frames
    val batch = Seq((1L, "alpha beta gamma delta", "keep")).toDF("doc_id", "text", "lang")
    val c = graft.pipeline.TextOps.contamination(batch, "doc_id", "text",
      bench, "text", k = 3).select("contaminated").as[Boolean].head()
    assert(c, "benchmark-identical doc flagged")
  }

  test("streaming content dedup (bounded state) drops duplicate documents across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val deduped = TsdbStream.dedupDocumentsByContent(
      in.toDF().toDF("doc_id", "ts", "text"),
      "text", "ts", lateness = "10 seconds")
    val q = deduped.writeStream.format("memory").queryName("docdedup")
      .outputMode("append").start()
    try {
      val s = 1000000000L // ns per second
      in.addData((1L, 1 * s, "alpha"), (2L, 2 * s, "beta"))
      q.processAllAvailable()
      in.addData((3L, 3 * s, "alpha"), (4L, 4 * s, "gamma")) // 3 dups 1 ACROSS batches
      q.processAllAvailable()
      val ids = spark.table("docdedup").select("doc_id")
        .as[Long].collect().toSet
      assert(ids === Set(1L, 2L, 4L), "cross-batch duplicate dropped by state")
    } finally q.stop()
  }

  test("incrementalDedup: corpus hashes veto, in-stream dups drop across batches") {
    implicit val sqlCtx = spark.sqlContext
    val corpusHashes = Seq("known doc", "other known")
      .toDF("t").select(md5($"t").as("text_hash"))
    val in = MemoryStream[(Long, Long, String)]
    val out = TsdbStream.incrementalDedup(
      in.toDF().toDF("doc_id", "ts", "text"),
      corpusHashes, "text", "ts", lateness = "1 hour")
    val q = out.writeStream.format("memory").queryName("incr_dedup")
      .outputMode("append").start()
    try {
      val s = 1000000000L
      in.addData((1L, 1 * s, "known doc"),   // in corpus -> vetoed
        (2L, 2 * s, "fresh one"),            // new -> kept
        (3L, 3 * s, "fresh one"))            // in-batch repeat -> dropped
      q.processAllAvailable()
      in.addData((4L, 4 * s, "fresh one"),   // CROSS-batch repeat -> state drops it
        (5L, 5 * s, "other known"),          // corpus veto again
        (6L, 6 * s, "brand new"))            // kept
      q.processAllAvailable()
      val ids = spark.table("incr_dedup").select("doc_id").as[Long].collect().toSet
      assert(ids === Set(2L, 6L))
    } finally q.stop()
  }

  test("incrementalDedup: beyond-horizon repeats ARE re-admitted (bounded state)") {
    // the documented trade: dedup state evicts at the watermark horizon,
    // which is what lets the stream run forever — a repeat arriving
    // after its original's hash has expired is treated as new. Entries
    // must size the horizon past their feed span for oracle equivalence;
    // this pins the boundary the entry comment relies on.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val out = TsdbStream.incrementalDedup(
      in.toDF().toDF("doc_id", "ts", "text"),
      Seq.empty[String].toDF("t").select(md5($"t").as("text_hash")),
      "text", "ts", lateness = "10 seconds")
    val q = out.writeStream.format("memory").queryName("incr_dedup_hz")
      .outputMode("append").start()
    try {
      val s = 1000000000L
      in.addData((1L, 100 * s, "repeated text"))
      q.processAllAvailable()
      in.addData((2L, 200 * s, "advance the watermark far past 110s"))
      q.processAllAvailable() // watermark ~190s > 100s + 10s: hash 1 evicted
      in.addData((3L, 201 * s, "repeated text"))
      q.processAllAvailable()
      val ids = spark.table("incr_dedup_hz").select("doc_id").as[Long].collect().toSet
      assert(ids === Set(1L, 2L, 3L),
        "doc 3's hash expired with doc 1's state — re-admitted by design")
    } finally q.stop()
  }

  test("corpus ingest from a file source: FileStreamSource drives the query, no driver feed") {
    // the input half of the streaming story: documents arrive as parquet
    // FILES (readStream over a directory), not as driver-collected rows
    // through a MemoryStream — the path a production ingest actually
    // takes. maxFilesPerTrigger=1 forces multiple micro-batches so the
    // source genuinely paces the stream
    val tmp = java.nio.file.Files.createTempDirectory("graft_fs_src").toString
    val docs = Seq(
      (1L, "web", (1 to 120).map(i => Seq("the", "a", "of")(i % 3)).mkString(" ")),
      (2L, "web", "zz"), // fails the quality gate
      (3L, "books", (1 to 150).map(i => Seq("to", "in", "and")(i % 3)).mkString(" ")))
      .toDF("doc_id", "source", "text")
    docs.repartition(3).write.parquet(s"$tmp/in")
    val in = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    val q = TsdbStream.corpusIngest(in)
      .writeStream.format("parquet").option("path", s"$tmp/corpus")
      .option("checkpointLocation", s"$tmp/ckpt").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progress = q.recentProgress
    assert(progress.nonEmpty &&
      progress.flatMap(_.sources).forall(_.description.contains("FileStreamSource")),
      s"expected a FileStreamSource-driven query:\n${progress.flatMap(_.sources).map(_.description).toSeq}")
    assert(progress.count(_.numInputRows > 0) > 1,
      "expected multiple file-paced micro-batches")
    val out = spark.read.parquet(s"$tmp/corpus").select("id").as[Long].collect().toSet
    assert(out === Set(1L, 3L), "quality gate must drop doc 2 in-flight")
  }

  test("histBuild: streamed hourly histograms equal the batch build bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val hourNs = 3600000000000L
    val rows = (0 until 200).map(i =>
      ("s", i.toLong * 60000000000L, (i * 37 % 100) / 3.0 + 0.1))
    val in = MemoryStream[(String, Long, Double)]
    val q = TsdbStream.histBuild(in.toDF().toDF("name", "ts", "value"),
        hourNs, "10 minutes")
      .writeStream.format("memory").queryName("hist_out")
      .outputMode("append").start()
    try {
      rows.grouped(50).foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
      // sentinel far past the data finalizes every real window
      in.addData(("s", rows.last._2 + 10 * hourNs, 0.0))
      q.processAllAvailable()
      val streamed = spark.table("hist_out")
        .groupBy("name", "lo").agg(sum("cnt").as("cnt"))
        .orderBy("lo").collect().toSeq
      val batch = graft.ops.HistQuantiles.histogram(
          rows.toDF("name", "ts", "value"), Seq("name"))
        .orderBy("lo").collect().toSeq
      assert(streamed === batch)
    } finally q.stop()
  }

  test("kmvBuild: stream-admitted hashes re-cut to exactly the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val dayNs = 100L
    // 600 values over 6 windows with heavy cross-window repeats; k=16
    // forces real evictions, so the sink is a strict superset of the
    // final k-min sets and the serve-time re-cut is doing real work
    val rows = (0 until 600).map(i =>
      ("g", i.toLong, s"u${(i * 131) % 90}"))
    val in = MemoryStream[(String, Long, String)]
    val q = TsdbStream.kmvBuild(in.toDF().toDF("name", "ts", "value"),
        dayNs, k = 16)
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode("update").start()
    try {
      rows.grouped(150).foreach { chunk =>
        in.addData(chunk); q.processAllAvailable()
      }
      val served = graft.ops.Sketches.kmvServe(
          spark.table("kmv_out").select("name", "h"), "name", k = 16)
        .collect().toSeq
      val batch = graft.ops.Sketches.kmvDistinct(
          rows.toDF("name", "ts", "value"), "name", "value", k = 16)
        .collect().toSeq
      assert(served === batch)
      // ever-admitted ⊇ each window's final k-min (the lossless-merge
      // lemma), and admissions genuinely exceeded the final sets
      // (evictions occurred — the re-cut above did real work)
      val sink = spark.table("kmv_out").select("name", "win", "h")
        .as[(String, Long, Long)].collect().toSet
      val batchIdx = graft.ops.Sketches.kmvIndex(
          rows.toDF("name", "ts", "value")
            .withColumn("win", expr(s"ts div $dayNs")),
          "name", "win", "value", k = 16)
        .as[(String, Long, Long)].collect().toSet
      assert(batchIdx.subsetOf(sink))
      assert(sink.size > batchIdx.size, "expected admissions beyond final sets")
    } finally q.stop()
  }

  test("flagStale: the watermark fires an alert with NO arriving sample; arrivals reset") {
    implicit val sqlCtx = spark.sqlContext
    // base offset keeps every event time strictly above the initial
    // watermark (0): a ts-0 row is "late" to an empty stream by the
    // watermark's own definition
    val T = 1000000000000L
    val idx = Seq(("a", 5000000000L), ("b", 100000000000L),
      ("c", 5000000000L)).toDF("name", "thr")
    val in = MemoryStream[(String, Long, Double)]
    val q = TsdbStream.flagStale(in.toDF().toDF("name", "ts", "value"),
        idx, "1 second")
      .writeStream.format("memory").queryName("stale_out")
      .outputMode("append").start()
    try {
      in.addData(("c", T, 0.0), ("b", T + 5000000000L, 0.0))
      q.processAllAvailable()
      in.addData(("a", T + 10000000000L, 0.0))
      q.processAllAvailable()
      // c returns after a 20 s silence (> 5 s thr): inline alert (c, T)
      in.addData(("c", T + 20000000000L, 0.0), ("b", T + 30000000000L, 0.0))
      q.processAllAvailable()
      // b's progress alone pushes the watermark past a's deadline
      // (T+10+5 s) and c's new deadline (T+20+5 s): both fire by
      // TIMEOUT — no a or c sample ever arrives again
      in.addData(("b", T + 31000000000L, 0.0))
      q.processAllAvailable()
      in.addData(("b", T + 32000000000L, 0.0))
      q.processAllAvailable()
      val alerts = spark.table("stale_out")
        .as[(String, Long)].collect().toSet
      // b never alerts: its 100 s threshold outlives the stream
      assert(alerts === Set(("a", T + 10000000000L), ("c", T),
        ("c", T + 20000000000L)))
    } finally q.stop()
  }

  test("flagGaps: a silence spanning micro-batches is flagged on arrival") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Seq(("a", 50.0)).toDF("name", "thr")
    val in = MemoryStream[(String, Long, Double)]
    val q = TsdbStream.flagGaps(in.toDF().toDF("name", "ts", "value"), idx)
      .writeStream.format("memory").queryName("gaps_out")
      .outputMode("update").start()
    try {
      in.addData(("a", 10L, 1.0), ("a", 20L, 1.0))
      q.processAllAvailable()
      // batch 2 arrives 100 after the last batch-1 sample: the gap
      // crosses the micro-batch boundary and must still be seen (the
      // 8-byte last-ts state is the whole point)
      in.addData(("a", 120L, 1.0), ("x", 200L, 1.0)) // x: no model -> dropped
      q.processAllAvailable()
      val rows = spark.table("gaps_out")
        .select("name", "gap_start", "gap_end", "gap_ns")
        .as[(String, Long, Long, Long)].collect().toSeq
      assert(rows === Seq(("a", 20L, 120L, 100L)))
    } finally q.stop()
  }

  test("flagGaps: late (out-of-order) rows never re-open emitted intervals or shift the cursor") {
    implicit val sqlCtx = spark.sqlContext
    // the documented degradation contract (TsdbStream.flagGaps
    // PRECONDITION): a row older than the carried last-arrival ts is
    // skipped as a gap START (its delta is negative) and cannot move
    // the cursor backward — so an already-emitted interval is never
    // re-opened, split retroactively, or duplicated, and the next real
    // gap measures from the true latest arrival, not the late row
    val idx = Seq(("a", 50.0)).toDF("name", "thr")
    val in = MemoryStream[(String, Long, Double)]
    val q = TsdbStream.flagGaps(in.toDF().toDF("name", "ts", "value"), idx)
      .writeStream.format("memory").queryName("gaps_ooo")
      .outputMode("update").start()
    try {
      in.addData(("a", 10L, 1.0), ("a", 20L, 1.0))
      q.processAllAvailable()
      in.addData(("a", 120L, 1.0)) // gap (20, 120) emitted
      q.processAllAvailable()
      in.addData(("a", 60L, 1.0)) // LATE: inside the emitted interval
      q.processAllAvailable()
      val afterLate = spark.table("gaps_ooo")
        .as[(String, Long, Long, Long)].collect().toSeq
      assert(afterLate === Seq(("a", 20L, 120L, 100L)),
        "a late row must not re-open, split, or duplicate the emitted interval")
      in.addData(("a", 200L, 1.0)) // 200−120 = 80 > 50: a NEW gap —
      q.processAllAvailable()      // measured from 120, not the late 60
      val rows = spark.table("gaps_ooo")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(rows === Set(("a", 20L, 120L, 100L), ("a", 120L, 200L, 80L)))
    } finally q.stop()
  }

  test("flagStale: arrival after a timeout alert does not duplicate it; late rows are inert") {
    implicit val sqlCtx = spark.sqlContext
    // the arrival-vs-timeout race pin: a timed-out episode removes its
    // state, so the series' NEXT arrival — however long after the
    // alerted silence — starts a fresh episode instead of re-alerting
    // the old one inline. Each silence alerts exactly once, whichever
    // trigger wins; a below-watermark straggler is dropped before the
    // state fold and can neither alert nor move the cursor
    val T = 1000000000000L; val s = 1000000000L
    val idx = Seq(("a", 5 * s), ("b", 1000 * s)).toDF("name", "thr")
    val in = MemoryStream[(String, Long, Double)]
    val q = TsdbStream.flagStale(in.toDF().toDF("name", "ts", "value"),
        idx, "1 second")
      .writeStream.format("memory").queryName("stale_ooo")
      .outputMode("append").start()
    try {
      in.addData(("a", T, 0.0), ("b", T + 1 * s, 0.0))
      q.processAllAvailable()
      in.addData(("b", T + 30 * s, 0.0)) // watermark → T+29s > a's deadline
      q.processAllAvailable()
      in.addData(("b", T + 31 * s, 0.0)) // lets the timeout fire
      q.processAllAvailable()
      assert(spark.table("stale_ooo").as[(String, Long)].collect().toSet ===
        Set(("a", T)), "the watermark-clock alert for a's silence")
      // a returns 40 s after the alerted silence began: NO inline
      // re-alert (state was removed at timeout) — a fresh episode opens
      in.addData(("a", T + 40 * s, 0.0))
      q.processAllAvailable()
      // a LATE a-row below the watermark: dropped, cursor unmoved
      in.addData(("a", T + 35 * s, 0.0))
      q.processAllAvailable()
      assert(spark.table("stale_ooo").as[(String, Long)].collect().toSet ===
        Set(("a", T)), "return arrival and late straggler must not re-alert")
      // the fresh episode times out on its own deadline (T+45s)
      in.addData(("b", T + 60 * s, 0.0))
      q.processAllAvailable()
      in.addData(("b", T + 61 * s, 0.0))
      q.processAllAvailable()
      assert(spark.table("stale_ooo").as[(String, Long)].collect().toSet ===
        Set(("a", T), ("a", T + 40 * s)),
        "each silence episode alerts exactly once")
    } finally q.stop()
  }

  test("trendBuild: streamed moments equal the batch trend bit-for-bit; late buckets skipped") {
    implicit val sqlCtx = spark.sqlContext
    val bucket = 1000L // 1 µs buckets (whole-µs rule)
    // two series: a clean ramp and a noisy one with multi-row buckets —
    // the bucket-mean quantization must match the batch column exactly
    val rows = (0 until 60).flatMap { i =>
      Seq(("up", i * 1000L + 137, 2.0 * i + 3.0),
        ("noisy", i * 1000L + 211, (i * 37 % 100) / 7.0),
        ("noisy", i * 1000L + 613, (i * 53 % 90) / 11.0))
    }.sortBy(_._2)
    val in = MemoryStream[(String, Long, Double)]
    val q = TsdbStream.trendBuild(in.toDF().toDF("name", "ts", "value"),
        bucket)
      .writeStream.format("memory").queryName("trend_sink")
      .outputMode("update").start()
    try {
      rows.grouped(45).foreach { c => in.addData(c: _*); q.processAllAvailable() }
      // a late row for a long-closed bucket: skipped, moments unmoved
      in.addData(("up", 5L * 1000L + 1, 999999.0))
      q.processAllAvailable()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("name").orderBy(col("seq").desc)
      val latest = spark.table("trend_sink")
        .withColumn("__r", row_number().over(w))
        .where(col("__r") === 1).drop("__r", "seq")
      // the violated ordering precondition is OBSERVABLE, not silent:
      // the skipped late row shows up as late_n = 1 on its series
      assert(latest.select("name", "late_n").as[(String, Long)]
        .collect().toMap === Map("up" -> 1L, "noisy" -> 0L),
        "each emitted moments row carries the cumulative skipped-late count")
      val streamed = graft.ops.Stats.trendFromMoments(latest, "name",
          bucket, horizonBuckets = 2L)
        .orderBy("name").collect().toSeq
      val batch = graft.ops.Stats.trend(
          rows.toDF("name", "ts", "value"), bucket, horizonBuckets = 2L,
          keyCol = "name")
        .orderBy("name").collect().toSeq
      assert(streamed === batch,
        "streamed moments + shared formula must equal the batch op exactly")
    } finally q.stop()
  }

  test("bucketMeansBuild: streamed bucket means serve the batch correlation bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val s = 1000000000L // ns per second
    val bucket = 10 * s
    // x ramps, y = 2x + noise-free offset on the same buckets, plus a
    // third series to make the matrix non-trivial; multi-row buckets so
    // the µu-sum/count ingredients actually matter
    val rows = (0 until 120).flatMap { i =>
      val t = i.toLong * s
      Seq(("x", t, i / 7.0), ("x", t + 1, i / 7.0 + 0.1),
        ("y", t, 2 * i / 7.0 + 3.0), ("z", t, ((i * 13) % 29) / 3.0))
    }.sortBy(_._2)
    val in = MemoryStream[(String, Long, Double)]
    val q = TsdbStream.bucketMeansBuild(
        in.toDF().toDF("name", "ts", "value"), bucket, "5 seconds")
      .writeStream.format("memory").queryName("bmeans_sink")
      .outputMode("append").start()
    try {
      rows.grouped(160).foreach { c => in.addData(c: _*); q.processAllAvailable() }
      in.addData(("x", 1000L * s, 0.0)) // sentinel: finalize tail buckets
      q.processAllAvailable()
      val sink = spark.table("bmeans_sink")
        .where(col("__b") < lit(120L * s / bucket)) // drop the sentinel bucket
      val streamed = graft.ops.Stats.corrFromBucketMeans(
          graft.ops.Stats.meansFromSums(sink, "name"), "name")
        .orderBy("key_a", "key_b").collect().toSeq
      val batch = graft.ops.Stats.corrAligned(
          rows.toDF("name", "ts", "value"), bucket, keyCol = "name")
        .orderBy("key_a", "key_b").collect().toSeq
      assert(streamed === batch,
        "streamed integer ingredients + shared formulas must equal the batch matrix")
      assert(streamed.exists(r => r.getAs[Double]("corr") == 1.0),
        s"sanity: the planted linear pair must correlate perfectly: $streamed")
    } finally q.stop()
  }

  test("bucketMeansBuild: streamed bucket means flag the batch level shifts bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val s = 1000000000L
    val bucket = 10 * s
    // a planted 1->5 step at bucket 10, two rows per bucket so the
    // µu-sum/count fold matters; the step spans a chunk boundary
    val rows = (0 until 20).flatMap { i =>
      val t = i.toLong * 10 * s
      val v = if (i < 10) 1.0 else 5.0
      Seq(("a", t, v), ("a", t + 1, v + 0.2))
    }.sortBy(_._2)
    val in = MemoryStream[(String, Long, Double)]
    val q = TsdbStream.bucketMeansBuild(
        in.toDF().toDF("name", "ts", "value"), bucket, "5 seconds")
      .writeStream.format("memory").queryName("cp_bmeans_sink")
      .outputMode("append").start()
    try {
      rows.grouped(13).foreach { c => in.addData(c: _*); q.processAllAvailable() }
      in.addData(("a", 1000L * s, 0.0)) // sentinel: finalize tail buckets
      q.processAllAvailable()
      val sink = spark.table("cp_bmeans_sink")
        .where(col("__b") < lit(20L)) // drop the sentinel bucket
      def run(buckets: org.apache.spark.sql.DataFrame) =
        graft.ops.Stats.levelShifts(buckets, "name", bucket, w = 3,
          minShift = 2.0).orderBy("ts_us").collect().toSeq
      val streamed = run(graft.ops.Stats.meansFromSums(sink, "name"))
      val batch = run(graft.ops.Stats.bucketMeans(
        rows.toDF("name", "ts", "value"), bucket, "name", "ts", "value"))
      assert(streamed === batch,
        "streamed integer ingredients + the shared detector must equal batch flags")
      assert(streamed.size === 3, // the three boundaries straddling the step
        s"sanity: the planted step must flag its sliding boundaries: $streamed")
    } finally q.stop()
  }

  // ---- the events living-database arc (round 11) ------------------------

  /** Synthetic event-log context: metric `e`, two user series, one body
    * per hour tick — plus a mirror samples half so writeDatabase's
    * samples layout has rows (an all-empty samples write leaves no
    * readable footer). */
  private def eventsCtxOf(rows: Seq[(String, Long, String)]): graft.model.TsdbContext = {
    val series = Seq("x", "y").toDF("user")
      .select(xxhash64(concat(lit("!e user="), col("user"))).as("series_id"),
        concat(lit("!e user="), col("user")).as("name"),
        lit("!e").as("metric"),
        map_from_arrays(array(lit("user")), array(col("user"))).as("tags"),
        lit(null).cast("float").as("lon"), lit(null).cast("float").as("lat"))
    val df = rows.toDF("user", "ts", "body")
      .select(xxhash64(concat(lit("!e user="), col("user"))).as("series_id"),
        col("ts"), col("body"))
    graft.model.TsdbContext(spark, series,
      df.select(col("series_id"), col("ts"),
        (col("ts") / 1e9).as("value")),
      df)
  }

  test("eventsIngest + compactEventsL0: the log half gets the two-tier lifecycle — exactly-once, settled days move, answers never change") {
    // the samples arc (layoutIngest → L0 union read → compactL0),
    // instantiated on the EVENT half: the reference ingests events
    // through the same WAL/append path as metrics
    // (stdb/storage/column_store.cc:139-143), so the Spark layout gives
    // the log the same live tier, watermark flip, and crash recovery
    val db = java.nio.file.Files.createTempDirectory("graft_ev_l0_db").toString
    val h = 3600L * 1000000000L
    val all = (0 until 120).flatMap { i =>
      Seq(("x", i.toLong * h, s"k=${i % 50} x"), ("y", i.toLong * h, s"k=${i % 50} y"))
    }
    graft.model.TsdbLayout.writeDatabase(
      eventsCtxOf(all.filter(_._2 < 48 * h)), db)

    // live tier via a text source so the restart half is real: file A,
    // kill, file B, restart — the sink log must skip A on replay
    val in = s"$db/ingest_in"; new java.io.File(in).mkdirs()
    def writeLines(name: String, rows: Seq[(String, Long, String)]): Unit = {
      val p = java.nio.file.Paths.get(s"$db/tmp_$name")
      java.nio.file.Files.write(p, rows.map { case (u, ts, b) => s"$u,$ts,$b" }
        .mkString("\n").getBytes)
      java.nio.file.Files.move(p, java.nio.file.Paths.get(s"$in/$name"))
    }
    def startIngest() = TsdbStream.eventsIngest(
      spark.readStream.format("text").load(in)
        .selectExpr(
          "xxhash64(concat('!e user=', split(value, ',')[0])) AS series_id",
          "CAST(split(value, ',')[1] AS LONG) AS ts",
          "split(value, ',')[2] AS body")
        .withColumn("metric", lit("!e")),
      s"$db/events_l0", s"$db/ev_ckpt")
    val live = all.filter(_._2 >= 48 * h)
    writeLines("a.txt", live.take(40))
    val q1 = startIngest()
    try q1.processAllAvailable() finally q1.stop()
    writeLines("b.txt", live.drop(40))
    val q2 = startIngest()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(s"$db/events_l0").count() === live.size,
      "each streamed event lands exactly once across the restart")

    val full = eventsCtxOf(all)
    val stmt = s"""{"select-events": "!e",
                    "range": {"from": 0, "to": ${120 * h}},
                    "filter": "k=1[0-9] "}"""
    def servedRows() = new graft.engine.Engine(
      graft.model.TsdbLayout.openDatabase(spark, db)).execute(stmt)
      .collect().toSeq
    val oracle = new graft.engine.Engine(full).execute(stmt).collect().toSeq
    assert(oracle.nonEmpty, "sanity: the regex must select something")
    assert(servedRows() === oracle,
      "two-tier events read (batch ∪ events_l0) must equal the flat context")

    // claim days 2-3; the watermark flips the reader's tier
    assert(graft.model.TsdbLayout.compactL0(spark, db, 96 * h, Tier.Events) === 2)
    assert(graft.model.TsdbLayout.l0Watermark(spark, db, Tier.Events) === 4L)
    for (d <- Seq(2, 3))
      assert(new java.io.File(s"$db/events/metric=!e/ts_day=$d").isDirectory,
        s"event day $d must now live in the batch layout")
    assert(servedRows() === oracle, "event compaction must not change answers")
    assert(graft.model.TsdbLayout.compactL0(spark, db, 96 * h, Tier.Events) === 0)

    // crash window: watermark lost after the overwrite committed —
    // double-read until the re-run recovers (verify-and-advance per day)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(db, "events_l0_watermark"))
    assert(servedRows() !== oracle,
      "the simulated crash window must actually double-read")
    assert(graft.model.TsdbLayout.compactL0(spark, db, 120 * h, Tier.Events) === 3,
      "the later-cutoff re-run must recover days 2-3 AND move day 4")
    assert(servedRows() === oracle, "recovery restores single-read answers")

    // EVENT STRAGGLER: a late event streamed below the watermark is
    // reader-invisible; the events l0Stragglers names it, retirement refuses
    // (the root holds its only copy), and upsertEvents — the log
    // half's partition-scoped ADD — heals it, clearing both
    val late = ("x", 30 * h + 1L, "k=99 late")
    writeLines("late.txt", Seq(late))
    val q3 = startIngest() // resumes from the checkpoint; a/b skipped
    try q3.processAllAvailable() finally q3.stop()
    assert(graft.model.TsdbLayout.l0Stragglers(spark, db, Tier.Events)
      .as[(String, Long, Long)].collect().toSeq === Seq(("!e", 1L, 1L)),
      "the events straggler alert must name the claimed day")
    assert(servedRows() === oracle,
      "an event straggler must be reader-invisible, not double-read")
    val eRetire = intercept[IllegalArgumentException](
      graft.model.TsdbLayout.retireIngestRoot(spark, db, Tier.Events))
    assert(eRetire.getMessage.contains("straggler"))
    val xId = Seq("!e user=x").toDF("name")
      .select(xxhash64(col("name"))).head().getLong(0)
    graft.model.TsdbLayout.upsertEvents(spark, s"$db/events",
      Seq((xId, late._2, late._3)).toDF("series_id", "ts", "body"),
      eventsCtxOf(all).series)
    assert(graft.model.TsdbLayout.l0Stragglers(spark, db, Tier.Events).isEmpty,
      "routing the straggler through upsertEvents must clear the alert")
    assert(servedRows() === new graft.engine.Engine(
        eventsCtxOf(all :+ late)).execute(stmt).collect().toSeq,
      "after the upsert route, the late event reads exactly once")
    // idempotent re-add: the same late batch adds nothing
    graft.model.TsdbLayout.upsertEvents(spark, s"$db/events",
      Seq((xId, late._2, late._3)).toDF("series_id", "ts", "body"),
      eventsCtxOf(all).series)
    assert(servedRows() === new graft.engine.Engine(
        eventsCtxOf(all :+ late)).execute(stmt).collect().toSeq)
    // nothing straggles, nothing live — the events root retires
    assert(graft.model.TsdbLayout.retireIngestRoot(spark, db, Tier.Events,
      checkpoint = Some(s"$db/ev_ckpt")))
    assert(!new java.io.File(s"$db/events_l0").exists())
    assert(servedRows() === new graft.engine.Engine(
        eventsCtxOf(all :+ late)).execute(stmt).collect().toSeq,
      "events rotation must not change answers")

    // day exclusivity: an events_l0 holding a batch-owned day with
    // DIFFERENT bodies must refuse to compact
    val db2 = java.nio.file.Files.createTempDirectory("graft_ev_l0_db2").toString
    graft.model.TsdbLayout.writeDatabase(
      eventsCtxOf(all.filter(_._2 < 48 * h)), db2)
    val in2 = s"$db2/ingest_in"; new java.io.File(in2).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in2/a.txt"),
      all.filter(_._2 < 24 * h)
        .map { case (u, ts, b) => s"$u,$ts,$b CONFLICT" }
        .mkString("\n").getBytes)
    val qc = TsdbStream.eventsIngest(
      spark.readStream.format("text").load(in2)
        .selectExpr(
          "xxhash64(concat('!e user=', split(value, ',')[0])) AS series_id",
          "CAST(split(value, ',')[1] AS LONG) AS ts",
          "split(value, ',')[2] AS body")
        .withColumn("metric", lit("!e")),
      s"$db2/events_l0", s"$db2/ev_ckpt")
    try qc.processAllAvailable() finally qc.stop()
    val e = intercept[IllegalArgumentException](
      graft.model.TsdbLayout.compactL0(spark, db2, 24 * h, Tier.Events))
    assert(e.getMessage.contains("exclusive"))
  }

  test("retireIngestRoot: refuses while the root is live or holds stragglers; rotation drops it with answers unchanged") {
    // the one destructive step of the two-tier lifecycle, as an operator:
    // the runbook sentence ("drop fully-compacted roots whole") with the
    // two checks that make it safe performed, loudly
    val db = java.nio.file.Files.createTempDirectory("graft_rotate_db").toString
    val h = 3600L * 1000000000L
    val all = (0 until 120).flatMap { i =>
      Seq(("x", i.toLong * h, i / 3.0), ("y", i.toLong * h, 2 * i / 3.0))
    }
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    graft.model.TsdbLayout.writeDatabase(ctxOf(all.filter(_._2 < 48 * h)), db)
    val in = s"$db/ingest_in"; new java.io.File(in).mkdirs()
    def writeLines(name: String, rows: Seq[(String, Long, Double)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
        rows.map { case (u, ts, v) => s"$u,$ts,$v" }.mkString("\n").getBytes)
    def startIngest() = TsdbStream.layoutIngest(
      spark.readStream.format("text").load(in)
        .selectExpr(
          "xxhash64(concat('m user=', split(value, ',')[0])) AS series_id",
          "CAST(split(value, ',')[1] AS LONG) AS ts",
          "CAST(split(value, ',')[2] AS DOUBLE) AS value")
        .withColumn("metric", lit("m")),
      s"$db/samples_l0", s"$db/ingest_ckpt")
    writeLines("a.txt", all.filter(_._2 >= 48 * h))
    val q = startIngest()
    try q.processAllAvailable() finally q.stop()

    // pre-first-compaction: no watermark ⇒ every held day is live ⇒ refuse
    val ePre = intercept[IllegalArgumentException](
      graft.model.TsdbLayout.retireIngestRoot(spark, db))
    assert(ePre.getMessage.contains("uncompacted"))

    // compact only part of the span: still-live days keep refusing
    graft.model.TsdbLayout.compactL0(spark, db, 96 * h)
    val eLive = intercept[IllegalArgumentException](
      graft.model.TsdbLayout.retireIngestRoot(spark, db))
    assert(eLive.getMessage.contains("uncompacted"))

    // fully compacted, but a straggler slips in below the watermark:
    // its ONLY copy lives in the root — retiring would destroy it
    graft.model.TsdbLayout.compactL0(spark, db, 120 * h)
    val late = ("x", 30 * h + 1L, 99.0)
    writeLines("late.txt", Seq(late))
    val q2 = startIngest()
    try q2.processAllAvailable() finally q2.stop()
    val eStrag = intercept[IllegalArgumentException](
      graft.model.TsdbLayout.retireIngestRoot(spark, db))
    assert(eStrag.getMessage.contains("straggler"))

    // re-route the straggler (the documented late path), then rotate
    val xId = Seq("m user=x").toDF("name")
      .select(xxhash64(col("name"))).head().getLong(0)
    graft.model.TsdbLayout.upsertSamples(spark, s"$db/samples",
      Seq((xId, late._2, late._3)).toDF("series_id", "ts", "value"),
      ctxOf(all).series)
    assert(graft.model.TsdbLayout.retireIngestRoot(spark, db,
      checkpoint = Some(s"$db/ingest_ckpt")))
    assert(!new java.io.File(s"$db/samples_l0").exists(),
      "rotation must drop the root whole")
    assert(!new java.io.File(s"$db/ingest_ckpt").exists(),
      "rotation must drop the stream checkpoint with it")
    assert(new java.io.File(s"$db/l0_watermark").isFile,
      "the watermark must SURVIVE rotation — the late-data guard and the " +
        "next epoch's union read depend on it")

    // answers unchanged: the opened database now serves batch-only
    val stmt = s"""{"select": "m", "range": {"from": 0, "to": ${120 * h}}}"""
    assert(new graft.engine.Engine(
        graft.model.TsdbLayout.openDatabase(spark, db)).execute(stmt)
        .collect().toSeq ===
      new graft.engine.Engine(ctxOf(all :+ late)).execute(stmt)
        .collect().toSeq,
      "rotation must not change answers")

    // idempotent re-run: nothing to drop
    assert(!graft.model.TsdbLayout.retireIngestRoot(spark, db))

    // a root that EXISTS but shows no committed data refuses: it may
    // be the NEXT epoch's just-started sink, whose live transaction
    // log a duplicate retire run must not destroy
    new java.io.File(s"$db/samples_l0/_spark_metadata").mkdirs()
    val eEmpty = intercept[IllegalArgumentException](
      graft.model.TsdbLayout.retireIngestRoot(spark, db))
    assert(eEmpty.getMessage.contains("no committed data"))
    def rmRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRec); f.delete()
    }
    rmRec(new java.io.File(s"$db/samples_l0"))

    // and the NEXT EPOCH starts clean at the same path: a fresh sink +
    // checkpoint ingests a new day and the union read serves it
    writeLines("c.txt", Seq(("x", 121 * h, 5.0)))
    val q3 = startIngest()
    try q3.processAllAvailable() finally q3.stop()
    assert(new graft.engine.Engine(
        graft.model.TsdbLayout.openDatabase(spark, db))
        .execute(s"""{"select": "m", "range": {"from": 0, "to": ${122 * h}}}""")
        .collect().toSeq ===
      new graft.engine.Engine(ctxOf(all ++ Seq(late, ("x", 121 * h, 5.0))))
        .execute(s"""{"select": "m", "range": {"from": 0, "to": ${122 * h}}}""")
        .collect().toSeq,
      "the next epoch's root must serve through the same union read")
  }

  test("l0Stragglers pre-watermark: tier-overlap days are reported before the first compaction") {
    // before the first compactL0 no watermark exists and the reader
    // unions ALL of L0 with the batch layout — a day both tiers hold
    // double-reads SILENTLY (the old contract only inspected
    // below-watermark days). The alert must name exactly the overlap
    val db = java.nio.file.Files.createTempDirectory("graft_overlap_db").toString
    val h = 3600L * 1000000000L
    val all = (0 until 72).flatMap { i =>
      Seq(("x", i.toLong * h, i / 3.0), ("y", i.toLong * h, 2 * i / 3.0))
    }
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    graft.model.TsdbLayout.writeDatabase(ctxOf(all.filter(_._2 < 48 * h)), db)
    val in = s"$db/ingest_in"; new java.io.File(in).mkdirs()
    def startIngest() = TsdbStream.layoutIngest(
      spark.readStream.format("text").load(in)
        .selectExpr(
          "xxhash64(concat('m user=', split(value, ',')[0])) AS series_id",
          "CAST(split(value, ',')[1] AS LONG) AS ts",
          "CAST(split(value, ',')[2] AS DOUBLE) AS value")
        .withColumn("metric", lit("m")),
      s"$db/samples_l0", s"$db/ingest_ckpt")

    // clean load-then-ingest: L0 takes day 2 only — no overlap, no alert
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.txt"),
      all.filter(_._2 >= 48 * h)
        .map { case (u, ts, v) => s"$u,$ts,$v" }.mkString("\n").getBytes)
    val q1 = startIngest()
    try q1.processAllAvailable() finally q1.stop()
    assert(graft.model.TsdbLayout.l0Stragglers(spark, db).isEmpty,
      "disjoint tiers must not alert")

    // misuse: the stream re-delivers 3 batch-owned day-1 rows (content
    // identical — overlap double-reads regardless of content)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.txt"),
      all.filter(r => r._2 >= 24 * h && r._2 < 24 * h + 3 * h)
        .map { case (u, ts, v) => s"$u,$ts,$v" }.mkString("\n").getBytes)
    val q2 = startIngest()
    try q2.processAllAvailable() finally q2.stop()
    assert(graft.model.TsdbLayout.l0Stragglers(spark, db)
      .as[(String, Long, Long)].collect().toSeq === Seq(("m", 1L, 6L)),
      "the pre-watermark alert must name the overlapping day with its " +
        "L0 row count (3 ticks × 2 series)")
  }

  test("catalogIngest: stream-registered series resolve, fold once, and the catalog root rotates behind its guards") {
    // the register-on-first-write arc: a database persisted knowing
    // only series x; a NAMED ingest (ids hashed in-stream) delivers
    // x AND never-seen y; the opened database must resolve y with no
    // redeploy; fold is new-only and idempotent; rotation refuses
    // while a registration's only copy lives in the root
    val db = java.nio.file.Files.createTempDirectory("graft_cat_ingest").toString
    val h = 3600L * 1000000000L
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    val batchRows = (0 until 48).map(i => ("x", i.toLong * h, i / 3.0))
    graft.model.TsdbLayout.writeDatabase(ctxOf(batchRows), db)

    // named stream: days 2-4 for BOTH series, fed across a kill/restart
    // so the registration dedup state must survive the checkpoint
    val in = s"$db/ingest_in"; new java.io.File(in).mkdirs()
    val streamed = (48 until 120).flatMap { i =>
      Seq(("x", i.toLong * h, i / 3.0), ("y", i.toLong * h, 2 * i / 3.0))
    }
    def writeLines(name: String, rows: Seq[(String, Long, Double)]): Unit = {
      val p = java.nio.file.Paths.get(s"$db/tmp_$name")
      java.nio.file.Files.write(p, rows.map { case (u, ts, v) =>
        s"m user=$u,$ts,$v" }.mkString("\n").getBytes)
      java.nio.file.Files.move(p, java.nio.file.Paths.get(s"$in/$name"))
    }
    def named() = spark.readStream.format("text").load(in)
      .selectExpr(
        "split(value, ',')[0] AS name",
        "CAST(split(value, ',')[1] AS LONG) AS ts",
        "CAST(split(value, ',')[2] AS DOUBLE) AS value")
    def startBoth() = (
      TsdbStream.namedLayoutIngest(named(), s"$db/samples_l0", s"$db/f_ckpt"),
      TsdbStream.catalogIngest(named(), s"$db/catalog_l0", s"$db/c_ckpt"))
    writeLines("a.txt", streamed.take(60))
    val (f1, c1) = startBoth()
    try { f1.processAllAvailable(); c1.processAllAvailable() }
    finally { f1.stop(); c1.stop() }
    writeLines("b.txt", streamed.drop(60)) // both series reappear
    val (f2, c2) = startBoth()
    try { f2.processAllAvailable(); c2.processAllAvailable() }
    finally { f2.stop(); c2.stop() }

    // each series registered EXACTLY once (dedup state restored from
    // the checkpoint — b.txt re-saw both names), tags parsed
    val reg = spark.read.parquet(s"$db/catalog_l0")
      .select("series_id", "name", "metric")
      .orderBy("name").collect()
    assert(reg.map(_.getString(1)).toSeq === Seq("m user=x", "m user=y"),
      "one registration per distinct series across batches AND restarts")
    assert(reg.map(_.getString(2)).distinct.toSeq === Seq("m"))
    val regTags = spark.read.parquet(s"$db/catalog_l0")
      .selectExpr("tags['user'] AS u").orderBy("u")
      .collect().map(_.getString(0))
    assert(regTags.toSeq === Seq("x", "y"), "tags parsed from the name")
    // ids equal the batch path's content hash — one keying, two paths
    assert(reg.map(_.getLong(0)).toSet ===
      ctxOf(streamed).series.select("series_id")
        .collect().map(_.getLong(0)).toSet)

    // the opened database resolves the NEVER-PERSISTED series y
    val full = batchRows ++ streamed
    val stmt = s"""{"select": "m", "range": {"from": 0, "to": ${120 * h}}}"""
    def opened() = graft.model.TsdbLayout.openDatabase(spark, db)
    assert(new graft.engine.Engine(opened()).execute(stmt).collect().toSeq
        === new graft.engine.Engine(ctxOf(full)).execute(stmt).collect().toSeq,
      "catalog ∪ catalog_l0 must serve the full series universe")
    assert(new graft.engine.Engine(opened())
        .run(graft.query.QueryParser.parseSearch(
          """{"select": "m", "where": {"user": ["y"]}}"""))
        .select("name").collect().map(_.getString(0)).toSeq
        === Seq("m user=y"),
      "search must list the stream-registered series")

    // rotation refuses while y's only copy lives in the root
    val ex = intercept[IllegalArgumentException] {
      graft.model.TsdbLayout.retireIngestRoot(spark, db, Tier.Catalog)
    }
    assert(ex.getMessage.contains("unfolded"))

    // fold is new-only (x already persisted) and idempotent
    assert(graft.model.TsdbLayout.foldCatalogL0(spark, db) === 1L)
    assert(graft.model.TsdbLayout.foldCatalogL0(spark, db) === 0L)

    // now the root rotates, and answers come from the persisted
    // catalog alone — unchanged
    assert(graft.model.TsdbLayout.retireIngestRoot(spark, db, Tier.Catalog,
      checkpoint = Some(s"$db/c_ckpt")))
    assert(!new java.io.File(s"$db/catalog_l0").exists())
    assert(new graft.engine.Engine(opened()).execute(stmt).collect().toSeq
        === new graft.engine.Engine(ctxOf(full)).execute(stmt).collect().toSeq,
      "fold + rotation must not change answers")
    // idempotent re-retire: nothing left, false
    assert(!graft.model.TsdbLayout.retireIngestRoot(spark, db, Tier.Catalog))
  }

  test("catalogIngest: canonical-name tag parsing handles '=' in values and tagless metrics") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_cat_parse").toString
    val in = MemoryStream[(String, Long, Double)]
    val q = TsdbStream.catalogIngest(
      in.toDF().toDF("name", "ts", "value"), s"$base/out", s"$base/ckpt")
    try {
      // the third name is MALFORMED (repeated tag key — the canonical
      // form has sorted unique keys): it must not throw the duplicate-
      // map-key error inside the micro-batch, which would kill the
      // registration stream permanently (every restart replays it)
      in.addData(("disk host=a=b zone=1", 1L, 0.0), ("heartbeat", 2L, 0.0),
        ("bad k=1 k=2", 3L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(s"$base/out")
      .selectExpr("name", "metric", "tags", "lon")
      .orderBy("name").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("bad k=1 k=2", "bad"), ("disk host=a=b zone=1", "disk"),
        ("heartbeat", "heartbeat")))
    val tagged = rows(1).getMap[String, String](2)
    assert(tagged === Map("host" -> "a=b", "zone" -> "1"),
      "the tag key ends at the FIRST '='; the value keeps the rest")
    assert(rows(0).getMap[String, String](2) === Map("k" -> "1"),
      "a repeated tag key dedups (first wins) instead of poisoning the stream")
    assert(rows(2).getMap[String, String](2).isEmpty,
      "a tagless name registers with an empty tag map")
    assert(rows.forall(_.isNullAt(3)), "no lon column in the stream -> null")
  }

  test("keyNamed drops null/blank names; a re-seen series re-registers into the NEXT epoch's root and reads dedup") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_cat_epochs").toString
    // epoch 1: series s1 registers; a null and a blank name ride along
    // and must neither kill the stream nor register junk
    val in1 = MemoryStream[(String, Long, Double)]
    val q1 = TsdbStream.catalogIngest(
      in1.toDF().toDF("name", "ts", "value"), s"$base/catalog_l0", s"$base/ck1")
    try {
      in1.addData(("m user=s1", 1L, 0.0), (null, 2L, 0.0), ("   ", 3L, 0.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(s"$base/catalog_l0")
      .select("name").collect().map(_.getString(0)).toSeq === Seq("m user=s1"),
      "null/blank names are dropped, not registered")

    // fold + retire epoch 1 (checkpoint dropped — dedup state dies
    // with its root, by contract)
    spark.read.parquet(s"$base/catalog_l0")
      .write.parquet(s"$base/series") // minimal persisted catalog
    assert(graft.model.TsdbLayout.foldCatalogL0(spark, base) === 0L)
    assert(graft.model.TsdbLayout.retireIngestRoot(spark, base, Tier.Catalog,
      checkpoint = Some(s"$base/ck1")))

    // epoch 2: s1 is RE-SEEN (its state died with epoch 1) and s2 is new
    val in2 = MemoryStream[(String, Long, Double)]
    val q2 = TsdbStream.catalogIngest(
      in2.toDF().toDF("name", "ts", "value"), s"$base/catalog_l0", s"$base/ck2")
    try {
      in2.addData(("m user=s1", 4L, 0.0), ("m user=s2", 5L, 0.0))
      q2.processAllAvailable()
    } finally q2.stop()
    // the root re-registers s1 — and the READ path dedups it against
    // the persisted catalog, so the catalog lists each series once
    assert(spark.read.parquet(s"$base/catalog_l0").count() === 2)
    val unioned = {
      // openDatabase-equivalent catalog read, via describe's counts
      val d = graft.model.TsdbLayout.describeDatabase(spark, base)
        .collect().map(r => (r.getString(0), r.getString(1),
          Option(r.get(6)).map(_.asInstanceOf[Long]))).toSeq
      d
    }
    assert(unioned.contains(("catalog", "persisted", Some(1L))))
    assert(unioned.contains(("catalog", "l0", Some(2L))))
    assert(unioned.contains(("catalog", "unfolded", Some(1L))),
      "only s2 is unfolded — the re-seen s1 dedups against the persisted catalog")
    assert(graft.model.TsdbLayout.foldCatalogL0(spark, base) === 1L,
      "fold moves only the genuinely new registration")
  }

  test("namedEventsIngest: a never-seen event series streams in, registers, and serves select-events") {
    // the log half of register-on-first-write: the database has NO
    // events and has never heard of series z; a named event stream +
    // catalogIngest deliver both, and the opened database serves the
    // select-events from storage alone
    val db = java.nio.file.Files.createTempDirectory("graft_named_ev").toString
    val h = 3600L * 1000000000L
    graft.model.TsdbLayout.writeDatabase(
      graft.model.TsdbContext.fromWide(spark,
        (0 until 24).map(i => ("x", i.toLong * h, 1.0))
          .toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value"), db)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, String)]
    val named = in.toDF().toDF("name", "ts", "body")
    val qEv = TsdbStream.namedEventsIngest(
      named, s"$db/events_l0", s"$db/ev_ckpt")
    val qCat = TsdbStream.catalogIngest(
      named, s"$db/catalog_l0", s"$db/cat_ckpt")
    try {
      in.addData(("!audit user=z", 5 * h, "login"),
        ("!audit user=z", 6 * h, "logout"))
      qEv.processAllAvailable(); qCat.processAllAvailable()
    } finally { qEv.stop(); qCat.stop() }
    val served = new graft.engine.Engine(
      graft.model.TsdbLayout.openDatabase(spark, db)).execute(
        s"""{"select-events": "!audit", "range": {"from": 0, "to": ${24 * h}}}""")
    assert(served.select("series", "ts", "body")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq === Seq(("!audit user=z", 5 * h, "login"),
        ("!audit user=z", 6 * h, "logout")),
      "a stream-registered event series must serve select-events")
  }

  test("describeDatabase: tier extents, watermark and registration state from the directory tree") {
    val db = java.nio.file.Files.createTempDirectory("graft_describe").toString
    val h = 3600L * 1000000000L
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    // batch owns days 0-1 of x; the stream delivers days 2-4 of x AND y
    graft.model.TsdbLayout.writeDatabase(
      ctxOf((0 until 48).map(i => ("x", i.toLong * h, 1.0))), db)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val named = in.toDF().toDF("name", "ts", "value")
    val qF = TsdbStream.namedLayoutIngest(named, s"$db/samples_l0", s"$db/f_ckpt")
    val qC = TsdbStream.catalogIngest(named, s"$db/catalog_l0", s"$db/c_ckpt")
    try {
      in.addData((48 until 120).flatMap(i =>
        Seq((s"m user=x", i.toLong * h, 1.0), (s"m user=y", i.toLong * h, 2.0))): _*)
      qF.processAllAvailable(); qC.processAllAvailable()
    } finally { qF.stop(); qC.stop() }
    // claim day 2 (cutoff = start of day 3)
    graft.model.TsdbLayout.compactL0(spark, db, 72 * h)

    def desc() = graft.model.TsdbLayout.describeDatabase(spark, db)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long]),
        Option(r.get(6)).map(_.asInstanceOf[Long]))).toSeq
    val d1 = desc()
    // batch: days 0-2 (0-1 written, 2 compacted in); no row count (no scan)
    assert(d1.contains(("samples", "batch", "m", Some(0L), Some(3L), None)))
    // live l0: days 3-4; residue: the compacted day-2 copy (48 rows = 24 h × 2 series)
    assert(d1.contains(("samples", "l0", "m", Some(3L), Some(2L), Some(96L))))
    assert(d1.contains(("samples", "l0_residue", "m", Some(2L), Some(1L), Some(48L))))
    assert(d1.contains(("samples", "watermark", null, Some(3L), None, None)))
    // catalog: 1 persisted (x), 2 stream registrations, y unfolded
    assert(d1.contains(("catalog", "persisted", null, None, None, Some(1L))))
    assert(d1.contains(("catalog", "l0", null, None, None, Some(2L))))
    assert(d1.contains(("catalog", "unfolded", null, None, None, Some(1L))))
    // the events half contributes nothing (flat empty batch, no tier)
    assert(!d1.exists(_._1 == "events"))

    graft.model.TsdbLayout.foldCatalogL0(spark, db)
    val d2 = desc()
    assert(d2.contains(("catalog", "persisted", null, None, None, Some(2L))))
    assert(d2.contains(("catalog", "unfolded", null, None, None, Some(0L))),
      "fold must clear the unfolded count")
  }

  test("RESP frames drive the full named-ingest pipeline: parse, register, serve from the opened database") {
    // the reference's complete live path (RESP connection -> parser ->
    // auto-registration -> WAL/storage -> queryable) as one Spark
    // composition: protocol chunks -> Resp.toSamples -> the named fact
    // sink + the registration sink -> openDatabase. Series "m t=b" has
    // never been persisted; it arrives only as protocol frames.
    val db = java.nio.file.Files.createTempDirectory("graft_resp_named").toString
    val h = 3600L * 1000000000L
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("t", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("t"), "ts", "value")
    val batchRows = (0 until 48).map(i => ("a", i.toLong * h, i / 3.0))
    graft.model.TsdbLayout.writeDatabase(ctxOf(batchRows), db)

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val named = graft.sources.Resp.toSamples(in.toDS())
    val qF = TsdbStream.namedLayoutIngest(named, s"$db/samples_l0", s"$db/f_ckpt")
    val qC = TsdbStream.catalogIngest(named, s"$db/catalog_l0", s"$db/c_ckpt")
    val streamed = (48 until 96).flatMap(i =>
      Seq(("a", i.toLong * h, i / 3.0), ("b", i.toLong * h, 2.0 * i)))
    try {
      streamed.grouped(40).foreach { c =>
        in.addData(c.map { case (t, ts, v) =>
          s"+m t=$t\r\n:$ts\r\n+$v\r\n" }.mkString)
        qF.processAllAvailable(); qC.processAllAvailable()
      }
    } finally { qF.stop(); qC.stop() }

    val opened = graft.model.TsdbLayout.openDatabase(spark, db)
    val stmt = s"""{"select": "m", "range": {"from": 0, "to": ${96 * h}}}"""
    assert(new graft.engine.Engine(opened).execute(stmt).collect().toSeq ===
      new graft.engine.Engine(ctxOf(batchRows ++ streamed))
        .execute(stmt).collect().toSeq,
      "protocol-delivered series must serve exactly like batch-loaded ones")
    assert(new graft.engine.Engine(opened)
      .run(graft.query.QueryParser.parseSearch(
        """{"select": "m", "where": {"t": ["b"]}}"""))
      .select("name").collect().map(_.getString(0)).toSeq === Seq("m t=b"),
      "the protocol-registered series must be searchable")
  }

  test("a copied database with a live ingest tier fails loudly at open; a rotated one relocates cleanly") {
    // the sink's _spark_metadata log pins ABSOLUTE file paths: a copy
    // of a database directory with live L0 would silently read the
    // ORIGINAL's files — the guard must name the problem at open.
    // After the epoch is retired (compact + rotate), the directory is
    // plain parquet + the relative-path index manifest, and relocates.
    val db = java.nio.file.Files.createTempDirectory("graft_reloc_db").toString
    val h = 3600L * 1000000000L
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    val all = (0 until 96).map(i => ("x", i.toLong * h, i / 3.0))
    graft.model.TsdbLayout.writeDatabase(ctxOf(all.take(48)), db)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Double, String)]
    val ids = ctxOf(all).samples.select("series_id").distinct()
      .collect().map(_.getLong(0))
    val q = TsdbStream.layoutIngest(
      in.toDF().toDF("series_id", "ts", "value", "metric"),
      s"$db/samples_l0", s"$db/ckpt")
    try {
      in.addData(all.drop(48).map { case (_, ts, v) => (ids(0), ts, v, "m") }: _*)
      q.processAllAvailable()
    } finally q.stop()

    def copyTree(src: String, dst: String): Unit = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Paths.get(src); val d = java.nio.file.Paths.get(dst)
      java.nio.file.Files.walk(s).iterator().asScala.toSeq.foreach { p =>
        val t = d.resolve(s.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    }
    val copy1 = java.nio.file.Files.createTempDirectory("graft_reloc_copy1").toString + "/db"
    copyTree(db, copy1)
    val ex = intercept[IllegalStateException] {
      graft.model.TsdbLayout.openDatabase(spark, copy1)
        .samples.count() // frames are lazy; force the tier resolution
    }
    assert(ex.getMessage.contains("copied or moved"),
      s"the relocation guard must name the hazard: ${ex.getMessage}")

    // retire the epoch, then the directory relocates cleanly
    graft.model.TsdbLayout.compactL0(spark, db, 200 * h)
    assert(graft.model.TsdbLayout.retireIngestRoot(spark, db,
      checkpoint = Some(s"$db/ckpt")))
    val copy2 = java.nio.file.Files.createTempDirectory("graft_reloc_copy2").toString + "/db"
    copyTree(db, copy2)
    val stmt = s"""{"select": "m", "range": {"from": 0, "to": ${96 * h}}}"""
    val expect = all.take(48) ++ all.drop(48).map { case (_, ts, v) => ("x", ts, v) }
    assert(new graft.engine.Engine(
        graft.model.TsdbLayout.openDatabase(spark, copy2))
        .execute(stmt).collect().toSeq ===
      new graft.engine.Engine(ctxOf(expect)).execute(stmt).collect().toSeq,
      "a rotated database must serve unchanged from its new location")
  }

  test("where-location over stream-registered series: null locations are excluded, never errors") {
    // catalogIngest registers stream-only series with NULL lon/lat (no
    // location rode the stream). A spatial restriction must treat them
    // as outside every box — the reference's R-tree likewise indexes
    // only located series — not fail, and not match them
    val dir = "/root/testdata/sf0.001"
    val eng = graft.entries.EntryUtil.engineNewSeriesDbFor(spark, dir)
    val got = eng.execute(
      s"""{"select": "purchase",
           "range": {"from": "20240101T000000", "to": "20240401T000000"},
           "where-location": {"box": {"lon": [-180, 180], "lat": [-90, 90]}}}""")
      .select("series").distinct().collect().map(_.getString(0)).toSet
    assert(got.nonEmpty, "located (batch-cataloged) series must match")
    val users = got.map(_.stripPrefix("purchase user=").toLong)
    assert(users.forall(_ % 2 == 0),
      s"stream-registered (null-location) series must not match a box, got $users")
    // and without the clause the odd users ARE served — the exclusion
    // above is the location semantics, not missing data
    val all = eng.execute(
      s"""{"select": "purchase",
           "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
      .select("series").distinct().collect().map(_.getString(0))
      .map(_.stripPrefix("purchase user=").toLong).toSet
    assert(all.exists(_ % 2 == 1),
      "odd users must be resolvable outside the spatial restriction")
  }

  test("maintenanceTick: one cron unit compacts, folds and polls; idempotent re-run reports zeros") {
    val db = java.nio.file.Files.createTempDirectory("graft_tick").toString
    val h = 3600L * 1000000000L
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    graft.model.TsdbLayout.writeDatabase(
      ctxOf((0 until 48).map(i => ("x", i.toLong * h, 1.0))), db)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val named = in.toDF().toDF("name", "ts", "value")
    val qF = TsdbStream.namedLayoutIngest(named, s"$db/samples_l0", s"$db/f_ckpt")
    val qC = TsdbStream.catalogIngest(named, s"$db/catalog_l0", s"$db/c_ckpt")
    try {
      in.addData((48 until 120).flatMap(i =>
        Seq(("m user=x", i.toLong * h, 1.0), ("m user=y", i.toLong * h, 2.0))): _*)
      qF.processAllAvailable(); qC.processAllAvailable()
    } finally { qF.stop(); qC.stop() }

    def tick() = graft.model.TsdbLayout.maintenanceTick(spark, db, 96 * h)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val t1 = tick()
    assert(t1("compact_samples") === 2L, "days 2-3 move, one partition each")
    assert(t1("compact_events") === 0L)
    assert(t1("fold_catalog") === 1L, "y is the one live registration")
    assert(t1("stragglers_samples") === 0L && t1("stragglers_events") === 0L)
    // the tick must not stamp a watermark onto the ABSENT events tier
    assert(!new java.io.File(s"$db/events_l0_watermark").exists(),
      "no events ingest tier -> no events watermark")
    // idempotent: same cutoff, nothing left to do
    val t2 = tick()
    assert(t2.values.forall(_ === 0L), s"re-run must report zeros: $t2")
    // and the database still answers correctly after the tick
    val stmt = s"""{"select": "m", "range": {"from": 0, "to": ${120 * h}}}"""
    val expect = (0 until 48).map(i => ("x", i.toLong * h, 1.0)) ++
      (48 until 120).flatMap(i =>
        Seq(("x", i.toLong * h, 1.0), ("y", i.toLong * h, 2.0)))
    assert(new graft.engine.Engine(
        graft.model.TsdbLayout.openDatabase(spark, db))
        .execute(stmt).collect().toSeq ===
      new graft.engine.Engine(ctxOf(expect)).execute(stmt).collect().toSeq,
      "the tick changes storage, never answers")
  }

  test("tagsFromName inverts the canonical name construction (property, '=' in values included)") {
    // fromWide builds "metric k=v k=v" (sorted unique keys, single
    // spaces); the registration stream parses it back. Round-trip over
    // generated tag maps, with values that may themselves contain '='
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val tagKey = Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
    val tagVal = Gen.oneOf(
      Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty),
      Gen.identifier.suchThat(_.length >= 4)
        .map(s => s.take(2) + "=" + s.slice(2, 4)))
    val seriesGen = for {
      metric <- Gen.identifier.map("m_" + _.take(10))
      n <- Gen.chooseNum(0, 6)
      keys <- Gen.listOfN(n, tagKey)
      vals <- Gen.listOfN(n, tagVal)
    } yield (metric, keys.distinct.sorted.zip(vals))
    val cases = (0 until 150).flatMap(i =>
      seriesGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    val names = cases.map { case (m, tags) =>
      (tags.map { case (k, v) => s"$k=$v" }.foldLeft(m)(_ + " " + _), tags.toMap)
    }
    val got = names.map(_._1).toDF("name")
      .select(col("name"), TsdbStream.tagsFromName.as("tags"))
      .collect().map(r => (r.getString(0), r.getMap[String, String](1).toMap))
      .toMap
    names.foreach { case (name, tags) =>
      assert(got(name) === tags, s"parse must invert construction for '$name'")
    }
  }

  test("exportDatabase rewrites a live two-tier database into a relocatable one; refuses while alerts fire") {
    // the sanctioned way to MOVE a database whose epochs are not
    // retired: re-persist the opened context at the new location — the
    // two-tier union (and the unioned catalog, registrations included)
    // lands as a fresh batch-only layout, no sink logs, no absolute
    // paths. The copy guard refuses raw copies; this is the remedy.
    // And it must REFUSE while a straggler/overlap alert fires: the
    // opened view mis-serves those rows, and a bare re-save would
    // persist the mistake.
    val db = java.nio.file.Files.createTempDirectory("graft_export_src").toString
    val h = 3600L * 1000000000L
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    graft.model.TsdbLayout.writeDatabase(
      ctxOf((0 until 48).map(i => ("x", i.toLong * h, 1.0))), db)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val named = in.toDF().toDF("name", "ts", "value")
    val qF = TsdbStream.namedLayoutIngest(named, s"$db/samples_l0", s"$db/f_ckpt")
    val qC = TsdbStream.catalogIngest(named, s"$db/catalog_l0", s"$db/c_ckpt")
    try {
      in.addData((48 until 96).flatMap(i =>
        Seq(("m user=x", i.toLong * h, 1.0), ("m user=y", i.toLong * h, 2.0))): _*)
      qF.processAllAvailable(); qC.processAllAvailable()
    } finally { qF.stop(); qC.stop() }

    val dst = java.nio.file.Files.createTempDirectory("graft_export_dst").toString + "/db"
    graft.model.TsdbLayout.exportDatabase(spark, db, dst)
    val expect = (0 until 48).map(i => ("x", i.toLong * h, 1.0)) ++
      (48 until 96).flatMap(i =>
        Seq(("x", i.toLong * h, 1.0), ("y", i.toLong * h, 2.0)))
    val stmt = s"""{"select": "m", "range": {"from": 0, "to": ${96 * h}}}"""
    assert(new graft.engine.Engine(
        graft.model.TsdbLayout.openDatabase(spark, dst))
        .execute(stmt).collect().toSeq ===
      new graft.engine.Engine(ctxOf(expect)).execute(stmt).collect().toSeq,
      "the exported database must serve every tier's data, registrations included")
    // the export is batch-only: no ingest tiers, no live-root guard in play
    assert(!new java.io.File(s"$dst/samples_l0").exists())
    assert(!new java.io.File(s"$dst/catalog_l0").exists())

    // now poison the source: one more streamed row lands in a
    // batch-owned day (pre-watermark tier overlap — the alert fires)
    // and the export must refuse rather than persist a double-read
    val qF2 = TsdbStream.namedLayoutIngest(named, s"$db/samples_l0", s"$db/f_ckpt")
    try {
      in.addData(("m user=x", 3 * h, 1.0)); qF2.processAllAvailable()
    } finally qF2.stop()
    val dst2 = java.nio.file.Files.createTempDirectory("graft_export_dst2").toString + "/db"
    val ex = intercept[IllegalArgumentException] {
      graft.model.TsdbLayout.exportDatabase(spark, db, dst2)
    }
    assert(ex.getMessage.contains("alert partition"),
      s"export must refuse while alerts fire: ${ex.getMessage}")
  }

  test("streaming EWMA carries per-series state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val df = in.toDF().toDF("name", "ts", "value")
    val q = TsdbStream.ewma(df, decay = 0.5)
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode("update").start()
    try {
      in.addData(("s", 1L, 10.0))
      q.processAllAvailable()
      in.addData(("s", 2L, 20.0)) // state from batch 1: v=10 -> 0.5*20+0.5*10=15
      q.processAllAvailable()
      val rows = spark.table("ewma_out").orderBy("ts")
        .select("ts", "ewma").as[(Long, Double)].collect()
      assert(rows.toSeq === Seq((1L, 10.0), (2L, 15.0)))
    } finally q.stop()
  }

  test("epoch rotation is zero-downtime: the successor streams THROUGH the retire of the drained root") {
    // the round-11 rotation implied ingest downtime (stop → retire →
    // restart at the same path); epoch-numbered roots remove it: the
    // next epoch's sink starts at nextIngestRoot while the old root
    // drains, readers union every live root, and retireIngestRoot
    // drops the drained root per-epoch — the reference's sharded WAL
    // rotating volumes under writes (input_log.h:36-80)
    val db = java.nio.file.Files.createTempDirectory("graft_epoch_db").toString
    val h = 3600L * 1000000000L
    val all = (0 until 120).flatMap { i =>
      Seq(("x", i.toLong * h, i / 3.0), ("y", i.toLong * h, 2 * i / 3.0))
    }
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    graft.model.TsdbLayout.writeDatabase(ctxOf(all.filter(_._2 < 48 * h)), db)
    def writeLines(in: String, name: String,
        rows: Seq[(String, Long, Double)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
        rows.map { case (u, ts, v) => s"$u,$ts,$v" }.mkString("\n").getBytes)
    def startIngest(in: String, root: String, ckpt: String) =
      TsdbStream.layoutIngest(
        spark.readStream.format("text").load(in)
          .selectExpr(
            "xxhash64(concat('m user=', split(value, ',')[0])) AS series_id",
            "CAST(split(value, ',')[1] AS LONG) AS ts",
            "CAST(split(value, ',')[2] AS DOUBLE) AS value")
          .withColumn("metric", lit("m")),
        root, ckpt)

    // epoch 1 delivers hours 48-95, is compacted whole, stream stopped
    // (the handover: its successor takes ingest BEFORE the retire)
    val e1 = graft.model.TsdbLayout.nextIngestRoot(spark, db)
    assert(e1 === s"$db/samples_l0_e1")
    val in1 = s"$db/in1"; new java.io.File(in1).mkdirs()
    writeLines(in1, "a.txt", all.filter(r => r._2 >= 48 * h && r._2 < 96 * h))
    val q1 = startIngest(in1, e1, s"$db/ckpt_e1")
    try q1.processAllAvailable() finally q1.stop()
    graft.model.TsdbLayout.compactL0(spark, db, 96 * h)

    // epoch 2 goes LIVE at the next root before epoch 1 is gone
    val e2 = graft.model.TsdbLayout.nextIngestRoot(spark, db)
    assert(e2 === s"$db/samples_l0_e2")
    val in2 = s"$db/in2"; new java.io.File(in2).mkdirs()
    writeLines(in2, "b.txt", all.filter(r => r._2 >= 96 * h && r._2 < 108 * h))
    val q2 = startIngest(in2, e2, s"$db/ckpt_e2")
    try {
      q2.processAllAvailable()
      // the LIVE epoch refuses its own retire (uncompacted days)
      val eLive = intercept[IllegalArgumentException](
        graft.model.TsdbLayout.retireIngestRoot(spark, db, epoch = Some(2)))
      assert(eLive.getMessage.contains("uncompacted"))
      // the drained epoch retires WHILE the successor streams — its
      // sibling's live days must not block it (per-root guards)
      assert(graft.model.TsdbLayout.retireIngestRoot(spark, db, epoch = Some(1),
        checkpoint = Some(s"$db/ckpt_e1")))
      assert(!new java.io.File(e1).exists())
      assert(!graft.model.TsdbLayout.retireIngestRoot(spark, db,
        epoch = Some(7)), "an epoch that never existed retires to false")
      assert(q2.isActive, "rotation must kill nothing")
      // ingest CONTINUES through the rotation on the same query
      writeLines(in2, "c.txt", all.filter(_._2 >= 108 * h))
      q2.processAllAvailable()
    } finally q2.stop()

    // answers unchanged throughout: batch + compacted epoch 1 + live
    // epoch 2 serve the whole span through one union read
    val stmt = s"""{"select": "m", "range": {"from": 0, "to": ${120 * h}}}"""
    assert(new graft.engine.Engine(
        graft.model.TsdbLayout.openDatabase(spark, db)).execute(stmt)
        .collect().toSeq ===
      new graft.engine.Engine(ctxOf(all)).execute(stmt).collect().toSeq,
      "the epoch handover must never change answers")
    // the numbering continues past retired epochs (positions are
    // never reissued — the retire-by-number can't alias)
    assert(graft.model.TsdbLayout.nextIngestRoot(spark, db)
      === s"$db/samples_l0_e3")
  }

  test("keyNamed's malformed-name drop is observable in every named-ingest progress") {
    // ADVICE round 11: the FACT path dropped null/blank-metric names
    // silently (the reference errors the connection,
    // protocolparser.h:131-257; a micro-batch can only drop) — now the
    // drop rides the query's observed metrics, so an operator alerts
    // on dropped_rows instead of discovering data loss by absence
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val out = java.nio.file.Files
      .createTempDirectory("graft_observe").toString
    val q = TsdbStream.namedLayoutIngest(
      in.toDF().toDF("name", "ts", "value"),
      s"$out/sink", s"$out/ckpt")
    try {
      in.addData(("m user=x", 10L, 1.0), ("", 11L, 2.0),
        (" user=y", 12L, 3.0), ("m user=y", 13L, 4.0))
      q.processAllAvailable()
      val observed = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("graft_named_ingest")))
        .map(r => (r.getAs[Long]("dropped_rows"), r.getAs[Long]("input_rows")))
      assert(observed.map(_._1).sum === 2,
        s"both malformed names count as dropped: $observed")
      assert(observed.map(_._2).sum === 4)
      // and the sink holds exactly the keyable rows
      assert(spark.read.parquet(s"$out/sink").count() === 2)
    } finally q.stop()
  }

  test("catalogIngest: the registered location is content-determined, not arrival-order-determined") {
    // ADVICE round 11: dropDuplicates(series_id) registered whichever
    // variant a replay saw first. The dedup now keys the FULL variant
    // (landed set = content-determined distinct rows) and the readers
    // pick one per id by a fixed rule — first non-null location,
    // smallest (lon, lat) — so two feeds of the same rows in opposite
    // batch orders register identically
    def run(batches: Seq[Seq[(String, Long, Double, String, String)]]): Seq[(Long, String, Option[Float], Option[Float])] = {
      implicit val sqlCtx = spark.sqlContext
      val db = java.nio.file.Files
        .createTempDirectory("graft_catdet").toString
      // an empty persisted catalog: every registration is stream-born
      val seed = ctxSeed()
      seed.series.limit(0).write.parquet(s"$db/series")
      val in = MemoryStream[(String, Long, Double, String, String)]
      val q = TsdbStream.catalogIngest(
        in.toDF().toDF("name", "ts", "value", "lonS", "latS")
          .withColumn("lon", col("lonS").cast("float"))
          .withColumn("lat", col("latS").cast("float"))
          .drop("lonS", "latS"),
        s"$db/catalog_l0", s"$db/ckpt")
      try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      assert(graft.model.TsdbLayout.foldCatalogL0(spark, db) === 2)
      spark.read.parquet(s"$db/series")
        .orderBy("name")
        .collect().toSeq.map(r => (
          r.getAs[Long]("series_id"), r.getAs[String]("name"),
          Option(r.getAs[java.lang.Float]("lon")).map(_.floatValue),
          Option(r.getAs[java.lang.Float]("lat")).map(_.floatValue)))
    }
    // series A reports no location, then (2,3), then (1,9); series B
    // never reports one. Expected pick: non-null smallest → (1.0, 9.0)
    val rows = Seq(
      ("m user=a", 1L, 1.0, "", ""),
      ("m user=a", 2L, 1.0, "2.0", "3.0"),
      ("m user=a", 3L, 1.0, "1.0", "9.0"),
      ("m user=b", 4L, 1.0, "", ""))
    val forward = run(Seq(rows.take(2), rows.drop(2)))
    val backward = run(Seq(rows.reverse.take(2), rows.reverse.drop(2)))
    assert(forward === backward,
      "registration must not depend on batch order")
    val a = forward.find(_._2 == "m user=a").get
    assert((a._3, a._4) === (Some(1.0f), Some(9.0f)),
      "the fixed rule picks the smallest non-null location")
    val b = forward.find(_._2 == "m user=b").get
    assert((b._3, b._4) === (None, None))
  }

  test("catalogIngest quantizes locations in-stream: a jittering feed lands O(grid cells), not O(rows)") {
    // ADVICE round 12: the full-variant dedup key includes lon/lat, so
    // per-row GPS noise on a "constant" series location would grow the
    // stateful dropDuplicates state and catalog_l0 volume to O(rows).
    // Coordinates quantize to a 1e-4-degree grid (~11 m) before the
    // dedup — the landed variant set is the distinct GRID CELLS
    implicit val sqlCtx = spark.sqlContext
    val db = java.nio.file.Files.createTempDirectory("graft_catq").toString
    val in = MemoryStream[(String, Long, Double, Double, Double)]
    val q = TsdbStream.catalogIngest(
      in.toDF().toDF("name", "ts", "value", "lon", "lat"),
      s"$db/catalog_l0", s"$db/ckpt")
    try {
      // 200 rows of one series, coordinates jittering within ±2e-5
      // degrees of (10.0, 20.0) — all inside one or two grid cells
      in.addData((0 until 200).map { i =>
        ("m user=a", i.toLong, 1.0,
          10.0 + (i % 5 - 2) * 1e-5, 20.0 + (i % 3 - 1) * 1e-5)
      }: _*)
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(s"$db/catalog_l0")
    assert(landed.count() <= 4,
      s"a jittering feed must land a few grid cells, got ${landed.count()}")
    val lons = landed.select("lon").collect().map(_.getFloat(0)).toSet
    assert(lons.forall(l => math.abs(l - 10.0f) < 1e-3f),
      s"quantized registration stays at the true location: $lons")
  }

  /** A minimal context whose series frame donates the catalog schema. */
  private def ctxSeed() =
    graft.model.TsdbContext.fromWide(spark,
      Seq(("x", 1L, 1.0)).toDF("user", "ts", "value")
        .withColumn("metric", lit("m")),
      "metric", Seq("user"), "ts", "value")

  test("epoch roots on the events AND catalog halves: union reads, per-epoch retire, sibling-copy rule") {
    // the zero-downtime scheme must hold on all three root families;
    // this drives the LOG half and the catalog through two epochs —
    // including the catalog's sibling-copy rule: a registration whose
    // only UNFOLDED copy lives in the retiring root refuses, but one a
    // sibling live epoch also carries (a re-seen series re-registers
    // per epoch) releases the older root without a fold
    val db = java.nio.file.Files.createTempDirectory("graft_evepoch").toString
    val h = 3600L * 1000000000L
    val ctx = graft.model.TsdbContext.fromWide(spark,
      (0 until 48).map(i => ("x", i.toLong * h, i / 3.0))
        .toDF("user", "ts", "value").withColumn("metric", lit("!m")),
      "metric", Seq("user"), "ts", "value")
    val xId = ctx.series.select("series_id").head().getLong(0)
    val batchEvents = (0 until 48).map(i => (xId, i.toLong * h, s"b$i"))
    graft.model.TsdbLayout.writeDatabase(
      ctx.copy(events = batchEvents.toDF("series_id", "ts", "body")), db)

    def runEpoch(tag: String, rows: Seq[(String, Long, String)]): Unit = {
      val in = s"$db/in_$tag"; new java.io.File(in).mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.txt"),
        rows.map { case (n, ts, b) => s"$n;$ts;$b" }.mkString("\n").getBytes)
      def named() = spark.readStream.format("text").load(in)
        .selectExpr("split(value, ';')[0] AS name",
          "CAST(split(value, ';')[1] AS LONG) AS ts",
          "split(value, ';')[2] AS body")
      val evRoot = graft.model.TsdbLayout.nextIngestRoot(spark, db, Tier.Events)
      val catRoot = graft.model.TsdbLayout.nextIngestRoot(spark, db, Tier.Catalog)
      assert(evRoot.endsWith(s"events_l0_$tag") &&
        catRoot.endsWith(s"catalog_l0_$tag"))
      val f = TsdbStream.namedEventsIngest(named(), evRoot, s"$db/f_$tag")
      val c = TsdbStream.catalogIngest(named(), catRoot, s"$db/c_$tag")
      try { f.processAllAvailable(); c.processAllAvailable() }
      finally { f.stop(); c.stop() }
    }
    // epoch 1: hours 48-95 of x AND the never-seen y; compacted whole
    val e1Rows = (48 until 96).flatMap(i => Seq(
      ("!m user=x", i.toLong * h, s"x$i"), ("!m user=y", i.toLong * h, s"y$i")))
    runEpoch("e1", e1Rows)
    graft.model.TsdbLayout.compactL0(spark, db, 96 * h, Tier.Events)
    // epoch 2: hours 96-119, BOTH series re-seen (fresh dedup state →
    // both re-register into catalog_l0_e2 — the sibling copies)
    val e2Rows = (96 until 120).flatMap(i => Seq(
      ("!m user=x", i.toLong * h, s"x$i"), ("!m user=y", i.toLong * h, s"y$i")))
    runEpoch("e2", e2Rows)

    def servedBodies(): Seq[(String, Long, String)] =
      new graft.engine.Engine(
          graft.model.TsdbLayout.openDatabase(spark, db))
        .execute(s"""{"select-events": "!m", "range": {"from": 0, "to": ${120 * h}}}""")
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .sorted
    val expected = (batchEvents.map { case (_, ts, b) => ("!m user=x", ts, b) }
      ++ e1Rows ++ e2Rows).sorted
    assert(servedBodies() === expected,
      "batch + compacted epoch 1 + live epoch 2 through one union read")

    // catalog epoch 1 retires WITHOUT a fold: its registrations'
    // copies live in the sibling epoch-2 root (re-registration)
    assert(graft.model.TsdbLayout.retireIngestRoot(spark, db, Tier.Catalog, Some(1),
      checkpoint = Some(s"$db/c_e1")))
    assert(!new java.io.File(s"$db/catalog_l0_e1").exists())
    // the live events epoch refuses; the drained one retires
    val eLive = intercept[IllegalArgumentException](
      graft.model.TsdbLayout.retireIngestRoot(spark, db, Tier.Events, Some(2)))
    assert(eLive.getMessage.contains("uncompacted"))
    assert(graft.model.TsdbLayout.retireIngestRoot(spark, db, Tier.Events, Some(1),
      checkpoint = Some(s"$db/f_e1")))
    assert(servedBodies() === expected,
      "per-epoch rotation must never change answers")

    // epoch 2's catalog root holds the ONLY copies now: retire refuses
    // until the fold moves them to the persisted catalog
    val eOnly = intercept[IllegalArgumentException](
      graft.model.TsdbLayout.retireIngestRoot(spark, db, Tier.Catalog, Some(2)))
    assert(eOnly.getMessage.contains("unfolded"))
    assert(graft.model.TsdbLayout.foldCatalogL0(spark, db) === 1L,
      "fold is new-only: x was persisted, y is the one new registration")
    assert(graft.model.TsdbLayout.retireIngestRoot(spark, db, Tier.Catalog, Some(2),
      checkpoint = Some(s"$db/c_e2")))
    assert(servedBodies() === expected,
      "fold + full catalog rotation must not change answers")
    // numbering continues past retired epochs while any sibling root
    // lives (events: e2 still present → e3); with the whole family
    // retired it restarts at e1 — same as the legacy root reusing its
    // one path per epoch: the root DIRECTORY is the identity, retire
    // requires it to exist, so a reused number cannot alias a dead one
    assert(graft.model.TsdbLayout.nextIngestRoot(spark, db, Tier.Events)
      .endsWith("events_l0_e3"))
    assert(graft.model.TsdbLayout.nextIngestRoot(spark, db, Tier.Catalog)
      .endsWith("catalog_l0_e1"))
  }
}
