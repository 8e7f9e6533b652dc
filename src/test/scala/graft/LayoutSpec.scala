package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.model.TsdbLayout
import graft.query.Ast._

/** Partitioned physical layout: results identical to the flat layout, and
  * metric predicates become partition pruning. */
class LayoutSpec extends AnyFunSuite with SparkTestBase {

  test("events layout: round-trip preserves select-events and prunes (metric, ts_day)") {
    // the log half gets the samples treatment: writeEvents partitions
    // by (metric, ts_day); selectEvents over the laid-out frame pushes
    // both predicates and answers exactly like the flat events frame
    val ctx = graft.model.TsdbContext.fromTestdata(
      spark, "/root/testdata/sf0.001")
    val path = java.nio.file.Files
      .createTempDirectory("graft_events_layout").toString
    TsdbLayout.writeEvents(ctx, path)
    val laid = ctx.copy(events = spark.read.parquet(path))
    val q = s"""{"select-events": "!log",
                 "range": {"from": "20240105T000000", "to": "20240110T000000"},
                 "filter": "\\"k\\": 4[0-9]"}"""
    val a = new Engine(ctx).execute(q).collect().toSeq
    val b = new Engine(laid).execute(q).collect().toSeq
    assert(a.nonEmpty && a === b,
      "laid-out events must answer exactly like the flat frame")
    // read off the events scan itself, not the plan text: column names
    // appearing elsewhere in the plan must not pass
    val scans = fileScans(new Engine(laid).execute(q))
    assert(scans.nonEmpty && scans.forall(f =>
        Set("metric", "ts_day").subsetOf(prunedPartitionCols(f))),
      s"select-events must push metric + ts_day partition filters: $scans")
  }

  test("layout round-trip preserves query results and prunes partitions") {
    // compact fixture: 3 series, samples across 3 distinct days
    import spark.implicits._
    val day = 86400L * 1000000000L
    val rows = for (i <- 1 to 3; d <- 0 until 3; k <- 0 until 5)
      yield (s"T$i", d * day + k * 1000L, i * 100.0 + d * 10 + k)
    val wide = rows.toDF("tag", "ts", "value")
      .withColumn("metric", org.apache.spark.sql.functions.lit("test"))
    val flat = graft.model.TsdbContext.fromWide(
      spark, wide, "metric", Seq("tag"), "ts", "value")

    val path = java.nio.file.Files.createTempDirectory("graft_layout").toString
    TsdbLayout.writeSamples(flat, path)
    val laid = TsdbLayout.contextOver(spark, path, flat.series, flat.events)

    val q = SelectQuery("test", TimeRange(0, day * 2)) // first two days only
    val a = collectSeries(new Engine(flat).select(q))
    val b = collectSeries(new Engine(laid).select(q))
    assert(a === b)
    assert(a.size === 30) // 3 series × 2 days × 5 samples

    // partition pruning: the metric predicate must reach PartitionFilters
    val plan = new Engine(laid).select(q).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("metric"))

    // directory structure is (metric, ts_day)
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("metric="))
    assert(dirs.nonEmpty)
  }

  test("upsert rewrites only the touched partitions; late data wins on key collision") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val day = graft.time.TimeUtil.NsPerDay
    val rows = (for (i <- 1 to 2; d <- 0 until 3; k <- 0 until 5)
      yield (s"T$i", d * day + k * 1000L, i * 100.0 + d * 10 + k)) :+
      // a pre-existing duplicate-ts row in the TOUCHED day, on a key the
      // late batch never names — the partition rewrite must keep BOTH
      // copies (a whole-slice dedup would silently collapse them)
      (("T2", day + 1000L, 4242.0))
    val wide = rows.toDF("tag", "ts", "value")
      .withColumn("metric", lit("test"))
    val flat = graft.model.TsdbContext.fromWide(
      spark, wide, "metric", Seq("tag"), "ts", "value")
    val path = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    TsdbLayout.writeSamples(flat, path)
    def files(dayN: Long): Set[String] = {
      val d = new java.io.File(s"$path/metric=test/ts_day=$dayN")
      d.listFiles().map(_.getName).filter(_.startsWith("part-")).toSet
    }
    val day0Before = files(0)
    val day1Before = files(1)

    // one correction (collides with an existing (series, ts)) and one
    // genuinely late row, both inside day 1 only
    val sid = flat.samples.where(col("ts") === day).select("series_id")
      .orderBy("series_id").as[Long].head()
    val late = Seq((sid, day, -999.0), (sid, day + 7777L, -1.0))
      .toDF("series_id", "ts", "value")
    val n = TsdbLayout.upsertSamples(spark, path, late, flat.series)
    assert(n === 1, "exactly one (metric, day) partition is affected")

    // untouched day-0 directory: byte-identical file set; day 1 rewritten
    assert(files(0) === day0Before, "day 0 must not be rewritten")
    assert(files(1) !== day1Before, "day 1 must be rewritten")

    val after = TsdbLayout.readSamples(spark, path)
    assert(after.count() === rows.size + 1) // one new row, one replaced
    val corrected = after.where(col("series_id") === sid && col("ts") === day)
      .select("value").as[Double].collect().toSeq
    assert(corrected === Seq(-999.0), "the late value must win")
    assert(after.where(col("value") === -1.0).count() === 1)
    // the untouched duplicate-ts key keeps BOTH its copies
    assert(after.where(col("ts") === day + 1000L && col("value") === 4242.0)
      .count() === 1, "pre-existing duplicate must survive the rewrite")
    assert(after.where(col("ts") === day + 1000L).count() === 3)
  }

  test("pre-epoch samples survive the layout round-trip (floor-div day numbering)") {
    // ts_day assignment (write side) and tsDayPruned's bounds (read side)
    // must agree on FLOOR division: truncating division puts ts = -1 ns in
    // day 0 while the pruning bounds for a range ending at the epoch stop
    // at day -1 — the directory is pruned and the row silently vanishes
    import spark.implicits._
    val day = graft.time.TimeUtil.NsPerDay
    val rows = for (d <- -1 until 2; k <- 0 until 5)
      yield ("T1", d * day + k * 1000L, d * 10.0 + k)
    val wide = rows.toDF("tag", "ts", "value")
      .withColumn("metric", org.apache.spark.sql.functions.lit("test"))
    val flat = graft.model.TsdbContext.fromWide(
      spark, wide, "metric", Seq("tag"), "ts", "value")
    val path = java.nio.file.Files.createTempDirectory("graft_layout_neg").toString
    TsdbLayout.writeSamples(flat, path)
    val laid = TsdbLayout.contextOver(spark, path, flat.series, flat.events)

    val q = SelectQuery("test", TimeRange(-day, 0)) // the pre-epoch day only
    val a = collectSeries(new Engine(flat).select(q))
    val b = collectSeries(new Engine(laid).select(q))
    assert(a === b)
    assert(a.size === 5, s"all pre-epoch samples must survive pruning, got ${a.size}")
  }

  test("bucketed-by-series tables join with no shuffle exchange") {
    val ctx = rampContext(Seq(1, 2, 3), 100, 200)
    val base = java.nio.file.Files.createTempDirectory("graft_buckets")
    TsdbLayout.writeBucketedBySeries(ctx.samples, "graft_bk_a", s"$base/a", buckets = 4)
    TsdbLayout.writeBucketedBySeries(ctx.samples, "graft_bk_b", s"$base/b", buckets = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("graft_bk_a").as("a")
        .join(spark.table("graft_bk_b").as("b"), "series_id")
      // match the rendered tree, not collect: a regression that adds a
      // shuffle also makes AQE wrap the plan in AdaptiveSparkPlanExec,
      // whose subtree collect can't see — the collect form passes vacuously
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bk_a")
      spark.sql("DROP TABLE IF EXISTS graft_bk_b")
    }
  }

  test("tagkey-bucketed layout aligns join queries with no hash exchange") {
    import spark.implicits._
    // two metrics per tag so a JoinQuery has both sides
    val rows = for (m <- Seq("m1", "m2"); i <- 1 to 3; ts <- 100L until 140L)
      yield (m, s"T$i", ts, ts * 0.5 + i)
    val wide = rows.toDF("metric", "tag", "ts", "value")
    val flatCtx = graft.model.TsdbContext.fromWide(
      spark, wide, "metric", Seq("tag"), "ts", "value")
    val base = java.nio.file.Files.createTempDirectory("graft_tagkey")
    TsdbLayout.writeBucketedByTagkey(flatCtx, "graft_bk_tk", s"$base/tk", buckets = 4)
    try {
      val bucketedCtx = flatCtx.copy(samples = spark.table("graft_bk_tk"))
      val q = JoinQuery(Seq("m1", "m2"), TimeRange(100, 140))
      val viaBuckets = new Engine(bucketedCtx).join(q)
      // rendered-tree match for the same AQE-wrapping reason as above.
      // The pin targets the ALIGNMENT key: a bucketing regression inserts
      // Exchange hashpartitioning(tagkey, ts) above the fact scan. The
      // broadcast side's tiny catalog-derivation exchanges (series_id)
      // are legitimate — bounded by catalog size, cached in production
      val plan = viaBuckets.queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning(tagkey"),
        s"tagkey-bucketed join must not hash-shuffle its alignment:\n$plan")
      // and the results are identical to the flat plan
      val flat = new Engine(flatCtx).join(q).collect().map(_.toSeq)
      assert(viaBuckets.collect().map(_.toSeq).toSeq === flat.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS graft_bk_tk")
  }

  test("rollup compaction: persisted hour->day ladder equals day-from-raw") {
    import graft.engine.Rollup
    val ctx = rampContext(Seq(1, 2), 100, 200,
      value = ts => ((ts * 31) % 17).toDouble)
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    Rollup.write(ctx.samples, s"$dir/fine", stepNs = 10)
    Rollup.compact(spark, s"$dir/fine", s"$dir/coarse",
      fineStepNs = 10, coarseStepNs = 50)
    val ladder = spark.read.parquet(s"$dir/coarse")
      .orderBy("series_id", "bin").collect().map(_.toSeq)
    val direct = Rollup.build(ctx.samples, 50)
      .orderBy("series_id", "bin").collect().map(_.toSeq)
    // exact on every field here (sums are small integers)
    assert(ladder.toSeq === direct.toSeq)
    intercept[IllegalArgumentException](
      Rollup.compact(spark, s"$dir/fine", s"$dir/bad", 10, 55))
  }

  test("retention: expire drops aged ts_day partition dirs without touching data") {
    import spark.implicits._
    val dayNs = 86400L * 1000000000L
    // hand-build: 1 sample per day across 4 days
    val wide = (0 until 4).map(d => ("t", d * dayNs + 5L, 1.0))
      .toDF("tag", "ts", "value")
      .withColumn("metric", org.apache.spark.sql.functions.lit("m"))
    val lctx = graft.model.TsdbContext.fromWide(
      spark, wide, "metric", Seq("tag"), "ts", "value")
    val path = java.nio.file.Files.createTempDirectory("graft_expire").toString
    graft.model.TsdbLayout.writeSamples(lctx, path)
    val removed = graft.model.TsdbLayout.expire(spark, path, cutoffNs = 2 * dayNs)
    assert(removed === 2, "days 0 and 1 dropped")
    val left = graft.model.TsdbLayout.readSamples(spark, path)
      .select("ts_day").distinct().as[Int].collect().toSet
    assert(left === Set(2, 3))
  }

  test("corpus layout: split readers prune partitions; manifest matches the data") {
    import spark.implicits._
    import graft.model.CorpusLayout
    val docs = (1L to 40L).map { i =>
      (i, s"doc $i body words here", s"src${i % 2}",
        if (i % 4 == 0) "test" else "train")
    }.toDF("doc_id", "text", "source", "split")
    val path = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    CorpusLayout.writeDocuments(docs, path)

    val dirs = new java.io.File(path).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("split=")), dirs.toSeq.toString)

    // one split: the predicate prunes to its directories
    val test = graft.model.ParquetDirs.read(spark, path)
      .where(org.apache.spark.sql.functions.col("split") === "test")
    val plan = test.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("split"),
      s"split predicate must prune directories:\n$plan")
    assert(test.count() === 10)

    val m = CorpusLayout.manifest(spark.read.parquet(path))
      .orderBy("split", "source")
      .select("split", "source", "n_docs")
      .as[(String, String, Long)].collect().toSeq
    assert(m.map(_._3).sum === 40)
    assert(m.filter(_._1 == "test").map(_._3).sum === 10)
  }

  test("corpus compact bin-packs each partition's files toward the target size") {
    import spark.implicits._
    import graft.model.CorpusLayout
    // "web:news" needs Hive escaping in its directory name (source=
    // web%3Anews) — the packing plan must decode it or the join silently
    // drops the whole partition
    val docs = (1L to 200L).map { i =>
      (i, s"doc $i body words here",
        if (i % 5 == 0) "web:news" else s"src${i % 2}",
        if (i % 4 <= 1) "test" else "train")
    }.toDF("doc_id", "text", "source", "split")
    val path = java.nio.file.Files.createTempDirectory("graft_corpus_c").toString
    // AQE's partition coalescing would merge this fixture's tiny shuffles
    // back into one task (correct at scale, but it hides the very
    // fragmentation this test exercises) — pin it off for the writes
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
    // salted write: every (split, source) partition lands in many files
    CorpusLayout.writeDocuments(docs, path, tasksPerPartition = 8)
    def filesPerDir(p: String): Map[String, Int] =
      new java.io.File(p).listFiles().filter(_.isDirectory).flatMap { sp =>
        sp.listFiles().filter(_.isDirectory).map { so =>
          s"${sp.getName}/${so.getName}" ->
            so.listFiles().count(_.getName.startsWith("part-"))
        }
      }.toMap
    val before = filesPerDir(path)
    assert(before.values.forall(_ > 1), s"salted write must fragment: $before")

    val dst = java.nio.file.Files.createTempDirectory("graft_corpus_d").toString
    val plan = CorpusLayout.compact(spark, path, dst, targetBytes = 1L << 30)
      .select("split", "source", "n_files_target")
      .as[(String, String, Long)].collect().toSeq
    assert(plan.nonEmpty && plan.forall(_._3 === 1L), plan.toString)
    val after = filesPerDir(dst)
    assert(after.keySet === before.keySet, "partition dirs must be preserved")
    assert(after.values.forall(_ === 1), s"huge target => one file per dir: $after")
    // content round-trips exactly
    val a = spark.read.parquet(dst).select("doc_id", "text", "source", "split")
      .orderBy("doc_id").collect().toSeq
    val b = docs.orderBy("doc_id").collect().toSeq
    assert(a === b)
    // a tiny target spreads each partition over multiple files again
    val dst2 = java.nio.file.Files.createTempDirectory("graft_corpus_e").toString
    CorpusLayout.compact(spark, path, dst2, targetBytes = 512L)
    assert(filesPerDir(dst2).values.forall(_ > 1))
    } finally spark.conf.set(coalesceKey, prevCoalesce)
  }

  test("persisted-index contract: an upsert leaves owned indexes stale until rebuilt and re-saved") {
    // owned index frames are snapshots of the facts at save time
    // (the reference's SubtreeRefs live INSIDE the tree the write path
    // updates; a materialized rollup does not) — pin the hazard AND
    // the remedy so the window is a stated contract, not a surprise
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val h = 3600L * 1000000000L
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    val rows = (0 until 48).map(i => ("x", i.toLong * h, 1.0))
    val ctx = ctxOf(rows)
    val db = java.nio.file.Files.createTempDirectory("graft_stale_idx").toString
    TsdbLayout.writeDatabase(ctx.copy(
      rollups = Seq(h -> graft.engine.Rollup.build(ctx.samples, h))), db)

    // correct hour 10 (+1000) through the layout upsert
    val late = ctx.samples.where(col("ts") === 10 * h)
      .select(col("series_id"), col("ts"),
        (col("value") + lit(1000.0)).as("value"))
    assert(TsdbLayout.upsertSamples(spark, s"$db/samples", late, ctx.series) === 1)

    val stmt = s"""{"group-aggregate": {"metric": "m", "step": "1h",
                     "func": "max"},
                    "range": {"from": 0, "to": ${48 * h}}}"""
    def servedAt10(e: graft.engine.Engine): Double =
      e.execute(stmt).where(col("ts") === 10 * h)
        .collect().head.getAs[Double]("max")
    // the hazard: the aligned statement serves the SNAPSHOT, the raw
    // scan the corrected layout
    val opened1 = TsdbLayout.openDatabase(spark, db)
    assert(servedAt10(new Engine(opened1)) === 1.0,
      "an owned rollup is a save-time snapshot: stale after the upsert")
    assert(new Engine(opened1).execute(
        s"""{"select": "m", "range": {"from": ${10 * h}, "to": ${11 * h}}}""")
      .collect().head.getAs[Double]("value") === 1001.0,
      "the layout itself serves the correction")

    // the remedy IS an operator: rebuild every owned family from the
    // corrected facts, params from the manifest, in place
    assert(graft.model.IndexCatalog.rebuild(spark, db) === 1)
    assert(servedAt10(new Engine(TsdbLayout.openDatabase(spark, db))) === 1001.0,
      "IndexCatalog.rebuild closes the window")
  }

  test("index staleness is ALERTED: the upsert records touched partitions, the tick reports them, the scoped rebuild serves and clears") {
    // round-11 left the staleness window a documented contract with an
    // on-demand remedy; this pins the alert-driven loop: upsert →
    // index_dirty record → maintenanceTick index_stale > 0 →
    // rebuildScoped (reading the record) → served correction + record
    // cleared → tick reports zero (idempotent)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val h = 3600L * 1000000000L
    val d = 24 * h
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    val ctx = ctxOf((0 until 96).map(i => ("x", i.toLong * h, 1.0)))
    val db = java.nio.file.Files.createTempDirectory("graft_stale_alert").toString
    TsdbLayout.writeDatabase(ctx.copy(
      rollups = Seq(h -> graft.engine.Rollup.build(ctx.samples, h))), db)
    def tickStale(): Long = TsdbLayout.maintenanceTick(spark, db, 0L)
      .where(col("step") === "index_stale").head().getLong(1)
    assert(tickStale() === 0L)

    // two upserts, overlapping days: the record MERGES and DEDUPS
    def correct(hour: Int): Unit = {
      val late = ctx.samples.where(col("ts") === hour * h)
        .select(col("series_id"), col("ts"),
          (col("value") + lit(1000.0)).as("value"))
      assert(TsdbLayout.upsertSamples(spark, s"$db/samples", late,
        ctx.series) === 1)
    }
    correct(10); correct(11); correct(30)
    assert(TsdbLayout.indexDirtyPairs(spark, db).toSet ===
      Set(("m", 0L), ("m", 1L)),
      "touched partitions record once each, across upserts")
    assert(tickStale() === 2L)

    // a partial clear drops only the named pairs
    TsdbLayout.clearIndexDirty(spark, db, Seq(("m", 1L)))
    assert(TsdbLayout.indexDirtyPairs(spark, db) === Seq(("m", 0L)))
    TsdbLayout.clearIndexDirty(spark, db)
    assert(TsdbLayout.indexDirtyPairs(spark, db).isEmpty)
    // the record is evidence; re-record the full touched set for the
    // remedy (the operator's path when a manual clear went too far)
    assert(graft.model.IndexCatalog.rebuildScoped(spark, db,
      Some(Seq(("m", 0L), ("m", 1L)))) === 1)

    // the scoped rebuild SERVES the corrections (all three hours)
    val served = new Engine(TsdbLayout.openDatabase(spark, db)).execute(
      s"""{"group-aggregate": {"metric": "m", "step": "1h", "func": "max"},
           "range": {"from": 0, "to": ${96 * h}}}""")
    val byTs = served.collect().map(r =>
      r.getAs[Long]("ts") -> r.getAs[Double]("max")).toMap
    for (hour <- Seq(10, 11, 30))
      assert(byTs(hour * h) === 1001.0, s"hour $hour must serve corrected")
    assert(byTs(12 * h) === 1.0)
    assert(tickStale() === 0L, "the loop closes: nothing pending")

    // an upsert into a plain layout (no index catalog beside it)
    // records nothing — there is nothing to go stale
    val bare = java.nio.file.Files.createTempDirectory("graft_bare").toString
    TsdbLayout.writeSamples(ctx, s"$bare/samples")
    val late = ctx.samples.where(col("ts") === 5 * h)
      .select(col("series_id"), col("ts"), (col("value") + lit(1.0)).as("value"))
    assert(TsdbLayout.upsertSamples(spark, s"$bare/samples", late,
      ctx.series) === 1)
    assert(TsdbLayout.indexDirtyPairs(spark, bare).isEmpty)

    // ...and neither does one whose catalog holds no canonical OWNED
    // entry (adopted-only / empty manifest): a pair no rebuild could
    // ever clear would be a permanent false index_stale alert
    val adoptedOnly = java.nio.file.Files
      .createTempDirectory("graft_adonly").toString
    TsdbLayout.writeDatabase(ctx, adoptedOnly) // zero registered indexes
    assert(TsdbLayout.upsertSamples(spark, s"$adoptedOnly/samples", late,
      ctx.series) === 1)
    assert(TsdbLayout.indexDirtyPairs(spark, adoptedOnly).isEmpty,
      "no canonical owned entry → nothing can go stale → no record")

    // a record stranded by retiring/marking every owned entry AFTER it
    // was written clears on the next rebuild instead of alerting forever
    TsdbLayout.clearIndexDirty(spark, db)
    correct(10)
    assert(TsdbLayout.indexDirtyPairs(spark, db).nonEmpty)
    graft.model.IndexCatalog.markNoncanonical(s"$db/indexes", 0)
    assert(graft.model.IndexCatalog.rebuildScoped(spark, db,
      skipNoncanonical = true) === 0)
    assert(TsdbLayout.indexDirtyPairs(spark, db).isEmpty,
      "nothing rebuildable → the pending pairs clear, not alert forever")
  }

  test("maintenanceTick healIndexes: one cron call leaves a consistent database") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val h = 3600L * 1000000000L
    val ctx = graft.model.TsdbContext.fromWide(spark,
      (0 until 48).map(i => ("x", i.toLong * h, 1.0))
        .toDF("user", "ts", "value").withColumn("metric", lit("m")),
      "metric", Seq("user"), "ts", "value")
    val db = java.nio.file.Files.createTempDirectory("graft_healtick").toString
    TsdbLayout.writeDatabase(ctx.copy(
      rollups = Seq(h -> graft.engine.Rollup.build(ctx.samples, h))), db)
    val late = ctx.samples.where(col("ts") === 10 * h)
      .select(col("series_id"), col("ts"),
        (col("value") + lit(1000.0)).as("value"))
    assert(TsdbLayout.upsertSamples(spark, s"$db/samples", late,
      ctx.series) === 1)
    def tick(): Map[String, Long] =
      TsdbLayout.maintenanceTick(spark, db, 0L, healIndexes = true)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val first = tick()
    assert(first("index_healed") === 1L && first("index_stale") === 0L,
      s"the healing tick rebuilds the touched bins and clears: $first")
    // the correction serves from the index after ONE cron call
    assert(new Engine(TsdbLayout.openDatabase(spark, db)).execute(
        s"""{"group-aggregate": {"metric": "m", "step": "1h",
             "func": "max"}, "range": {"from": 0, "to": ${48 * h}}}""")
      .where(col("ts") === 10 * h).head().getAs[Double]("max") === 1001.0)
    val second = tick()
    assert(second("index_healed") === 0L && second("index_stale") === 0L,
      s"idempotent: nothing pending, nothing rewritten: $second")
  }

  test("retention reaches the indexes: expire drops aged bins; what it can't drop, the staleness loop heals") {
    // the gap: serving guards are alignment/density-based, so a rollup
    // over EXPIRED days would keep serving bins whose facts are gone —
    // index-served and raw-scan answers diverging by serving path.
    // expire now heals in the same call: day-divisible windows drop
    // aged __day partitions (metadata, exact), snapshot families
    // record into the staleness loop
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val h = 3600L * 1000000000L
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    val allRows = (0 until 96).map(i => ("x", i.toLong * h, i / 3.0))
    val ctx = ctxOf(allRows)
    val named = ctx.samples
      .join(ctx.series.select(col("series_id"), col("name")), "series_id")
    val db = java.nio.file.Files.createTempDirectory("graft_exp_idx").toString
    TsdbLayout.writeDatabase(ctx.copy(
      rollups = Seq(h -> graft.engine.Rollup.build(ctx.samples, h)),
      madIndexes = Seq(graft.model.MadIndexDef(0L, 96 * h,
        graft.ops.Monitoring.madIndex(
          named.select(col("name"), col("value")), "name")))), db)

    assert(TsdbLayout.expire(spark, s"$db/samples", 48 * h) === 2)
    // the rollup's aged __day partitions dropped with the facts
    val rollDir = java.nio.file.Paths.get(db, "indexes", "idx_0_rollup")
    def days(): Set[String] = {
      val ls = java.nio.file.Files.list(rollDir)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("__day=")).toSet
      finally ls.close()
    }
    assert(days() === Set("__day=2", "__day=3"),
      "days 0-1 of the 96h span expire from the index storage too " +
        "(hour bins never straddle days, so the drop is exact)")

    // the mad snapshot cannot be partition-dropped: recorded instead
    assert(TsdbLayout.indexDirtyPairs(spark, db).toSet ===
      Set(("m", 0L), ("m", 1L)))

    // serving-path equality restored: the opened (healed) database's
    // aligned statement equals an engine over the surviving facts
    val survivors = ctxOf(allRows.filter(_._2 >= 48 * h))
    val stmt = s"""{"group-aggregate": {"metric": "m", "step": "1h",
                     "func": "max"}, "range": {"from": 0, "to": ${96 * h}}}"""
    assert(new Engine(TsdbLayout.openDatabase(spark, db)).execute(stmt)
        .collect().toSeq ===
      new Engine(survivors).execute(stmt).collect().toSeq,
      "an index-served statement must not resurrect expired data")

    // the recorded half heals through the standing loop: the mad frame
    // re-derives over the surviving facts, the rollup's already-healed
    // pairs no-op, the record clears
    assert(graft.model.IndexCatalog.rebuildScoped(spark, db) === 1)
    assert(TsdbLayout.indexDirtyPairs(spark, db).isEmpty)
    val reopened = TsdbLayout.openDatabase(spark, db)
    assert(rowsOf(reopened.madIndexes.head.index) === rowsOf(
      graft.ops.Monitoring.madIndex(
        survivors.samples
          .join(survivors.series.select(col("series_id"), col("name")),
            "series_id")
          .select(col("name"), col("value")), "name")),
      "the snapshot family re-derives over the surviving facts")

    // retention may not EMPTY a layout: a cutoff past the newest data
    // would leave footer-less parquet roots (facts AND index) — loud
    // refusal, nothing deleted
    val eAll = intercept[IllegalArgumentException](
      TsdbLayout.expire(spark, s"$db/samples", 200 * h))
    assert(eAll.getMessage.contains("empty a layout"))
    assert(new Engine(TsdbLayout.openDatabase(spark, db)).execute(stmt)
        .collect().toSeq ===
      new Engine(survivors).execute(stmt).collect().toSeq,
      "the refused expire must have deleted nothing")

    // ...and never runs on an ingest root at all: the sink log pins
    // committed files, and healing would mis-fire for days the batch
    // tier still holds
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(db, "samples_l0"))
    val eL0 = intercept[IllegalArgumentException](
      TsdbLayout.expire(spark, s"$db/samples_l0", 48 * h))
    assert(eL0.getMessage.contains("ingest root"))
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("the staleness loop REMOVES bins whose facts vanished (weekly rollup retention)") {
    // a weekly window does not divide a day, so expire routes it
    // through the record — and the scoped rebuild must DELETE the
    // fully-vanished week bins (a dynamic overwrite alone cannot: a
    // partition absent from the output is silently kept) and recompute
    // the straddling week from the survivors
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val h = 3600L * 1000000000L
    val weekNs = 7 * 24 * h
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    val allRows = (0 until 28 * 24).map(i => ("x", i.toLong * h, i / 7.0))
    val ctx = ctxOf(allRows)
    val db = java.nio.file.Files.createTempDirectory("graft_weekly").toString
    TsdbLayout.writeDatabase(ctx.copy(
      rollups = Seq(weekNs ->
        graft.engine.Rollup.build(ctx.samples, weekNs))), db)

    assert(TsdbLayout.expire(spark, s"$db/samples", 10 * 24 * h) === 10)
    assert(TsdbLayout.indexDirtyPairs(spark, db).size === 10,
      "the day-straddling window routes through the record")
    assert(graft.model.IndexCatalog.rebuildScoped(spark, db) === 1)
    assert(TsdbLayout.indexDirtyPairs(spark, db).isEmpty)

    val survivors = ctxOf(allRows.filter(_._2 >= 10 * 24 * h))
    val reopened = TsdbLayout.openDatabase(spark, db)
    assert(rowsOf(reopened.rollups.head._2) === rowsOf(
      graft.engine.Rollup.build(
        survivors.samples.select("series_id", "ts", "value"), weekNs)),
      "vanished week bins removed, the straddling week recomputed " +
        "from survivors, later weeks untouched")
  }

  test("the completion clear is FILE-scoped: a recorder landing mid-rebuild stays pending even when it repeats a cleared pair") {
    // the false-green the old pair-scoped clear allowed: a hot
    // partition corrected AGAIN while a long rebuild runs records the
    // same (metric, ts_day) into a NEW file; the rebuild's fact
    // snapshot predates the second correction, so its completion clear
    // must not erase the re-recording
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val h = 3600L * 1000000000L
    val ctx = graft.model.TsdbContext.fromWide(spark,
      (0 until 48).map(i => ("x", i.toLong * h, 1.0))
        .toDF("user", "ts", "value").withColumn("metric", lit("m")),
      "metric", Seq("user"), "ts", "value")
    val db = java.nio.file.Files.createTempDirectory("graft_clearrace").toString
    TsdbLayout.writeDatabase(ctx.copy(
      rollups = Seq(h -> graft.engine.Rollup.build(ctx.samples, h))), db)
    def correct(hour: Int): Unit = {
      val late = ctx.samples.where(col("ts") === hour * h)
        .select(col("series_id"), col("ts"),
          (col("value") + lit(1000.0)).as("value"))
      assert(TsdbLayout.upsertSamples(spark, s"$db/samples", late,
        ctx.series) === 1)
    }
    correct(10)
    // what a rebuild reads at entry: pairs + the files holding them
    val (pairs, files) = TsdbLayout.indexDirtySnapshot(spark, db)
    assert(pairs === Seq(("m", 0L)) && files.size === 1)
    // a SECOND correction of the same partition lands mid-rebuild —
    // a new record file repeating the pair the snapshot already holds
    correct(11)
    TsdbLayout.clearIndexDirty(spark, db, pairs, files)
    assert(TsdbLayout.indexDirtyPairs(spark, db) === Seq(("m", 0L)),
      "the mid-rebuild recording must STAY pending — clearing it would " +
        "leave stale index bins with index_stale green")
    // the loop still closes: the next scoped rebuild serves and clears
    assert(graft.model.IndexCatalog.rebuildScoped(spark, db) === 1)
    assert(TsdbLayout.indexDirtyPairs(spark, db).isEmpty)

    // the legacy single-FILE record form: recorders REWRITE the file,
    // so identity is (path, status) — a merge landing after the
    // snapshot must leave the whole file untouched at clear time
    // (both pairs stay pending: false positive, never false green)
    val one = java.nio.file.Files.createTempDirectory("graft_onefile")
    java.nio.file.Files.write(one.resolve("index_dirty"),
      "{\"metric\":\"m\",\"ts_day\":0}\n".getBytes("UTF-8"))
    val (p1, f1) = TsdbLayout.indexDirtySnapshot(spark, one.toString)
    assert(p1 === Seq(("m", 0L)) && f1.size === 1)
    java.nio.file.Files.write(one.resolve("index_dirty"),
      ("{\"metric\":\"m\",\"ts_day\":0}\n" +
        "{\"metric\":\"m\",\"ts_day\":7}\n").getBytes("UTF-8"))
    TsdbLayout.clearIndexDirty(spark, one.toString, p1, f1)
    assert(TsdbLayout.indexDirtyPairs(spark, one.toString).toSet ===
      Set(("m", 0L), ("m", 7L)),
      "a rewritten single-file record is skipped whole — shrinking the " +
        "new content would erase the re-recording")
  }

  test("expire's heal clears only its OWN record: pre-existing pending pairs survive a fully-healed retention") {
    // expire records the aged pairs BEFORE deleting fact partitions
    // (the upsert's record-before-mutate ordering — a crash between
    // the two leaves a false positive, never unalerted stale bins) and
    // clears exactly the file it recorded when the partition drop
    // healed everything — an upsert's earlier record is not its to
    // clear
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val h = 3600L * 1000000000L
    val ctx = graft.model.TsdbContext.fromWide(spark,
      (0 until 96).map(i => ("x", i.toLong * h, 1.0))
        .toDF("user", "ts", "value").withColumn("metric", lit("m")),
      "metric", Seq("user"), "ts", "value")
    val db = java.nio.file.Files.createTempDirectory("graft_exp_own").toString
    TsdbLayout.writeDatabase(ctx.copy(
      rollups = Seq(h -> graft.engine.Rollup.build(ctx.samples, h))), db)
    // an upsert's pending pair on a SURVIVING day (day 3)
    val late = ctx.samples.where(col("ts") === 80 * h)
      .select(col("series_id"), col("ts"),
        (col("value") + lit(5.0)).as("value"))
    assert(TsdbLayout.upsertSamples(spark, s"$db/samples", late,
      ctx.series) === 1)
    assert(TsdbLayout.indexDirtyPairs(spark, db) === Seq(("m", 3L)))
    // retention drops days 0-1; the hourly rollup divides a day, so
    // the heal is a clean partition drop → expire's pairs clear...
    assert(TsdbLayout.expire(spark, s"$db/samples", 48 * h) === 2)
    assert(TsdbLayout.indexDirtyPairs(spark, db) === Seq(("m", 3L)),
      "...but the upsert's pending pair is not expire's to clear")
  }

  test("the partition-dropping heal is gated on the samples layout NAME: a custom-named layout records instead") {
    // running IndexCatalog.expireBins with another layout's cutoff
    // would delete samples-derived index __day partitions for days the
    // samples facts still hold — so any root that is not the canonical
    // samples layout takes the record-only path, and the standing
    // staleness loop (rebuildScoped over the REAL samples facts) is
    // the heal
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val h = 3600L * 1000000000L
    val ctx = graft.model.TsdbContext.fromWide(spark,
      (0 until 96).map(i => ("x", i.toLong * h, 1.0))
        .toDF("user", "ts", "value").withColumn("metric", lit("m")),
      "metric", Seq("user"), "ts", "value")
    val db = java.nio.file.Files.createTempDirectory("graft_exp_name").toString
    TsdbLayout.writeDatabase(ctx.copy(
      rollups = Seq(h -> graft.engine.Rollup.build(ctx.samples, h))), db)
    // a bespoke layout under a NON-standard name beside the catalog —
    // e.g. an events log an operator stored as "archive"
    TsdbLayout.writeSamples(ctx, s"$db/archive")
    assert(TsdbLayout.expire(spark, s"$db/archive", 48 * h) === 2)
    val rollDir = java.nio.file.Paths.get(db, "indexes", "idx_0_rollup")
    val ls = java.nio.file.Files.list(rollDir)
    val days =
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("__day=")).toSet
      finally ls.close()
    assert(days === Set("__day=0", "__day=1", "__day=2", "__day=3"),
      "the custom-named expire must NOT drop samples-derived index " +
        "partitions — the samples facts still hold those days")
    assert(TsdbLayout.indexDirtyPairs(spark, db).toSet ===
      Set(("m", 0L), ("m", 1L)),
      "it records instead — the staleness alert drives the heal")
    // the recorded heal is a no-op re-derivation over the INTACT
    // samples facts: index-served answers unchanged
    assert(graft.model.IndexCatalog.rebuildScoped(spark, db) === 1)
    assert(TsdbLayout.indexDirtyPairs(spark, db).isEmpty)
    val stmt = s"""{"group-aggregate": {"metric": "m", "step": "1h",
                     "func": "max"}, "range": {"from": 0, "to": ${96 * h}}}"""
    assert(new Engine(TsdbLayout.openDatabase(spark, db)).execute(stmt)
        .count() === 96L)
  }

  test("healthCheck: one merged frame, all-clean first, then each alert fires") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val h = 3600L * 1000000000L
    def ctxOf(rows: Seq[(String, Long, Double)]) =
      graft.model.TsdbContext.fromWide(spark,
        rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
        "metric", Seq("user"), "ts", "value")
    val ctx = ctxOf((0 until 48).map(i => ("x", i.toLong * h, 1.0)))
    val db = java.nio.file.Files.createTempDirectory("graft_health").toString
    TsdbLayout.writeDatabase(ctx.copy(
      rollups = Seq(h -> graft.engine.Rollup.build(ctx.samples, h))), db)
    def hc(now: Option[Long] = Some(48 * h), lag: Long = 3 * h) =
      TsdbLayout.healthCheck(spark, db, now, maxIndexLagNs = lag)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq
    assert(hc() === Seq(
      ("catalog_unfolded", "ok", 0L), ("events_stragglers", "ok", 0L),
      ("index_lagging", "ok", 0L), ("index_stale", "ok", 0L),
      ("samples_stragglers", "ok", 0L)),
      "an all-clean database reads all-ok")
    // without a clock the lag readout is absent, not a fake ok
    assert(hc(now = None).map(_._1) === Seq("catalog_unfolded",
      "events_stragglers", "index_stale", "samples_stragglers"))

    // index_stale: an upsert-touched partition pending rebuild
    val late = ctx.samples.where(col("ts") === 10 * h)
      .select(col("series_id"), col("ts"), (col("value") + lit(1.0)).as("value"))
    TsdbLayout.upsertSamples(spark, s"$db/samples", late, ctx.series)
    assert(hc().contains(("index_stale", "alert", 1L)))
    assert(graft.model.IndexCatalog.rebuildScoped(spark, db) === 1)
    assert(hc().contains(("index_stale", "ok", 0L)))

    // index_lagging: an adopted maintainer whose last committed bin
    // trails now by more than the allowance — the OWNED rollup (also
    // "behind" in wall-clock terms) must NOT count: owned staleness is
    // index_stale's job, a snapshot has no maintainer to stall
    val sink = s"$db/rollup_sink"
    graft.engine.Rollup.build(
      ctx.samples.where(col("ts") < 24 * h), h).write.parquet(sink)
    graft.model.IndexCatalog.adopt(s"$db/indexes", "rollup", sink,
      windowNs = Some(h))
    assert(hc().contains(("index_lagging", "alert", 1L)))
    assert(hc(lag = 40 * h).contains(("index_lagging", "ok", 0L)),
      "a generous allowance reads the same maintainer as healthy")

    // catalog_unfolded: a stream registration whose only copy lives in
    // the catalog ingest root
    ctx.series.withColumn("series_id", col("series_id") + lit(1L))
      .write.parquet(s"$db/catalog_l0")
    assert(hc().contains(("catalog_unfolded", "alert", 1L)))

    // samples_stragglers: a pre-watermark tier overlap (the double-read
    // hazard l0Stragglers reports before the first compaction)
    TsdbLayout.readSamples(spark, s"$db/samples")
      .where(col("ts_day") === 0).limit(3)
      .select(col("series_id"), col("ts"), col("value"), col("metric"),
        col("ts_day").cast("long").as("ts_day"))
      .write.parquet(s"$db/samples_l0")
    val finalRead = hc()
    assert(finalRead.exists(r => r._1 == "samples_stragglers" &&
      r._2 == "alert" && r._3 >= 1L))
    assert(finalRead.count(_._2 == "alert") === 3,
      s"exactly the three induced alerts fire: $finalRead")
  }
}
