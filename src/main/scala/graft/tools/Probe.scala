package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.{ScopedCache, SparkEntry}
import graft.entries.EntryUtil
import graft.model.{IndexCatalog, TsdbContext, TsdbLayout}
import graft.pipeline.{CorpusStore, Dedup, EmbeddingStore, Similarity}

/** The dev probes behind one `main` (dev tooling; the driver contract
  * is `graft.Bench`). The first argument names the probe, the rest are
  * its positional arguments:
  *
  * {{{
  * runMain graft.tools.Probe entries    <sfDir> [--plans <outDir> <suffix>] [--jobs] [--collect] <name> ...
  * runMain graft.tools.Probe replica    <srcDir> <destDir> <copies> [documents|events|all]
  * runMain graft.tools.Probe l0day      <sfDir> [--events] <days> ...
  * runMain graft.tools.Probe rebuild    <sfDir> <days> ...
  * runMain graft.tools.Probe corpus     <sfDir> <G> ...
  * runMain graft.tools.Probe emb        <sfDir> <G> ...
  * runMain graft.tools.Probe interleave <sfDir> [N] [C]
  * runMain graft.tools.Probe storefiles <sfDir>
  * runMain graft.tools.Probe drift      <sfDir>
  * runMain graft.tools.Probe qserve     <sfDir> [reps]
  * }}}
  *
  * The session runs on `local[SPARK_GRAFT_CPUS]` (default 32). Probes
  * that build databases or stores write them under
  * [[EntryUtil.scratchDir]] directories, removed at JVM exit; the
  * source testdata is only read. */
object Probe {

  private val DayNs = graft.time.TimeUtil.NsPerDay
  private val HourNs = 3600000000000L

  def main(args: Array[String]): Unit = {
    val a = args.drop(1).toSeq
    def ints(xs: Seq[String]): Seq[Int] = {
      val ns = xs.map(_.toInt)
      require(ns.nonEmpty, s"${args(0)}: give at least one count")
      ns
    }
    val run: SparkSession => Unit = args.headOption.getOrElse("") match {
      case "entries" =>
        val at = a.indexOf("--plans")
        val plans =
          if (at < 0) None else Some((a(at + 1), a(at + 2)))
        val rest = (if (at < 0) a else a.patch(at, Nil, 3))
          .filterNot(Set("--jobs", "--collect"))
        entries(_, rest.head, rest.tail, plans, jobLines = a.contains("--jobs"),
          collect = a.contains("--collect"))
      case "replica" =>
        replica(_, a(0), a(1), a(2).toInt, a.lift(3).getOrElse("documents"))
      case "l0day" =>
        l0day(_, a.head, a.contains("--events"),
          ints(a.tail.filterNot(_.startsWith("--"))))
      case "rebuild" => rebuild(_, a.head, ints(a.tail))
      case "corpus" => corpus(_, a.head, ints(a.tail))
      case "emb" => emb(_, a.head, ints(a.tail))
      case "interleave" =>
        interleave(_, a.head, a.lift(1).map(_.toInt).getOrElse(40),
          a.lift(2).map(_.toInt).getOrElse(8))
      case "storefiles" => storefiles(_, a.head)
      case "drift" => drift(_, a.head)
      case "qserve" => qserve(_, a.head, a.lift(1).map(_.toInt).getOrElse(3))
      case other => throw new IllegalArgumentException(
        s"unknown probe '$other': entries | replica | l0day | rebuild | " +
          "corpus | emb | interleave | storefiles | drift | qserve")
    }
    val spark = TsdbContext.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark) finally spark.stop()
  }

  /** Run `body` and return its result with its wall time in seconds. */
  def wall[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One entry's run: wall seconds of build + action, its row count,
    * and the Spark jobs, stages, tasks and shuffle bytes it ran. */
  final case class EntryRun(name: String, seconds: Double, rows: Long,
      jobs: Long, stages: Long, tasks: Long, shuffleWrite: Long,
      shuffleRead: Long)

  /** Run named [[SparkEntry.queries]] the way `graft.Bench` times one:
    * build the frame, count it, then release the scoped caches. Prints
    * one `ENTRY` line per run with its wall time, rows and execution
    * counters. The counters (jobs, stages, tasks, shuffle bytes) are
    * noise-free, so they show an execution-shape change that a
    * host-phase drift in wall time would hide. Listener events arrive
    * asynchronously: the bus is drained before and after each run,
    * outside the timed window, so each run's counters hold exactly its
    * own jobs. A name given twice runs twice; the second run is warm.
    *
    * `plans = Some((outDir, suffix))` also writes each entry's
    * `explain("formatted")` text to `<outDir>/<name>_<suffix>.txt`,
    * the before/after plan evidence kept under `plans/`. The plan is
    * taken between build and action, outside the timed window.
    *
    * `jobLines = true` is the job census: before its `ENTRY` line each
    * run also prints one [[jobLine]] per job it submitted, so a job
    * floor is read off by call site instead of guessed.
    *
    * `collect = true` times `collect()` instead of `count()`: the shape
    * a caller that reads the answer pays. Under `count()` Catalyst drops
    * the answer's final sort and unused projections, so only this shape
    * shows what ordering the rows costs. */
  def entries(spark: SparkSession, sfDir: String, names: Seq[String],
      plans: Option[(String, String)] = None,
      jobLines: Boolean = false, collect: Boolean = false): Seq[EntryRun] = {
    val jobs, stages, tasks, sw, sr = new AtomicLong
    val started =
      new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val sqlDetails = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobLines) started.add(e)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if jobLines =>
          sqlDetails.put(s.executionId, s.details)
        case _ =>
      }
      override def onStageCompleted(e: SparkListenerStageCompleted)
          : Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks.toLong)
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          sr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
    def drain(): Unit = org.apache.spark.sql.graftbridge.Bridge
      .drainListenerBus(spark.sparkContext)
    plans.foreach(p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p._1)))
    spark.sparkContext.addSparkListener(listener)
    try names.map { name =>
      val fn = SparkEntry.queries(name)
      drain()
      Seq(jobs, stages, tasks, sw, sr).foreach(_.set(0))
      started.clear(); sqlDetails.clear()
      val (n, seconds) = try {
        val (df, tBuild) = wall(fn(spark, sfDir))
        plans.foreach { case (outDir, suffix) =>
          val file = s"$outDir/${name}_$suffix.txt"
          java.nio.file.Files.writeString(java.nio.file.Paths.get(file),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          println(s"PLANDUMP wrote $file")
        }
        val (n, tAct) =
          wall(if (collect) df.collect().length.toLong else df.count())
        (n, tBuild + tAct)
      } finally ScopedCache.release()
      drain()
      val r = EntryRun(name, seconds, n, jobs.get, stages.get, tasks.get,
        sw.get, sr.get)
      started.toArray(Array.empty[SparkListenerJobStart]).sortBy(_.jobId)
        .foreach(e => println(jobLine(name, e,
          id => Option(sqlDetails.get(id)))))
      println(f"ENTRY $name%-28s jobs=${r.jobs}%4d " +
        f"stages=${r.stages}%4d tasks=${r.tasks}%6d " +
        f"shufW=${r.shuffleWrite}%10d shufR=${r.shuffleRead}%10d " +
        f"${r.seconds}%7.2f s (${r.rows} rows)")
      r
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** One job of the census: `JOB <entry> id=<job id> <result-stage
    * name> <first graft.* frame>`. The result stage is the job's last
    * (highest-id) stage; its `details` is the submitting call stack,
    * whose first `graft.` frame names the program line that caused the
    * job. A job that adaptive execution submits from its own thread
    * (a broadcast, a query stage) carries no program frame; it is
    * charged to the call stack of the SQL execution it belongs to,
    * looked up by id in `sqlDetails` ("-" when neither holds one). */
  def jobLine(entry: String, e: SparkListenerJobStart,
      sqlDetails: Long => Option[String]): String = {
    val result = e.stageInfos.maxBy(_.stageId)
    def graftFrame(stack: String) =
      stack.linesIterator.map(_.trim).find(_.startsWith("graft."))
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlDetails(id.toLong))
    val frame = graftFrame(result.details)
      .orElse(execution.flatMap(graftFrame)).getOrElse("-")
    s"JOB $entry id=${e.jobId} ${result.name} $frame"
  }

  /** Write a `copies`× replica of testdata tables to `dest`, the
    * scale-slope probes' input.
    *
    * `documents`: replica k shifts doc_ids by k·10⁹ and suffixes every
    * TOKEN with a replica marker. Per-replica token structure (token
    * counts, shingle statistics, duplicate clusters) equals the
    * source's, while vocabularies are disjoint ACROSS replicas: no
    * cross-replica near-dup pairs, so a pair-producing operator's true
    * work scales ×N, not ×N² (ten literal copies would near-dup-match
    * each other, a workload no real 10× corpus has). Character lengths
    * inflate ~3 chars/token, a conservative bias for character-level
    * ops.
    *
    * `events`: replica k shifts user_id (and event_id) by k·10⁹ and
    * keeps the time axis, so the TSDB model sees N× the SERIES over
    * the same range: the direction a fleet grows (more emitters, not a
    * longer history) and the one that stresses catalog joins,
    * per-series windows and group-aggregate shuffles. Per-series
    * answers at N× equal the 1× answers; only volume changes. */
  def replica(spark: SparkSession, src: String, dest: String, copies: Int,
      tables: String): Unit = {
    require(copies >= 1, "need at least one copy")
    require(Set("documents", "events", "all")(tables),
      s"tables must be documents|events|all (got $tables)")
    def write(table: String, shifted: (DataFrame, Int) => DataFrame)
        : Unit = {
      val t = spark.read.parquet(s"$src/$table.parquet")
      (0 until copies).map(k => if (k == 0) t else shifted(t, k))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$dest/$table.parquet")
      println(s"SCALEREPLICA wrote ${copies}x $table to $dest")
    }
    if (tables == "documents" || tables == "all")
      write("documents", (docs, k) => docs
        .select(
          (col("doc_id") + lit(k.toLong * 1000000000L)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"_r$k"))), " ").as("text"),
          col("lang"), col("source"))
        // the suffixes change character counts: n_chars follows the
        // NEW text, or it would disagree with length(text)
        .withColumn("n_chars", length(col("text"))))
    if (tables == "events" || tables == "all")
      write("events", (ev, k) => ev
        .withColumn("event_id", col("event_id") + lit(k.toLong * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(k.toLong * 1000000000L)))
  }

  /** One January of a fact half's keyed rows `(series_id, ts, payload,
    * metric)`, rebased so day numbering starts at 0, cached; and its
    * rows per day. The day-axis probes extend it with 30-day shifts. */
  private def january(ctx: TsdbContext, events: Boolean)
      : (DataFrame, Long) = {
    val facts = if (events) ctx.events else ctx.samples
    val base = facts
      .join(ctx.series.select(col("series_id"), col("metric")), "series_id")
      .select(col("series_id"), (col("ts") - lit(EntryUtil.FromNs)).as("ts"),
        col(if (events) "body" else "value"), col("metric"))
      .where(col("ts") >= 0 && col("ts") < 30 * DayNs)
      .cache()
    (base, base.count() / 30)
  }

  /** `base` repeated in 30-day shifts, cut to `days` days. */
  private def extendDays(base: DataFrame, days: Int): DataFrame =
    (0 until (days + 29) / 30).map { k =>
      base.withColumn("ts", col("ts") + lit(k.toLong * 30 * DayNs))
    }.reduce(_ unionByName _)
      .where(col("ts") < days.toLong * DayNs)

  /** The L0/compaction lifecycle's scaling in DAYS HELD, the axis the
    * series replica does not grow: compactL0's claimed-day list, its
    * per-day recovery check, l0Stragglers' day-pruned anti-join and
    * the two-tier union read all carry per-day driver lists and
    * (metric, day) predicate disjuncts.
    *
    * Per day count D: a fresh database whose batch tier owns day 0 and
    * whose L0 tier holds days 1..D-1, delivered through a REAL ingest
    * stream (rows per day constant across D). Walls: compact half the
    * days, poll l0Stragglers over the residue, compact the rest, and
    * one ranged select straddling the tier boundary. `events` probes
    * the log half (eventsIngest, select-events): its wide `props` body
    * rides through every rewrite, so both halves are measured. One
    * PROBE line per D. */
  def l0day(spark: SparkSession, sfDir: String, events: Boolean,
      dayCounts: Seq[Int]): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sEnc: org.apache.spark.sql.Encoder[(Long, Long, Double, String)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Double, String)]
    implicit val eEnc: org.apache.spark.sql.Encoder[(Long, Long, String, String)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, String, String)]
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def feed[T](in: MemoryStream[T], q: org.apache.spark.sql.streaming
        .StreamingQuery, rows: Seq[T]): Double = wall {
      try rows.grouped(math.max(1, rows.length / 5 + 1)).foreach { c =>
        in.addData(c); q.processAllAvailable()
      } finally q.stop()
    }._2

    val ctx = TsdbContext.fromTestdata(spark, sfDir)
    val half = if (events) "events" else "samples"
    val payload = if (events) "body" else "value"
    val (base, perDay) = january(ctx, events)

    for (days <- dayCounts) {
      val extended = extendDays(base, days)
      val db = EntryUtil.scratchDir(s"graft_l0probe_${half}_$days")
      // batch tier owns day 0; L0 gets days 1..D-1 through a real sink
      val day0 = extended.where(col("ts") < DayNs)
        .select("series_id", "ts", payload)
      TsdbLayout.writeDatabase(
        if (events) ctx.copy(events = day0,
          samples = ctx.samples.where(col("ts") < EntryUtil.FromNs + DayNs))
        else ctx.copy(samples = day0), db)
      val liveRows = extended.where(col("ts") >= DayNs)
        .orderBy("ts", "series_id").collect()
      val tIngest =
        if (events) {
          val in = MemoryStream[(Long, Long, String, String)]
          feed(in, graft.streaming.TsdbStream.eventsIngest(
            in.toDF().toDF("series_id", "ts", "body", "metric"),
            s"$db/events_l0", s"$db/ev_ingest_ckpt"),
            liveRows.map(r => (r.getLong(0), r.getLong(1), r.getString(2),
              r.getString(3))).toSeq)
        } else {
          val in = MemoryStream[(Long, Long, Double, String)]
          feed(in, graft.streaming.TsdbStream.layoutIngest(
            in.toDF().toDF("series_id", "ts", "value", "metric"),
            s"$db/samples_l0", s"$db/ingest_ckpt"),
            liveRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
              r.getString(3))).toSeq)
        }
      val tier = if (events) TsdbLayout.Tier.Events else TsdbLayout.Tier.Samples
      def compact(cutDays: Long) =
        TsdbLayout.compactL0(spark, db, cutDays * DayNs, tier)
      val (moved1, tHalf) = wall(compact(days / 2))
      // the standing alert over the compacted residue: every below-
      // watermark L0 row anti-joins against its day's batch slice
      val (strag, tStrag) = wall(
        TsdbLayout.l0Stragglers(spark, db, tier).count())
      val (moved2, tRest) = wall(compact(days))
      val stmt =
        if (events)
          s"""{"select-events": "!log",
               "range": {"from": 0, "to": ${days.toLong * DayNs}}}"""
        else s"""{"select": "purchase",
                  "range": {"from": 0, "to": ${days.toLong * DayNs}}}"""
      val (served, tOpen) = wall {
        new graft.engine.Engine(TsdbLayout.openDatabase(spark, db))
          .execute(stmt).count()
      }
      println(f"PROBE half=$half%s days=$days%d " +
        f"rows=${liveRows.length + perDay}%d " +
        f"ingest=$tIngest%.2f compact_half=$tHalf%.2f (moved=$moved1) " +
        f"stragglers=$tStrag%.2f (n=$strag) compact_rest=$tRest%.2f " +
        f"(moved=$moved2) open_select=$tOpen%.2f (rows=$served)")
    }
  }

  /** A ONE-DAY correction's scoped index rebuild
    * ([[IndexCatalog.rebuildScoped]]) costs the touched day, while the
    * full rebuild re-derives all of history: as the span D grows with
    * the correction fixed, scoped wall time should stay ~flat and full
    * should grow ~linearly.
    *
    * Per day count D: a database of D days (January in 30-day shifts,
    * rows/day constant) with an owned hourly rollup; a one-day
    * correction through [[TsdbLayout.upsertSamples]], which records the
    * touched partitions; wall `rebuildScoped`; re-dirty the same day;
    * wall the full `rebuild`. One PROBE line per D. */
  def rebuild(spark: SparkSession, sfDir: String, dayCounts: Seq[Int])
      : Unit = {
    val ctx = TsdbContext.fromTestdata(spark, sfDir)
    val (keyed, perDay) = january(ctx, events = false)
    val base = keyed.drop("metric")
    for (days <- dayCounts) {
      val extended = extendDays(base, days).localCheckpoint()
      val db = EntryUtil.scratchDir(s"graft_rbprobe_$days")
      TsdbLayout.writeDatabase(ctx.copy(samples = extended,
        rollups = Seq(HourNs -> graft.engine.Rollup.build(extended, HourNs))),
        db)
      // the fixed-size correction: one metric, one mid-span day, +1000
      val d0 = (days / 2).toLong * DayNs
      val late = extended
        .join(ctx.series.where(col("metric") === "purchase")
          .select("series_id"), "series_id")
        .where(col("ts") >= d0 && col("ts") < d0 + DayNs)
        .select(col("series_id"), col("ts"),
          (col("value") + 1000.0).as("value"))
      val (touched, tUpsert) = wall(TsdbLayout.upsertSamples(
        spark, s"$db/samples", late, ctx.series))
      val (_, tScoped) = wall(IndexCatalog.rebuildScoped(spark, db))
      // re-dirty the SAME day so the full form rebuilds the same state
      TsdbLayout.upsertSamples(spark, s"$db/samples",
        late.withColumn("value", col("value") + 1.0), ctx.series)
      val (_, tFull) = wall(IndexCatalog.rebuild(spark, db))
      println(f"PROBE days=$days%d rows/day=$perDay%d touched=$touched%d " +
        f"upsert=$tUpsert%.2f scoped_rebuild=$tScoped%.2f " +
        f"full_rebuild=$tFull%.2f full/scoped=${tFull / tScoped}%.1fx")
    }
  }

  /** The corpus-index lifecycle's scale contract
    * ([[CorpusStore]]): accepting a batch costs the BATCH (its two
    * in-row index projections), never the corpus. As the corpus grows
    * by factor G with the batch fixed, accept wall time should stay
    * ~flat while a full index rewrite ([[Dedup.writeCorpusIndex]])
    * grows ~linearly; the probe ([[CorpusStore.probeBatch]]) reads the
    * same index rows either way.
    *
    * Per G: a store over G replicas of the documents (ids offset, text
    * salted per replica so replicas are not exact dups), then walls of
    * `acceptBatch` of one fixed batch, `probeBatch` of another, and
    * the full rewrite over the same corpus. One PROBE line per G. */
  def corpus(spark: SparkSession, sfDir: String, factors: Seq[Int]): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    def replicas(g: Int): DataFrame =
      (0 until g).map { r =>
        docs.select((col("doc_id") + lit(r * n * 10L)).as("doc_id"),
          concat(col("text"), lit(s" replica_salt_$r")).as("text"))
      }.reduce(_ unionByName _)
    // the FIXED batch: fresh ids far outside every replica's range
    def freshBatch(tag: String): DataFrame = docs.limit(200)
      .select((col("doc_id") + lit(900000000L)).as("doc_id"),
        concat(col("text"), lit(s" $tag")).as("text"))

    factors.foreach { g =>
      val corpus = replicas(g).localCheckpoint()
      val dir = EntryUtil.scratchDir(s"graft_cprobe_$g")
      val (_, tCreate) = wall {
        CorpusStore.create(spark, dir, corpus, "doc_id", "text")
      }
      val (_, tAccept) = wall {
        CorpusStore.acceptBatch(spark, dir, freshBatch("accept"))
      }
      val (_, tProbe) = wall {
        CorpusStore.probeBatch(spark, dir, freshBatch("probe")).count()
      }
      // contrast: the full rewrite the lifecycle append saves
      val full = EntryUtil.scratchDir(s"graft_cprobe_full_$g")
      val (_, tRewrite) = wall {
        Dedup.writeCorpusIndex(corpus.unionByName(freshBatch("accept")),
          full, "doc_id", "text")
      }
      println(f"PROBE g=$g%d corpus_rows=${g * n}%d " +
        f"create=$tCreate%.2fs accept=$tAccept%.2fs " +
        f"probe=$tProbe%.2fs full_rewrite=$tRewrite%.2fs")
    }
  }

  /** The persisted embedding index's scale contract
    * ([[EmbeddingStore]]): a kNN query against the store costs the
    * probed partitions (~nprobe/nlist of the index), never the corpus.
    * As the corpus grows by factor G with the queries fixed,
    * [[EmbeddingStore.knn]] should stay ~flat while the per-statement
    * recompute ([[Similarity.knnIvfWith]]: full corpus assignment plus
    * a corpus-sized row_number shuffle per query) grows ~linearly.
    * Accepts stay batch-sized at any G.
    *
    * Per G: a store over G replicas of the embeddings (ids offset, one
    * component nudged per replica), then walls of the index build, the
    * store-served query, the recompute, one accept, the Lloyd fit
    * alone and the full recall-gated refit. One PROBE line per G. */
  def emb(spark: SparkSession, sfDir: String, factors: Seq[Int]): Unit = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val n = emb.count()
    def replicas(g: Int): DataFrame =
      (0 until g).map { r =>
        emb.select((col("id") + lit(r * n * 10L)).as("id"),
          transform(col("embedding"),
            x => x + lit(r.toFloat * 0.001f)).as("embedding"))
      }.reduce(_ unionByName _)
    val queries = emb.where(col("id") < 32)
      .select(col("id").as("qid"), col("embedding")).localCheckpoint()
    def freshBatch(tag: Long): DataFrame = emb.limit(500)
      .select((col("id") + lit(800000000L + tag)).as("id"), col("embedding"))

    factors.foreach { g =>
      val corpus = replicas(g).localCheckpoint()
      val dir = EntryUtil.scratchDir(s"graft_eprobe_$g")
      val (_, tCreate) = wall {
        EmbeddingStore.create(spark, dir, corpus, nlist = 16, iters = 2)
      }
      // warm both query paths' codebook reads out of the measurement
      val centers = EmbeddingStore.readCenters(spark, dir)
      val (_, tServe) = wall {
        EmbeddingStore.knn(spark, dir, queries, k = 10, nprobe = 2).count()
      }
      val (_, tRecompute) = wall {
        Similarity.knnIvfWith(centers, corpus, queries, k = 10,
          nprobe = 2).count()
      }
      val (_, tAccept) = wall {
        EmbeddingStore.acceptBatch(spark, dir, freshBatch(g))
      }
      val (_, tFit) = wall {
        Similarity.fitCodebook(corpus, nlist = 16, iters = 2)
      }
      val (_, tGate) = wall {
        Similarity.refitCodebook(spark, s"$dir/cells_e0/codebook",
          corpus, queries, k = 10, nlist = 16, nprobe = 2, iters = 2,
          writeTo = Some(s"$dir/refit_probe")).count()
      }
      ScopedCache.release()
      println(f"PROBE g=$g%d corpus_rows=${g * n}%d " +
        f"create=$tCreate%.2fs serve_knn=$tServe%.2fs " +
        f"recompute_knn=$tRecompute%.2fs accept=$tAccept%.2fs " +
        f"fit=$tFit%.2fs refit_gate=$tGate%.2fs")
    }
  }

  /** Tiered compaction UNDER interleaved stream accepts: each accept
    * adds one `__batch` partition, and a cron staging
    * [[CorpusStore.stageCompaction]] (tiered, maxBytes) every C accepts
    * must keep the batch count BOUNDED (~C + consolidated tiers),
    * where the no-compaction run grows linearly and its probe pays the
    * accumulated listing/footer cost. Answers are identical by
    * contract (spec-pinned); this measures counts and probe time.
    *
    * Per scenario: N accepts of 200 docs through
    * [[CorpusStore.acceptStreamBatch]] (the stream trigger body, whose
    * heal applies a staged compaction first), then one probe. One
    * PROBE line for both scenarios. */
  def interleave(spark: SparkSession, sfDir: String, n: Int, every: Int)
      : Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val base = docs.count()
    def batch(i: Int): DataFrame = docs.limit(200)
      .select((col("doc_id") + lit(900000L + i * 10000L)).as("doc_id"),
        concat(col("text"), lit(s" accept_$i")).as("text"))
    def batchCount(dir: String): Int = {
      val ls = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, CorpusStore.DocsSub))
      try {
        import scala.jdk.CollectionConverters._
        // partition dirs only: the root also holds _SUCCESS
        ls.iterator().asScala.count(
          _.getFileName.toString.startsWith(s"${CorpusStore.BatchCol}="))
      } finally ls.close()
    }
    def run(compact: Boolean): (Int, Double, Double) = {
      val dir = EntryUtil.scratchDir(s"graft_iprobe_$compact")
      CorpusStore.create(spark, dir, docs, "doc_id", "text")
      val (_, tAccepts) = wall {
        (0 until n).foreach { i =>
          if (compact && i > 0 && i % every == 0)
            // tiered: only small (accept-sized) batches merge; earlier
            // consolidations are never rewritten
            CorpusStore.stageCompaction(spark, dir,
              maxBytes = Some(64L * 1024 * 1024))
          CorpusStore.acceptStreamBatch(spark, dir, batch(i), i.toLong,
            "probe")
        }
      }
      val probeBatch = docs.limit(200)
        .select((col("doc_id") + lit(990000000L)).as("doc_id"),
          concat(col("text"), lit(" probe")).as("text"))
      val (_, tProbe) = wall {
        CorpusStore.probeBatch(spark, dir, probeBatch).count()
      }
      (batchCount(dir), tAccepts, tProbe)
    }
    val (bPlain, taPlain, tpPlain) = run(compact = false)
    val (bComp, taComp, tpComp) = run(compact = true)
    println(f"PROBE n=$n%d every=$every%d base_rows=$base%d | " +
      f"no-compaction: batches=$bPlain%d accepts=$taPlain%.1fs " +
      f"probe=$tpPlain%.2fs | interleaved-tiered: batches=$bComp%d " +
      f"accepts=$taComp%.1fs probe=$tpComp%.2fs")
  }

  /** Count the parquet data files a lifecycle-store construction
    * leaves behind, the small-file evidence for write sizing: build a
    * CorpusStore (create + accept + takedown) and an EmbeddingStore
    * (create + accept) over the testdata, then print one FILEPROBE line
    * per store sub-directory with its file count and byte size. */
  def storefiles(spark: SparkSession, dir: String): Unit = {
    val root = EntryUtil.scratchDir("graft_fileprobe")
    val docs = EntryUtil.repartitioned(spark, dir, "documents")
    val cs = s"$root/corpus"
    CorpusStore.create(spark, cs,
      docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 =!= 3),
      "doc_id", "text", k = 3, numPerm = 32, bands = 8)
    CorpusStore.acceptBatch(spark, cs,
      docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 3))
    val extras = docs.where(col("doc_id") % 35 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    if (extras.nonEmpty) CorpusStore.removeDocuments(spark, cs, extras.take(20))

    val emb = EntryUtil.repartitioned(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val es = s"$root/emb"
    EmbeddingStore.create(spark, es, emb.where(col("id") % 4 =!= 0),
      nlist = 8, iters = 2)
    EmbeddingStore.acceptBatch(spark, es, emb.where(col("id") % 4 === 0))

    Seq("corpus/docs", "corpus/indexes/hashes", "corpus/indexes/bands",
        "corpus/takedowns", "emb/cells_e0/data", "emb/cells_e0/stats")
      .foreach { sub =>
        val p = java.nio.file.Paths.get(root, sub)
        if (java.nio.file.Files.exists(p)) {
          val st = java.nio.file.Files.walk(p)
          try {
            import scala.jdk.CollectionConverters._
            val files = st.iterator().asScala
              .filter(java.nio.file.Files.isRegularFile(_)).toSeq
            val data = files.filter(_.getFileName.toString.startsWith("part-"))
            println(f"FILEPROBE $sub%-28s data_files=${data.size}%5d " +
              f"all_files=${files.size}%5d bytes=${data.map(
                java.nio.file.Files.size).sum}%9d")
          } finally st.close()
        }
      }
  }

  /** Decompose `emb_drift_tick`'s cost: on a fresh copy of its fixture
    * database, time the tick's components one by one (health, the
    * TSDB steps, heal, drift reading, drift queries, refit, health
    * again). The entry as a whole is timed by [[entries]]. One
    * DRIFTPROF line per component. */
  def drift(spark: SparkSession, sfDir: String): Unit = {
    def t[A](what: String)(body: => A): A = {
      val (r, s) = wall(body)
      println(f"DRIFTPROF $what%-22s $s%7.2f s")
      r
    }
    println("DRIFTPROF -- component pass")
    val db = t("copy") {
      val dbDir = EntryUtil.scratchDir("graft_driftprof") + "/db"
      val src = graft.entries.Round14Entries.driftTemplateFor(spark, sfDir)
      val conf = spark.sparkContext.hadoopConfiguration
      val sp = new org.apache.hadoop.fs.Path(src)
      val dp = new org.apache.hadoop.fs.Path(dbDir)
      org.apache.hadoop.fs.FileUtil.copy(sp.getFileSystem(conf), sp,
        dp.getFileSystem(conf), dp, false, conf)
      dbDir
    }
    val embDir = s"$db/${TsdbLayout.EmbSub}"
    t("p1-health")(EmbeddingStore.health(spark, embDir))
    t("tick-compact+fold") {
      // the TSDB steps the tick runs besides the embedding maintain
      TsdbLayout.maintenanceTick(spark, db, 0L, healIndexes = false)
        .collect()
    }
    t("emb-heal")(EmbeddingStore.heal(spark, embDir))
    t("drift-read")(EmbeddingStore.driftedCells(spark, embDir))
    val q = t("drift-queries") {
      EmbeddingStore.driftQueries(spark, embDir, 32).localCheckpoint()
    }
    t("refit")(EmbeddingStore.refit(spark, embDir, q, 10, 2)
      .agg(max(col("healed"))).head())
    t("p3-health")(EmbeddingStore.health(spark, embDir))
  }

  /** Break `stream_quantile_serve`'s wall time into fixture prep (the
    * driver feed rows), the real Structured-Streaming fixture
    * (histBuild micro-batches, counted by a listener) and the SERVED
    * statement, twice over the same sink to split one-time plan and
    * codegen cost from steady execution. The question is whether the
    * cost is the trigger cadence (3 chunks should be ~4 data batches)
    * or the served plan (an index merge with no fact scan). One
    * PROFILE line per repetition. */
  def qserve(spark: SparkSession, dir: String, reps: Int): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val batches = new AtomicLong(0L)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.incrementAndGet()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    implicit val enc: org.apache.spark.sql.Encoder[(Long, Long, Double)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Double)]
    try for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val ids = ctx.series.where(col("metric") === "purchase")
        .select("series_id").collect().map(_.getLong(0))
      val rows = ctx.samples
        .where(col("series_id").isin(ids.toSeq: _*))
        .orderBy("ts", "series_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      val t1 = System.nanoTime()
      val b0 = batches.get()
      val sink = EntryUtil.runStreamEntry(spark,
        "qprof_sink", rows, chunks = 3, cols = Seq("name", "ts", "value"),
        mkStream = graft.streaming.TsdbStream.histBuild(_, HourNs,
          "10 minutes"),
        sentinel = Some((ids.head, EntryUtil.ToNs + DayNs, 0.0)))
      // the harness returns lazily: force the sink read
      sink.count()
      val t2 = System.nanoTime()
      val nb = batches.get() - b0
      def serve(): Unit =
        new graft.engine.Engine(ctx.copy(histograms =
            Seq(HourNs -> sink.select(col("name").as("series_id"),
              col("win"), col("lo"), col("cnt")))))
          .execute(s"""{"quantile": {"metric": "purchase",
               "p": ["0.5", "0.99"]},
               "range": {"from": "${EntryUtil.FromIso}",
                         "to": "${EntryUtil.ToIso}"}}""")
          .collect()
      val (_, tServe) = wall(serve())
      val (_, tServe2) = wall(serve())
      println(f"PROFILE run=$i rows=${rows.size}%d " +
        f"prep=${(t1 - t0) / 1e9}%.2fs " +
        f"feed=${(t2 - t1) / 1e9}%.2fs (micro_batches=$nb%d) " +
        f"serve=$tServe%.2fs serve2=$tServe2%.2fs")
    } finally spark.streams.removeListener(listener)
  }
}
