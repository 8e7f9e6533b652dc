package graft.entries

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.model.TsdbContext

/** Shared plumbing for the driver-contract query entries.
  *
  * Cross-engine (Spark vs DuckDB oracle) hash-parity conventions:
  *   - timestamps emitted as `ts_us` (Long µs): the engine's Long-ns `ts`
  *     divided by 1000; DuckDB truncates ns→µs on parquet read, so
  *     `epoch_us(ts)` matches exactly.
  *   - doubles `round(x, 6)` on both sides (same IEEE op sequence on both
  *     engines wherever a query computes arithmetic).
  *   - every query totally ordered by its key columns (the compare sorts
  *     rows, but limit/offset cuts must be deterministic).
  */
object EntryUtil {

  type QueryFn = (SparkSession, String) => DataFrame

  /** Testdata tables arrive as one small parquet file = one input split,
    * which would serialize every downstream map on a single core. Fan out
    * to the session's parallelism first — on a real many-file corpus the
    * scan already has enough splits and callers skip this. */
  def repartitioned(s: SparkSession, dir: String, table: String): DataFrame =
    s.read.parquet(s"$dir/$table.parquet")
      .repartition(s.sparkContext.defaultParallelism)

  /** hash60 in DuckDB ([[graft.pipeline.Dedup.hash60]]'s SQL mirror). */
  def h60Sql(s: String): String =
    s"CAST(('0x' || substr(md5($s), 1, 15)) AS BIGINT)"

  /** The PII test fixture: synthetic email/phone/IP appended to every
    * third document (the corpus itself contains none). One definition
    * for both entries that use it (docs_pii, docs_pii_redact) — the
    * Spark injection and its SQL mirror must never drift. */
  def piiFixture(df: DataFrame): DataFrame =
    df.withColumn("text",
      when(col("doc_id") % 3 === 0, concat(col("text"),
        lit(" contact u"), col("doc_id"), lit("@example.com or 555-"),
        format_string("%03d", col("doc_id") % 1000),
        lit("-9876 at 10.0.0."), col("doc_id") % 256))
        .otherwise(col("text")))

  val piiFixtureSql: String =
    """SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           text || ' contact u' || doc_id || '@example.com or 555-' ||
           format('{:03d}', doc_id % 1000) || '-9876 at 10.0.0.' ||
           (doc_id % 256)
         ELSE text END AS text
       FROM documents"""

  /** SQL replay of [[graft.pipeline.TextOps.winnow]]'s selection over
    * the documents table: positional k-shingle hashes, per-doc w-window
    * minima, FULL windows only. Returns the CTE chain `w, sh, sel, wn`
    * where `wn` is the distinct (doc_id, fp) fingerprint set — consumers
    * read `wn` so the full-window filter (`pos >= w-1`) has exactly one
    * definition. */
  def winnowSelSql(k: Int, w: Int): String = {
    val shingle = (0 until k)
      .map(j => if (j == 0) "ws[i]" else s"ws[i+$j]").mkString(" || ' ' || ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT doc_id, i - 1 AS pos, ${h60Sql(shingle)} AS h
                FROM w, UNNEST(generate_series(1, len(ws) - ${k - 1})) AS t(i)),
         sel AS (SELECT doc_id, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS fp
           FROM sh),
         wn AS (SELECT DISTINCT doc_id, fp FROM sel WHERE pos >= ${w - 1})"""
  }

  /** SQL mirror of [[graft.pipeline.Similarity.srpBucket]]
    * (VectorExpressions.VecSrpBucket): bit j set when embedding[j+1] > 0.
    * One generator for every oracle that buckets by SRP sign. */
  def srpSql(bits: Int, embExpr: String = "embedding"): String =
    (0 until bits).map(j =>
        s"CASE WHEN $embExpr[${j + 1}] > 0 THEN ${1 << j} ELSE 0 END")
      .mkString("(", "\n      + ", ")")

  /** DuckDB list-arithmetic mirrors of
    * [[graft.functions.VectorExpressions]] — list_sum folds in list
    * order, matching VecDot's sequential fold bit-for-bit. */
  def sqlDotSelf(a: String): String = s"list_sum(list_transform($a, x -> x*x))"
  def sqlDotAB(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1]*p[2]))"
  def sqlDist(a: String, b: String): String =
    s"(${sqlDotSelf(a)} + ${sqlDotSelf(b)} - 2*${sqlDotAB(a, b)})"

  /** Ranked nearest-centroid assignment over an (id, v) CTE and a
    * (cell, cv) centers CTE — the ONE place the assignment tie-break
    * (distance, then cell) lives; every oracle that assigns cells
    * (kmeans rounds, IVF cor/qry, PQ codes) builds on it, so a distance
    * or tie-break fix cannot leave a sibling oracle behind. `where`
    * filters the assigned side (e.g. " WHERE e.id < 10" for queries). */
  def nearestCellsSql(eCte: String, cCte: String, n: Int,
      where: String = ""): String =
    s"""SELECT id, v, cell FROM (
          SELECT e.id, e.v, c.cell,
            row_number() OVER (PARTITION BY e.id
              ORDER BY ${sqlDist("e.v", "c.cv")}, c.cell) AS r
          FROM $eCte e CROSS JOIN $cCte c$where) WHERE r <= $n"""

  /** SQL replay of [[graft.pipeline.Similarity.fitCodebook]] over any
    * (id, v) source: CTEs `${prefix}e` (the source) through
    * `${prefix}c$iters` (the fitted centers) — same minimal-hash60(id)
    * spread init, same x·x + c·c − 2·x·c distance, same round-6
    * per-cell means, one CTE
    * pair per unrolled Lloyd round. The prefix lets several independent
    * fits coexist in one statement (the PQ oracle runs one per
    * subspace); the IVF/SemDeDup oracles use prefix "". */
  def kmeansCtes(prefix: String, srcSql: String, nlist: Int, iters: Int): String = {
    val E = s"${prefix}e"
    def assign(centersCte: String) = nearestCellsSql(E, centersCte, 1)
    def recenter(assignCte: String) =
      s"""SELECT cell, list(m ORDER BY i) AS cv FROM (
            SELECT cell, i, round(avg(v[i]), 6) AS m
            FROM $assignCte, UNNEST(generate_series(1, len(v))) AS t(i)
            GROUP BY cell, i) GROUP BY cell"""
    val iterCtes = (0 until iters).map { it =>
      s"${prefix}a$it AS (${assign(s"${prefix}c$it")}),\n ${prefix}c${it + 1} AS (${recenter(s"${prefix}a$it")})"
    }.mkString(",\n ")
    s"""$E AS ($srcSql),
         ${prefix}c0 AS (SELECT CAST(row_number() OVER (ORDER BY hk, id) AS INT) - 1 AS cell,
                  v AS cv
                FROM (SELECT id, v,
                        ${h60Sql("CAST(id AS VARCHAR)")} AS hk
                      FROM $E ORDER BY hk, id LIMIT $nlist)),
         $iterCtes"""
  }

  /** The MinHash oracle's shared SQL scaffolding, generated from the SAME
    * [[graft.pipeline.Dedup.permParams]] the Spark plans use: per-perm
    * min-selects over a column `hb` (base hash mod 2³¹−1), and the
    * band-key CASE arms (comma-joined minima per band, keyed on a column
    * `b`). One generator, so the two oracles that replay MinHash
    * (docs_minhash_pairs, docs_incremental_dedup) can never drift from
    * each other or from the engine arithmetic. */
  def minhashSqlParts(numPerm: Int, bands: Int): (String, String) = {
    val M = graft.pipeline.Dedup.MinhashPrime
    val params = graft.pipeline.Dedup.permParams(numPerm)
    val minSelects = params.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * hb + $b) % $M) AS m$i"
    }.mkString(", ")
    val rows = numPerm / bands
    val bandKeys = (0 until bands).map { band =>
      val ks = (band * rows until (band + 1) * rows)
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ',' || ")
      s"WHEN $band THEN $ks"
    }.mkString(" ")
    (minSelects, bandKeys)
  }

  private val engines =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Engine]

  /** One cached series catalog per (session, dir): the three engine
    * variants derive the IDENTICAL catalog plan, and caching it thrice
    * would make the CacheManager warn and re-point to the first cache
    * anyway. */
  private val seriesCatalogs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def cachedSeries(spark: SparkSession, dir: String, derive: => DataFrame): DataFrame =
    seriesCatalogs.getOrElseUpdate((spark, dir), derive.cache())

  /** Engine over `dir`, memoized per session with the series catalog
    * cached: the catalog is the one derived table every query re-joins
    * (the reference keeps it as an in-memory matcher for the same reason:
    * series_matcher.h), and it is broadcast-sized by design. */
  def engineFor(spark: SparkSession, dir: String): Engine =
    engines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      // cache only the catalog: caching samples too was measured neutral
      // (the derivation is map-side) and hides parquet PushedFilters
      new Engine(ctx.copy(series = cachedSeries(spark, dir, ctx.series)))
    })

  /** Engine whose sample timestamps are truncated to µs. DuckDB's
    * TIMESTAMP is µs, so any entry doing *arithmetic* on ts (Δt in rate /
    * top, ns-valued aggregate outputs) must feed both engines identical
    * longs; entries that only order/range by ts don't need this. */
  def engineUs(spark: SparkSession, dir: String): Engine =
    engines.getOrElseUpdate((spark, dir + "#us"), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      new Engine(ctx.copy(
        series = cachedSeries(spark, dir, ctx.series),
        samples = ctx.samples.withColumn("ts",
          col("ts") - pmod(col("ts"), lit(1000L)))))
    })

  /** Engine with an hourly materialized rollup over the testdata. Entries
    * using it prove the rollup serving path (interior fine bins from the
    * rollup, range-edge samples from raw) against the plain raw-scan
    * oracle SQL — equality IS the accumulator combination law. */
  def engineRollupFor(spark: SparkSession, dir: String): Engine =
    engines.getOrElseUpdate((spark, dir + "#rollup"), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600L * 1000000000L
      val rollup = graft.engine.Rollup.build(ctx.samples, hourNs).cache()
      new Engine(ctx.copy(series = cachedSeries(spark, dir, ctx.series),
        rollups = Seq(hourNs -> rollup)))
    })

  /** Engine with a PERSISTED three-level rollup ladder (hour → day →
    * week). The hourly rollup is written to parquet once and each coarser
    * level is compacted FROM the previous level's parquet (Rollup.compact
    * — raw samples are never rescanned; the hierarchy law in RollupSpec
    * proves compaction ≡ building from raw), and ALL levels register with
    * the engine, whose serving tries levels coarsest-first and takes the
    * first that can actually serve — the reference answers from the
    * highest subtree level that covers the query bins
    * (/root/reference/stdb/storage/nbtree.h:457). For the 7d-step
    * day-aligned `ts_group_aggregate_rollup_ladder` query the WEEK level
    * is eligible but abstains (epoch-week bins sit 4 days out of phase
    * with the from-anchored 7d query bins — zero interior bins), so the
    * engine falls through to the DAY rollup (24× fewer rows than the
    * hourly one), which the entry hash-locks against the raw oracle and
    * PlanShapeSpec pins structurally (day parquet read; week, hour and
    * raw untouched). */
  def engineRollupLadderFor(spark: SparkSession, dir: String): Engine =
    engines.getOrElseUpdate((spark, dir + "#ladder"), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600L * 1000000000L
      val dayNs = 24L * hourNs
      val weekNs = 7L * dayNs
      val base = java.nio.file.Paths.get(scratchDir("graft-ladder-"))
      val hourPath = base.resolve("rollup_1h").toString
      val dayPath = base.resolve("rollup_1d").toString
      val weekPath = base.resolve("rollup_1w").toString
      graft.engine.Rollup.write(ctx.samples, hourPath, hourNs)
      graft.engine.Rollup.compact(spark, hourPath, dayPath, hourNs, dayNs)
      graft.engine.Rollup.compact(spark, dayPath, weekPath, dayNs, weekNs)
      new Engine(ctx.copy(series = cachedSeries(spark, dir, ctx.series),
        rollups = Seq(
          hourNs -> spark.read.parquet(hourPath).cache(),
          dayNs -> spark.read.parquet(dayPath).cache(),
          weekNs -> spark.read.parquet(weekPath).cache())))
    })

  /** Engine whose fact scan goes through the PERSISTED partitioned +
    * sorted layout (TsdbLayout.writeSamples: metric/ts_day directory
    * partitioning, (series_id, ts)-sorted files): the entry-level proof
    * that the storage design ANSWERS queries — partition pruning and
    * row-group stats on the serving path — not just LayoutSpec's plan
    * asserts. The write is a one-time index/storage build, like the
    * rollup and IVF builds. */
  def engineLayoutFor(spark: SparkSession, dir: String): Engine =
    engines.getOrElseUpdate((spark, dir + "#layout"), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val base = scratchDir("graft-layout-")
      graft.model.TsdbLayout.writeSamples(ctx, base)
      val series = cachedSeries(spark, dir, ctx.series)
      new Engine(graft.model.TsdbLayout.contextOver(
        spark, base, series, ctx.events))
    })

  // 2024-01-15T00:00Z — the retention cutoff the expired-layout entry and
  // its oracle agree on: an exact ts_day boundary (directory drop ≡ the
  // predicate) INSIDE the data span (events cover Jan 1-30 at every SF),
  // so the entry proves both that aged days vanish and that retained
  // days survive
  val ExpireCutoffNs = 1705276800000000000L

  /** Engine over a PRIVATE layout copy with every ts_day directory before
    * [[ExpireCutoffNs]] dropped via TsdbLayout.expire — retention as a
    * metadata operation (no file opened or rewritten), proven end-to-end
    * by `ts_layout_expire` whose oracle applies the cutoff as a raw-table
    * predicate. */
  def engineExpiredLayoutFor(spark: SparkSession, dir: String): Engine =
    engines.getOrElseUpdate((spark, dir + "#expired"), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val base = scratchDir("graft-expired-")
      graft.model.TsdbLayout.writeSamples(ctx, base)
      graft.model.TsdbLayout.expire(spark, base, ExpireCutoffNs)
      val series = cachedSeries(spark, dir, ctx.series)
      new Engine(graft.model.TsdbLayout.contextOver(
        spark, base, series, ctx.events))
    })

  // the correction window the upserted-layout entry and its oracle agree
  // on: Jan 10-12 2024 (inside the Jan 1-30 data span at every SF).
  // LITERALS, not FromNs + offset: object vals initialize in textual
  // order, and FromNs is declared BELOW — a forward reference here reads
  // 0L and silently moves the window to 1970, making the entry vacuous
  // (caught in review; spec-pinned against the Jan-2024 span below)
  val UpsertLoNs = 1704844800000000000L // 2024-01-10T00:00Z
  val UpsertHiNs = 1705017600000000000L // 2024-01-12T00:00Z

  /** Engine over a PRIVATE layout copy into which a deterministic batch
    * of corrections was upserted (TsdbLayout.upsertSamples — only the
    * touched (metric, ts_day) directories rewritten): every purchase
    * sample of users 2 and 4 inside [[UpsertLoNs]], [[UpsertHiNs]]) is
    * re-sent with value + 1000. `ts_layout_upsert` proves the merged
    * layout serves the corrected values (latest wins on key collision)
    * while everything outside the window is untouched; the oracle
    * replays the correction as a CASE over the raw table. */
  def engineUpsertedLayoutFor(spark: SparkSession, dir: String): Engine =
    engines.getOrElseUpdate((spark, dir + "#upserted"), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val base = scratchDir("graft-upserted-")
      graft.model.TsdbLayout.writeSamples(ctx, base)
      val late = ctx.samples
        .join(ctx.series.where(col("metric") === "purchase" &&
            element_at(col("tags"), "user").isin("2", "4"))
          .select("series_id"), "series_id")
        .where(col("ts") >= UpsertLoNs && col("ts") < UpsertHiNs)
        .select(col("series_id"), col("ts"),
          (col("value") + 1000.0).as("value"))
      graft.model.TsdbLayout.upsertSamples(spark, base, late, ctx.series)
      val series = cachedSeries(spark, dir, ctx.series)
      new Engine(graft.model.TsdbLayout.contextOver(
        spark, base, series, ctx.events))
    })

  /** Engine over the tagkey-BUCKETED layout table
    * (TsdbLayout.writeBucketedByTagkey): join-kind alignment — the
    * engine's one unavoidable shuffle on a plain layout — reads
    * co-located buckets and plans exchange-free; the write-time shuffle
    * is paid once and amortized over every join query. */
  def engineBucketedFor(spark: SparkSession, dir: String): Engine =
    engines.getOrElseUpdate((spark, dir + "#bucketed"), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val tbl = "graft_bucketed_" + math.abs(dir.hashCode.toLong).toString
      val base = scratchDir("graft-bucketed-")
      graft.model.TsdbLayout.writeBucketedByTagkey(ctx, tbl, base)
      new Engine(ctx.copy(series = cachedSeries(spark, dir, ctx.series),
        samples = spark.table(tbl)))
    })

  /** The raw events table with ts normalized to Long ns — EVERY entry
    * reading events.parquet directly must come through here (the driver
    * has shipped the table as both timestamp[ns] and timestamp[us];
    * TsdbContext.normalizeTsNs absorbs the difference). */
  def rawEvents(spark: SparkSession, dir: String): DataFrame =
    graft.model.TsdbContext.normalizeTsNs(
      spark.read.parquet(s"$dir/events.parquet"))

  /** Spark-identical STRING ordering for the driver-side feed sorts:
    * StringType sorts as UTF-8 bytes, which differs from Scala's
    * UTF-16 `String` ordering outside ASCII — the feed order must not
    * depend on which side sorted. */
  private val utf8Ord: Ordering[String] = (a: String, b: String) =>
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** The streaming entries' shared driver-side feed: one event type's
    * rows as (name, ts, value) tuples, ts-ordered so per-series arrival
    * order IS the fold order and watermarks only ever advance. One place
    * to change the feed — the streaming entries must stay on identical
    * input or their oracles silently diverge.
    *
    * The ts-order sort runs ON THE DRIVER over the collected rows
    * (r14): the feed is driver-sized by definition, and the previous
    * cluster `orderBy` paid a range-partitioning sampling pass plus a
    * sort exchange per feed build for rows that were about to be
    * collected anyway. The full tuple is the sort key, so the order is
    * total (a proper subset of the cluster sort's allowed orders,
    * which left key ties partition-ordered). */
  def eventRows(spark: SparkSession, dir: String, eventType: String,
      namePrefix: String): Seq[(String, Long, Double)] =
    rawEvents(spark, dir)
      .where(col("event_type") === eventType)
      .select(concat(lit(namePrefix), col("user_id").cast("string")).as("name"),
        col("ts").cast("long").as("ts"), col("value").cast("double").as("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(t => (t._2, t._1, t._3))(
        Ordering.Tuple3(Ordering.Long, utf8Ord, Ordering.Double.TotalOrdering))

  def clickRows(spark: SparkSession, dir: String): Seq[(String, Long, Double)] =
    eventRows(spark, dir, "click", "click user=")

  /** The KMV-build streaming feed (stream_distinct_rollup /
    * stream_distinct_serve share it): click rows as
    * (event_type, ts, user_id-as-string) — the tag VALUE is the
    * streamed value column, hashed inside kmvBuild. The eventRows
    * rule applies: ONE definition. */
  def clickUserRows(spark: SparkSession,
      dir: String): Seq[(String, Long, String)] =
    rawEvents(spark, dir)
      .where(col("event_type") === "click")
      .select(col("event_type"), col("ts").cast("long"),
        col("user_id").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq
      .sortBy(t => (t._2, t._3, t._1))(
        Ordering.Tuple3(Ordering.Long, utf8Ord, utf8Ord))

  /** The multi-metric streaming feed keyed by EVENT TYPE (stream_corr /
    * stream_changepoints share it): the named types' rows as
    * (type, ts, value), ts-ordered with a (type, value) tiebreak. The
    * eventRows rule applies — ONE definition, or the entries' oracles
    * silently diverge from each other's input. */
  def typedEventRows(spark: SparkSession, dir: String,
      types: Seq[String]): Seq[(String, Long, Double)] =
    rawEvents(spark, dir)
      .where(col("event_type").isin(types: _*))
      .select(col("event_type"), col("ts").cast("long"),
        col("value").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
      .sortBy(t => (t._2, t._1, t._3))(
        Ordering.Tuple3(Ordering.Long, utf8Ord, Ordering.Double.TotalOrdering))

  /** Execute a streaming entry for real: feed `rows` into a MemoryStream
    * in `chunks` micro-batches (callers pre-sort by ts so the watermark
    * only advances), run `mkStream`'s transformation to a memory sink
    * until all input is processed, and return the sink table. Append
    * mode for watermarked window aggregations; `outputMode = "update"`
    * for mapGroupsWithState transforms (the memory sink appends each
    * trigger's emitted rows, and a transform that emits every input row
    * exactly once — e.g. EWMA — therefore accumulates its complete
    * output in the sink).
    *
    * Sink lifecycle: each run DROPS the previous run's table and
    * registers the fresh sink under the ONE deterministic `<prefix>`
    * name — exactly one live sink per prefix (repeated runs hold a
    * bounded driver footprint), and the served statement's plan text
    * stays identical across runs so plan/codegen caches hit (r15).
    *
    * `mapChunk` transforms each fed batch (e.g. duplicate every row to
    * exercise dedup); `sentinel` is an optional final row past every real
    * event that advances the watermark so tail windows finalize — its own
    * window never does and stays out of the sink.
    *
    * The driver-side `rows` materialization is the harness feed (bounded:
    * one metric's rows); a deployment's stream reads Kafka/files and
    * never materializes on the driver. */
  def runStreamEntry[T <: Product](spark: SparkSession, prefix: String,
      rows: Seq[T], chunks: Int, cols: Seq[String],
      mkStream: DataFrame => DataFrame,
      mapChunk: Seq[T] => Seq[T] = identity[Seq[T]] _,
      sentinel: Option[T] = None,
      outputMode: String = "append")(implicit enc: Encoder[T]): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[T]
    val out = mkStream(in.toDF().toDF(cols: _*))
    runSink(spark, prefix, out, outputMode) { q =>
      feedChunks(in, q, rows, chunks, mapChunk)
      sentinel.foreach { last =>
        in.addData(last)
        q.processAllAvailable()
      }
    }
  }

  /** The ONE chunked MemoryStream feed protocol (single-input entries
    * and the file-sink ingest entry share it): add each ts-ordered
    * chunk, drain the query, repeat. */
  def feedChunks[T](
      in: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T],
      q: org.apache.spark.sql.streaming.StreamingQuery, rows: Seq[T],
      chunks: Int, mapChunk: Seq[T] => Seq[T] = identity[Seq[T]] _): Unit =
    rows.grouped(math.max(1, rows.length / chunks + 1)).foreach { c =>
      in.addData(mapChunk(c))
      q.processAllAvailable()
    }

  /** The stream-entry harness's ONE memory-sink lifecycle (both the
    * single- and two-input forms): drop the previous run's view, start
    * the query under the state-store sizing with the sink named
    * `prefix` itself, run `feed` to completion, stop, return the sink
    * table.
    *
    * CONTRACT — one sink per prefix, single-threaded: the sink name is
    * the prefix, not a fresh versioned name, so two concurrent runs of
    * the same prefix would drop each other's view and collide on the
    * query name. Callers run a given prefix from one thread at a time
    * (each stream entry owns its prefix; Verify and Bench run entries
    * sequentially). Distinct prefixes may run concurrently. */
  private def runSink(spark: SparkSession, prefix: String, out: DataFrame,
      outputMode: String)(
      feed: org.apache.spark.sql.streaming.StreamingQuery => Unit): DataFrame = {
    // ONE deterministic sink name per (entry, session) — r15, the
    // serve-gap ruling: a rerun drops the previous run's view and
    // registers the fresh sink under the SAME name, so the served
    // statement's plan text is identical across runs (plan/codegen
    // caches hit) while the stream itself still runs fresh. Still
    // exactly one live sink per prefix (bounded driver footprint).
    spark.catalog.dropTempView(prefix)
    val q = withStatePartitions(spark) {
      out.writeStream.format("memory")
        .outputMode(outputMode).queryName(prefix).start()
    }
    try feed(q) finally q.stop()
    spark.table(prefix)
  }

  /** A streaming query's stateful-operator partition count is fixed by
    * `spark.sql.shuffle.partitions` at START (it becomes the state-store
    * instance count, persisted in the checkpoint). Every micro-batch
    * commits every instance, so the harness feed — a few thousand rows,
    * 4-8 triggers — pays partitions × stores × triggers in store-commit
    * overhead: at the session's batch sizing (32) the stream-stream join
    * spends ~30 s committing near-empty stores; at 2 it runs in ~5 s with
    * identical results. Scope the conf to the `start()` call: still
    * genuinely multi-partition (hash-distributed state, the scale
    * semantics). A deployment sizes the same knob to its throughput. */
  private def withStatePartitions[A](spark: SparkSession, n: Int = 2)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Two-input variant of [[runStreamEntry]] for stream-stream joins:
    * feeds both MemoryStreams in ts-ordered LOCKSTEP chunks — the global
    * watermark is the minimum across all inputs, so pacing the sides
    * together keeps every row ahead of it (neither side can race the
    * other's watermark past an unprocessed match). Same sink lifecycle
    * as the single-input form. */
  def runStreamEntry2[T <: Product](spark: SparkSession, prefix: String,
      rowsL: Seq[T], rowsR: Seq[T], chunks: Int, cols: Seq[String],
      mkStream: (DataFrame, DataFrame) => DataFrame)
      (implicit enc: Encoder[T]): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val inL = MemoryStream[T]
    val inR = MemoryStream[T]
    val out = mkStream(inL.toDF().toDF(cols: _*), inR.toDF().toDF(cols: _*))
    runSink(spark, prefix, out, "append") { q =>
      val cl = rowsL.grouped(math.max(1, rowsL.length / chunks + 1)).toSeq
      val cr = rowsR.grouped(math.max(1, rowsR.length / chunks + 1)).toSeq
      (0 until math.max(cl.length, cr.length)).foreach { i =>
        cl.lift(i).foreach(c => inL.addData(c))
        cr.lift(i).foreach(c => inR.addData(c))
        q.processAllAvailable()
      }
    }
  }

  /** Temp directory reclaimed at JVM exit (recursive delete via ONE
    * shared shutdown hook) — entries that materialize layouts, indexes
    * or stream inputs/sinks must come through here, or repeated
    * Verify/Bench runs accumulate full table copies in /tmp forever. */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p.toString
  }
  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    scratchDirs.forEach { root =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(f => try java.nio.file.Files.deleteIfExists(f)
            catch { case _: Throwable => () })
      } catch { case _: Throwable => () }
    }))

  private val corpusIndexes = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Memoized PERSISTED incremental-dedup index over the testdata
    * corpus split (doc_id % BatchMod != 0) — written once per
    * (session, sf) like the IVF codebook (an index-BUILD cost a
    * deployment pays at curation time); the indexed entry then
    * broadcast-probes the parquet and never re-reads the corpus text. */
  def corpusIndexFor(spark: SparkSession, dir: String): String =
    corpusIndexes.getOrElseUpdate((spark, dir), {
      val path = scratchDir("graft_dedup_index")
      graft.pipeline.Dedup.writeCorpusIndex(
        repartitioned(spark, dir, "documents")
          .where(col("doc_id") % Round6Entries.BatchMod =!= 0),
        path, "doc_id", "text")
      path
    })

  /** The docs_contamination_bloom sizing: m small enough that sf0.1's
    * ~13k benchmark shingles produce REAL false positives for the
    * oracle to lock (the bloom arithmetic is only proven if FPs
    * replay), large enough that they stay rare. One definition — the
    * entry, its SQL mirror, and the spec must never drift. */
  val BloomMBits: Int = 1 << 17
  val BloomHashes: Int = 4

  private val bloomIndexes = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Memoized PERSISTED Bloom decontamination index over the src0
    * "benchmark" split (TextOps.bloomBits written as parquet) — built
    * once at benchmark-release time; probing entries read the ≤ mBits
    * position rows alone and never re-touch benchmark text. */
  def bloomIndexFor(spark: SparkSession, dir: String): String =
    bloomIndexes.getOrElseUpdate((spark, dir), {
      val path = scratchDir("graft_bloom_index")
      graft.pipeline.TextOps.bloomBits(
          repartitioned(spark, dir, "documents")
            .where(col("source") === "src0"),
          "text", k = 3, mBits = BloomMBits, numHashes = BloomHashes)
        .write.parquet(s"$path/bloom")
      path
    })

  private val bloomPacked = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Array[Byte]]

  /** The [[bloomIndexFor]] index loaded into its packed 16 KiB bitset
    * form (TextOps.packBloom) — what the in-row probe kernel and the
    * streaming gate ship to executors. */
  def bloomPackedFor(spark: SparkSession, dir: String): Array[Byte] =
    bloomPacked.getOrElseUpdate((spark, dir),
      graft.pipeline.TextOps.packBloom(
        spark.read.parquet(s"${bloomIndexFor(spark, dir)}/bloom"), BloomMBits))

  private val histIndexes = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Memoized PERSISTED hourly quantile-histogram index over the click
    * series (graft.ops.HistQuantiles.histogram written as parquet) —
    * build once per (session, sf) like the IVF codebook; the persisted
    * entry then serves percentiles from the parquet alone, never
    * re-reading events. */
  def histIndexFor(spark: SparkSession, dir: String): String =
    histIndexes.getOrElseUpdate((spark, dir), {
      val path = scratchDir("graft_hist_index")
      val hourNs = 3600000000000L
      graft.ops.HistQuantiles.histogram(
          rawEvents(spark, dir).where(col("event_type") === "click")
            .select(concat(lit("click user="),
              col("user_id").cast("string")).as("name"),
              (col("ts") - pmod(col("ts"), lit(hourNs))).as("hour"),
              col("value")),
          Seq("name", "hour"))
        .write.parquet(s"$path/hist")
      path
    })

  private val histEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine whose ctx REGISTERS a persisted hourly quantile-
    * histogram index (series_id-keyed parquet, the ctx.rollups pattern
    * for percentiles): aligned whole-range `quantile` statements serve
    * from the index with NO fact scan (plan-pinned), and the answers
    * are EXACTLY the scan-built ones — bucket counts are exact, so
    * serving changes the plan, never the result (one oracle with the
    * scan-built statement entry). */
  def engineHistFor(spark: SparkSession, dir: String): Engine =
    histEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600000000000L
      val path = scratchDir("graft_hist_engine")
      graft.ops.HistQuantiles.histogram(
          ctx.samples.withColumn("win",
            col("ts") - pmod(col("ts"), lit(hourNs))),
          Seq("series_id", "win"))
        .write.parquet(s"$path/hist")
      new Engine(ctx.copy(series = cachedSeries(spark, dir, ctx.series),
        histograms = Seq(hourNs -> spark.read.parquet(s"$path/hist"))))
    })

  private val histLadderEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine registering a TWO-LEVEL histogram ladder: the
    * hourly index plus its DAY compaction
    * ([[graft.ops.HistQuantiles.compact]] — built FROM the hour
    * parquet; raw samples are scanned exactly once, at the hour build).
    * Registered coarsest-first, so day-aligned statements serve from
    * the day level (1/24th the index rows) and hour-aligned ones fall
    * through to the hour level — the rollup compaction ladder
    * ([[engineRollupLadderFor]]) for percentiles. */
  def engineHistLadderFor(spark: SparkSession, dir: String): Engine =
    histLadderEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600000000000L; val dayNs = 86400000000000L
      val path = scratchDir("graft_hist_ladder")
      graft.ops.HistQuantiles.histogram(
          ctx.samples.withColumn("win",
            col("ts") - pmod(col("ts"), lit(hourNs))),
          Seq("series_id", "win"))
        .write.parquet(s"$path/hour")
      graft.ops.HistQuantiles.compact(
          spark.read.parquet(s"$path/hour"), Seq("series_id"), "win",
          hourNs, dayNs)
        .write.parquet(s"$path/day")
      new Engine(ctx.copy(series = cachedSeries(spark, dir, ctx.series),
        histograms = Seq(
          dayNs -> spark.read.parquet(s"$path/day"),
          hourNs -> spark.read.parquet(s"$path/hour"))))
    })

  private val bucketSumEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine whose ctx REGISTERS a persisted HOURLY bucket-sums
    * index (series_id-keyed parquet, Stats.bucketSums — the exact µu
    * sum + count per (series, hour)): aligned `correlate` and `trend`
    * statements whose step is a whole number of hours reduce the index
    * instead of scanning facts, with answers EXACTLY equal to the scan
    * (sums add; plan-pinned no-facts). The ctx.histograms pattern for
    * the integer-moment statements. */
  def engineBucketSumsFor(spark: SparkSession, dir: String): Engine =
    bucketSumEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600000000000L
      val path = scratchDir("graft_bsums_engine")
      graft.ops.Stats.bucketSums(ctx.samples, hourNs,
          keyCol = "series_id")
        .write.parquet(s"$path/bsums")
      new Engine(ctx.copy(series = cachedSeries(spark, dir, ctx.series),
        bucketSums = Seq(hourNs -> spark.read.parquet(s"$path/bsums"))))
    })

  private val madEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine whose ctx REGISTERS a persisted med/MAD index over
    * the canonical range ([[graft.ops.Monitoring.madIndex]] of every
    * series' ranged values, keyed by series NAME — one row per series,
    * broadcast-sized): `anomaly` statements over exactly that range
    * skip both percentile fit passes and judge the ranged samples
    * against the parquet rows — identical flags (one oracle with
    * ts_anomaly_json), no percentile buffering, plan-pinned. */
  def engineMadFor(spark: SparkSession, dir: String): Engine =
    madEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val path = scratchDir("graft_mad_engine")
      graft.ops.Monitoring.madIndex(
          ctx.samples.where(col("ts") >= FromNs && col("ts") < ToNs)
            .join(ctx.series.select(col("series_id"), col("name")),
              "series_id")
            .select(col("name"), col("value")),
          "name")
        .write.parquet(s"$path/mad")
      new Engine(ctx.copy(series = cachedSeries(spark, dir, ctx.series),
        madIndexes = Seq(graft.model.MadIndexDef(FromNs, ToNs,
          spark.read.parquet(s"$path/mad")))))
    })

  private val gapEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine whose ctx REGISTERS a persisted gap-cadence index
    * over the canonical range at factor 3
    * ([[graft.ops.Monitoring.gapThresholdIndex]] of every series'
    * ranged spacings, keyed by series NAME — one row per series,
    * broadcast-sized): matching `gaps` factor statements skip the
    * cadence-model aggregation and flag the one ranged fact pass
    * against the parquet thresholds — identical intervals (one oracle
    * with ts_gaps_json_factor), plan-pinned. */
  def engineGapFor(spark: SparkSession, dir: String): Engine =
    gapEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val path = scratchDir("graft_gap_engine")
      graft.ops.Monitoring.gapThresholdIndex(
          ctx.samples.where(col("ts") >= FromNs && col("ts") < ToNs)
            .join(ctx.series.select(col("series_id"), col("name")),
              "series_id")
            .select(col("name"), col("ts")),
          factor = 3.0, keyCol = "name")
        .write.parquet(s"$path/gapthr")
      new Engine(ctx.copy(series = cachedSeries(spark, dir, ctx.series),
        gapIndexes = Seq(graft.model.GapIndexDef(FromNs, ToNs, 3.0,
          spark.read.parquet(s"$path/gapthr")))))
    })

  private val catalogEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine whose ENTIRE index registration travels through a
    * persisted [[graft.model.IndexCatalog]] round-trip: the hourly
    * rollup and the canonical-range med/MAD index are built once,
    * SAVED (index parquet + one JSON manifest recording kind/path/
    * params), and the engine constructs over `IndexCatalog.load` of a
    * fresh base context — registration survives restart as storage,
    * not Scala wiring, and the constructor shape guards re-validate
    * the LOADED frames (the reference's sqlite metastorage analog,
    * meta_storage.h:44+). Entries over this engine share oracles with
    * their hand-wired twins (ts_group_aggregate_rollup /
    * ts_anomaly_json_indexed): the catalog hop must change nothing. */
  def engineCatalogFor(spark: SparkSession, dir: String): Engine =
    catalogEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600000000000L
      val catDir = scratchDir("graft_index_catalog")
      graft.model.IndexCatalog.save(ctx.copy(
        rollups = Seq(hourNs -> graft.engine.Rollup.build(ctx.samples, hourNs)),
        madIndexes = Seq(graft.model.MadIndexDef(FromNs, ToNs,
          graft.ops.Monitoring.madIndex(
            ctx.samples.where(col("ts") >= FromNs && col("ts") < ToNs)
              .join(ctx.series.select(col("series_id"), col("name")),
                "series_id")
              .select(col("name"), col("value")),
            "name")))), catDir)
      new Engine(graft.model.IndexCatalog.load(spark, catDir,
        ctx.copy(series = cachedSeries(spark, dir, ctx.series))))
    })

  private val streamLayouts = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Memoized samples-layout directory POPULATED BY A REAL STREAM: the
    * purchase rows feed a MemoryStream in ts-ordered chunks and
    * [[graft.streaming.TsdbStream.layoutIngest]] sinks them through
    * Spark's transactional file sink into the metric/ts_day layout —
    * the live-ingest half of the database story. Built once per
    * (session, sf) like every index build; the entry then queries the
    * directory through the ordinary layout reader. */
  def streamIngestedLayoutFor(spark: SparkSession, dir: String): String =
    streamLayouts.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val rows = ctx.samples
        .join(ctx.series.where(col("metric") === "purchase")
          .select("series_id"), "series_id")
        .orderBy("ts", "series_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val base = scratchDir("graft_stream_layout")
      streamRows(spark, rows, Seq("series_id", "ts", "value"),
        df => graft.streaming.TsdbStream.layoutIngest(
          df.withColumn("metric", lit("purchase")),
          s"$base/samples", s"$base/ckpt"))
      s"$base/samples"
    })

  /** The ONE MemoryStream scaffold every lifecycle fixture shares:
    * feed `rows` (already ts-ordered) in ~3 chunks through the
    * streaming query `start` builds over the stream's frame (columns
    * renamed to `cols`), each chunk fully committed before the next —
    * a real multi-micro-batch execution, deterministic across runs. */
  private def streamRows[T <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, rows: Seq[T], cols: Seq[String],
      starts: (DataFrame => org.apache.spark.sql.streaming.StreamingQuery)*): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val enc: Encoder[T] = org.apache.spark.sql.Encoders.product[T]
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[T]
    val df = in.toDF().toDF(cols: _*)
    // several queries may attach to the one source (the named-ingest
    // fixtures run the fact sink and the catalog sink side by side,
    // as a deployment attaches two queries to one topic); every query
    // that STARTED is stopped even when a later start throws
    val qs = scala.collection.mutable.ListBuffer
      .empty[org.apache.spark.sql.streaming.StreamingQuery]
    try {
      starts.foreach(s => qs += s(df))
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { c =>
        in.addData(c); qs.foreach(_.processAllAvailable())
      }
    } finally qs.foreach(q => try q.stop() catch { case _: Throwable => () })
  }

  /** Collected (series_id, ts, value, metric) rows of `ctx.samples` at
    * or past `fromNs`, ts-ordered — the live half a lifecycle fixture
    * streams into an ingest tier. */
  private def sampleRowsFrom(ctx: TsdbContext,
      fromNs: Long): Seq[(Long, Long, Double, String)] =
    ctx.samples.where(col("ts") >= fromNs)
      .join(ctx.series.select(col("series_id"), col("metric")), "series_id")
      .orderBy("ts", "series_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSeq

  /** 2024-01-20T00Z / 2024-01-25T00Z: where the live tier takes over
    * from the batch load, and the compaction watermark the two-tier
    * fixtures use (testdata spans January). Split exposed because the
    * new-series oracles replay it as a predicate. */
  val L0SplitNs = 1705708800000000000L
  val L0CompactNs = 1706140800000000000L

  private val l0DbEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine over a TWO-TIER database: the batch layout owns
    * the window's first 19 days (TsdbLayout.writeDatabase), a REAL
    * layoutIngest stream delivered the rest (the testdata spans
    * January) into the `samples_l0` tier, and
    * [[graft.model.TsdbLayout.compactL0]] claimed days 20-24 into the
    * batch layout (watermark Jan 25). A query over the canonical
    * window therefore reads THREE provenances — batch days,
    * compacted-from-stream days, live L0 days — through one opened
    * context; entries over this engine prove the tier flip changes
    * nothing (one oracle with the plain scans). */
  def engineL0DbFor(spark: SparkSession, dir: String): Engine =
    l0DbEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val db = scratchDir("graft_l0db_engine")
      graft.model.TsdbLayout.writeDatabase(
        ctx.copy(samples = ctx.samples.where(col("ts") < L0SplitNs)), db)
      streamRows(spark, sampleRowsFrom(ctx, L0SplitNs),
        Seq("series_id", "ts", "value", "metric"),
        df => graft.streaming.TsdbStream.layoutIngest(
          df, s"$db/samples_l0", s"$db/ingest_ckpt"))
      graft.model.TsdbLayout.compactL0(spark, db, L0CompactNs)
      val opened = graft.model.TsdbLayout.openDatabase(spark, db)
      new Engine(opened.copy(series = cachedSeries(spark, dir, ctx.series)))
    })

  private val openedDbEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine over a FULLY OPENED database directory: the
    * testdata context plus its hourly rollup written ONCE through
    * `TsdbLayout.writeDatabase` (catalog + events parquet, the
    * partitioned/sorted samples layout, the persisted index catalog),
    * then the engine constructs over `TsdbLayout.openDatabase` — the
    * complete restart story in one call: pruned fact scans AND
    * index-served statements from storage alone, zero Scala wiring
    * re-derived. The strongest form of the [[engineCatalogFor]] and
    * [[engineLayoutFor]] proofs, composed. */
  def engineOpenedDbFor(spark: SparkSession, dir: String): Engine =
    openedDbEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600000000000L
      val dbDir = scratchDir("graft_opened_db")
      graft.model.TsdbLayout.writeDatabase(ctx.copy(
        rollups = Seq(hourNs -> graft.engine.Rollup.build(ctx.samples, hourNs))),
        dbDir)
      val opened = graft.model.TsdbLayout.openDatabase(spark, dbDir)
      new Engine(opened.copy(series = opened.series.cache()))
    })

  private val eventsL0DbEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine over a TWO-TIER EVENTS database — the
    * [[engineL0DbFor]] story instantiated on the LOG half: the batch
    * events layout owns the window's first 19 days
    * (TsdbLayout.writeDatabase), a REAL
    * [[graft.streaming.TsdbStream.eventsIngest]] stream delivered
    * Jan 20-30 into the `events_l0` tier, and
    * [[graft.model.TsdbLayout.compactL0]] (events) claimed days 20-24
    * into the batch layout (watermark Jan 25). A select-events over
    * the canonical window reads THREE provenances — batch,
    * compacted-from-stream, live L0 — through one opened context and
    * must equal the flat events frame exactly (one oracle with
    * ts_select_events_regex). */
  def engineEventsL0DbFor(spark: SparkSession, dir: String): Engine =
    eventsL0DbEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val db = scratchDir("graft_evl0_db")
      graft.model.TsdbLayout.writeDatabase(
        ctx.copy(events = ctx.events.where(col("ts") < L0SplitNs)), db)
      streamRows(spark, eventRowsFrom(ctx, L0SplitNs),
        Seq("series_id", "ts", "body"),
        df => graft.streaming.TsdbStream.eventsIngest(
          df.withColumn("metric", lit("!log")),
          s"$db/events_l0", s"$db/ev_ingest_ckpt"))
      graft.model.TsdbLayout.compactL0(spark, db, L0CompactNs,
        graft.model.TsdbLayout.Tier.Events)
      val opened = graft.model.TsdbLayout.openDatabase(spark, db)
      new Engine(opened.copy(series = cachedSeries(spark, dir, ctx.series)))
    })

  /** Collected (series_id, ts, body) event rows at or past `fromNs`,
    * ts-ordered — the log half's live stream. */
  private def eventRowsFrom(ctx: TsdbContext,
      fromNs: Long): Seq[(Long, Long, String)] =
    ctx.events.where(col("ts") >= fromNs)
      .orderBy("ts", "series_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq

  private val rotatedDbEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine over a database whose ingest epoch was RETIRED:
    * the [[engineL0DbFor]] build carried to the end of the lifecycle —
    * the stream delivered Jan 20-30 into `samples_l0`, compaction
    * claimed EVERY day (cutoff past the data), and
    * [[graft.model.TsdbLayout.retireIngestRoot]] verified that and
    * dropped the root + checkpoint whole (the one destructive step,
    * behind its loud guards). The opened database serves batch-only
    * again; entries over this engine prove rotation changes nothing
    * (one oracle with the plain scans). */
  def engineRotatedDbFor(spark: SparkSession, dir: String): Engine =
    rotatedDbEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val db = scratchDir("graft_rotated_db")
      graft.model.TsdbLayout.writeDatabase(
        ctx.copy(samples = ctx.samples.where(col("ts") < L0SplitNs),
          events = ctx.events.where(col("ts") < L0SplitNs)), db)
      streamRows(spark, sampleRowsFrom(ctx, L0SplitNs),
        Seq("series_id", "ts", "value", "metric"),
        df => graft.streaming.TsdbStream.layoutIngest(
          df, s"$db/samples_l0", s"$db/ingest_ckpt"))
      streamRows(spark, eventRowsFrom(ctx, L0SplitNs),
        Seq("series_id", "ts", "body"),
        df => graft.streaming.TsdbStream.eventsIngest(
          df.withColumn("metric", lit("!log")),
          s"$db/events_l0", s"$db/ev_ingest_ckpt"))
      // claim EVERYTHING (cutoff past the data), then rotate BOTH
      // halves' epochs — root + checkpoint dropped whole
      graft.model.TsdbLayout.compactL0(spark, db, ToNs)
      graft.model.TsdbLayout.compactL0(spark, db, ToNs,
        graft.model.TsdbLayout.Tier.Events)
      require(graft.model.TsdbLayout.retireIngestRoot(spark, db,
        checkpoint = Some(s"$db/ingest_ckpt")),
        "the fully-compacted samples root must retire")
      require(graft.model.TsdbLayout.retireIngestRoot(spark, db,
        graft.model.TsdbLayout.Tier.Events,
        checkpoint = Some(s"$db/ev_ingest_ckpt")),
        "the fully-compacted events root must retire")
      val opened = graft.model.TsdbLayout.openDatabase(spark, db)
      new Engine(opened.copy(series = cachedSeries(spark, dir, ctx.series)))
    })

  private val upsertEventsEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine over a PRIVATE events layout healed by
    * [[graft.model.TsdbLayout.upsertEvents]]: the layout was written
    * MISSING the window's last six days, and the missing slice arrived
    * as a late batch through the events upsert — a partition-scoped
    * ADD (only the touched day directories rewritten; events are
    * appends, not corrections). The served select-events must equal
    * the flat frame exactly — one oracle with ts_select_events_regex. */
  def engineEventsUpsertFor(spark: SparkSession, dir: String): Engine =
    upsertEventsEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val cutNs = 1706140800000000000L // 2024-01-25T00Z
      val path = scratchDir("graft_ev_upsert") + "/events"
      graft.model.TsdbLayout.writeEvents(
        ctx.copy(events = ctx.events.where(col("ts") < cutNs)), path)
      graft.model.TsdbLayout.upsertEvents(spark, path,
        ctx.events.where(col("ts") >= cutNs), ctx.series)
      new Engine(TsdbContext(spark,
        cachedSeries(spark, dir, ctx.series), ctx.samples,
        spark.read.parquet(path)))
    })

  /** Collected (name, ts, value) NAMED sample rows at or past `fromNs`,
    * ts-ordered — the live half a new-series fixture streams through
    * the named ingest (ids derived in-stream, not here). */
  private def namedRowsFrom(ctx: TsdbContext,
      fromNs: Long): Seq[(String, Long, Double)] =
    ctx.samples.where(col("ts") >= fromNs)
      .join(ctx.series.select(col("series_id"), col("name")), "series_id")
      .orderBy("ts", "series_id")
      .collect()
      .map(r => (r.getString(3), r.getLong(1), r.getDouble(2)))
      .toSeq

  /** Feed one in-memory source to BOTH named-ingest halves — the fact
    * sink ([[graft.streaming.TsdbStream.namedLayoutIngest]]) and the
    * catalog registration sink ([[graft.streaming.TsdbStream
    * .catalogIngest]]) — exactly as a deployment attaches two queries
    * to one Kafka topic. */
  private def streamNamedRows(spark: SparkSession,
      rows: Seq[(String, Long, Double)], db: String): Unit =
    streamRows(spark, rows, Seq("name", "ts", "value"),
      df => graft.streaming.TsdbStream.namedLayoutIngest(
        df, s"$db/samples_l0", s"$db/ingest_ckpt"),
      df => graft.streaming.TsdbStream.catalogIngest(
        df, s"$db/catalog_l0", s"$db/catalog_ckpt"))

  /** The new-series fixture's build: a database persisted knowing only
    * the EVEN-user series (catalog, samples before the split, events),
    * then a NAMED ingest stream delivers every series' samples from
    * the split on — odd users are series the database has never seen,
    * registered live by the catalogIngest half — and compaction claims
    * days up to `compactNs`. */
  private def newSeriesDbBuild(spark: SparkSession, dir: String,
      prefix: String, compactNs: Long): String = {
    val ctx = TsdbContext.fromTestdata(spark, dir)
    val db = writeEvenSplitDb(spark, ctx, prefix,
      samplesBeforeNs = L0SplitNs, eventsBeforeNs = Long.MaxValue)
    streamNamedRows(spark, namedRowsFrom(ctx, L0SplitNs), db)
    graft.model.TsdbLayout.compactL0(spark, db, compactNs)
    db
  }

  /** The even-user half-database every new-series fixture starts from:
    * the persisted catalog knows only the EVEN users, each fact half
    * cut at its own boundary (MaxValue = keep the whole even history). */
  private def writeEvenSplitDb(spark: SparkSession, ctx: TsdbContext,
      prefix: String, samplesBeforeNs: Long, eventsBeforeNs: Long): String = {
    val even = ctx.series
      .where(expr("cast(tags['user'] as bigint) % 2 = 0"))
    val db = scratchDir(prefix)
    graft.model.TsdbLayout.writeDatabase(ctx.copy(
      series = even,
      samples = ctx.samples.where(col("ts") < samplesBeforeNs)
        .join(even.select("series_id"), "series_id")
        .select(col("series_id"), col("ts"), col("value")),
      events = ctx.events.where(col("ts") < eventsBeforeNs)
        .join(even.select("series_id"), "series_id")
        .select(col("series_id"), col("ts"), col("body"))), db)
    db
  }

  private val newSeriesDbs = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Memoized [[newSeriesDbBuild]] directory (compacted to Jan 25) —
    * shared by the engine fixture and the describe readout. */
  def newSeriesDbFor(spark: SparkSession, dir: String): String =
    newSeriesDbs.getOrElseUpdate((spark, dir),
      newSeriesDbBuild(spark, dir, "graft_newseries_db", L0CompactNs))

  private val newSeriesDbEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine over a database that REGISTERED NEW SERIES FROM
    * THE STREAM: the persisted catalog knows only the even users, a
    * named ingest (TsdbStream.namedLayoutIngest + catalogIngest over
    * one source) delivered Jan 20-30 of EVERY user — ids derived
    * in-stream from the canonical name, registrations landing once
    * each in the `catalog_l0` root — and compactL0 claimed days 20-24.
    * The opened database resolves odd-user series it never persisted
    * (catalog = series parquet ∪ catalog_l0, new-only), and a
    * catalog-wide select reads three fact provenances. The engine's
    * catalog comes from the OPENED database — the point is that
    * resolution serves from storage the stream wrote. */
  def engineNewSeriesDbFor(spark: SparkSession, dir: String): Engine =
    newSeriesDbEngines.getOrElseUpdate((spark, dir), {
      val opened = graft.model.TsdbLayout.openDatabase(spark,
        newSeriesDbFor(spark, dir))
      new Engine(opened.copy(series = opened.series.cache()))
    })

  private val catRotatedDbEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine over the new-series database carried to the END
    * of the catalog lifecycle: compaction claimed every day,
    * [[graft.model.TsdbLayout.foldCatalogL0]] merged the stream
    * registrations into the persisted catalog (new-only, idempotent),
    * and [[graft.model.TsdbLayout.retireIngestRoot]] (catalog, then
    * samples) verified and dropped both epoch roots. The reopened
    * database serves the SAME answers from the persisted catalog
    * alone — fold and rotation change storage, never results (one
    * oracle with the live-root twin).
    *
    * Deliberately a SECOND build rather than a copy of
    * [[newSeriesDbFor]]'s directory: a streaming file sink's
    * `_spark_metadata` log records ABSOLUTE file paths, so a copied
    * root would silently read the ORIGINAL fixture's files — the same
    * relocation hazard the index catalog's adopt contract guards. */
  def engineCatalogRotatedDbFor(spark: SparkSession, dir: String): Engine =
    catRotatedDbEngines.getOrElseUpdate((spark, dir), {
      val db = newSeriesDbBuild(spark, dir, "graft_catrot_db", ToNs)
      val folded = graft.model.TsdbLayout.foldCatalogL0(spark, db)
      require(folded > 0, "the stream registered new series to fold")
      require(graft.model.TsdbLayout.retireIngestRoot(spark, db,
        graft.model.TsdbLayout.Tier.Catalog,
        checkpoint = Some(s"$db/catalog_ckpt")),
        "the fully-folded catalog root must retire")
      require(graft.model.TsdbLayout.retireIngestRoot(spark, db,
        checkpoint = Some(s"$db/ingest_ckpt")),
        "the fully-compacted samples root must retire")
      val opened = graft.model.TsdbLayout.openDatabase(spark, db)
      new Engine(opened.copy(series = opened.series.cache()))
    })

  private val rebuiltDbEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine over a database whose OWNED index was REBUILT
    * after a correction: writeDatabase persisted the hourly rollup,
    * [[graft.model.TsdbLayout.upsertSamples]] applied the canonical
    * correction batch (users 2/4 in the upsert window, value + 1000 —
    * the [[engineUpsertedLayoutFor]] batch), and
    * [[graft.model.IndexCatalog.rebuild]] re-derived the rollup from
    * the corrected facts, params from the manifest alone. The reopened
    * database's ALIGNED statements serve the correction from the index
    * — the staleness window's operator remedy under the oracle gate. */
  def engineRebuiltDbFor(spark: SparkSession, dir: String): Engine =
    rebuiltDbEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600000000000L
      val db = scratchDir("graft_rebuilt_db")
      graft.model.TsdbLayout.writeDatabase(ctx.copy(
        rollups = Seq(hourNs -> graft.engine.Rollup.build(ctx.samples, hourNs))),
        db)
      val late = ctx.samples
        .join(ctx.series.where(col("metric") === "purchase" &&
            element_at(col("tags"), "user").isin("2", "4"))
          .select("series_id"), "series_id")
        .where(col("ts") >= UpsertLoNs && col("ts") < UpsertHiNs)
        .select(col("series_id"), col("ts"),
          (col("value") + 1000.0).as("value"))
      graft.model.TsdbLayout.upsertSamples(spark, s"$db/samples", late, ctx.series)
      require(graft.model.IndexCatalog.rebuild(spark, db) == 1,
        "the one owned rollup must rebuild")
      val opened = graft.model.TsdbLayout.openDatabase(spark, db)
      new Engine(opened.copy(series = opened.series.cache()))
    })

  private val tickResults = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** Memoized MAINTENANCE TICK summary: a private new-series database
    * built with its watermark at the split (nothing claimed yet), then
    * ONE [[graft.model.TsdbLayout.maintenanceTick]] with the canonical
    * cutoff — compaction moves the settled (metric, day) partitions,
    * the fold moves exactly the odd users' stream registrations, and
    * both straggler alerts are clean. Memoized as the RESULT frame: the
    * tick mutates its database and is idempotent, so only the first
    * run's summary is the oracle-comparable one. */
  def maintenanceTickFor(spark: SparkSession, dir: String): DataFrame =
    tickResults.getOrElseUpdate((spark, dir), {
      val db = newSeriesDbBuild(spark, dir, "graft_tick_db", L0SplitNs)
      graft.model.TsdbLayout.maintenanceTick(spark, db, L0CompactNs)
    })

  private val namedEventsDbEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine over a database whose EVENT LOG grew new series
    * from a NAMED stream: the persisted catalog and batch events hold
    * only the even users (events before the split), then
    * [[graft.streaming.TsdbStream.namedEventsIngest]] +
    * [[graft.streaming.TsdbStream.catalogIngest]] over one source
    * delivered Jan 20-30 of EVERY user's log — odd-user event series
    * registered live — and the events compactL0 claimed days 20-24. A
    * catalog-wide select-events resolves series the database never
    * persisted over three log provenances. */
  def engineNamedEventsDbFor(spark: SparkSession, dir: String): Engine =
    namedEventsDbEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val db = writeEvenSplitDb(spark, ctx, "graft_namedev_db",
        samplesBeforeNs = Long.MaxValue, eventsBeforeNs = L0SplitNs)
      val namedEvents = ctx.events.where(col("ts") >= L0SplitNs)
        .join(ctx.series.select(col("series_id"), col("name")), "series_id")
        .orderBy("ts", "series_id")
        .collect()
        .map(r => (r.getString(3), r.getLong(1), r.getString(2)))
        .toSeq
      streamRows(spark, namedEvents, Seq("name", "ts", "body"),
        df => graft.streaming.TsdbStream.namedEventsIngest(
          df, s"$db/events_l0", s"$db/ev_ingest_ckpt"),
        df => graft.streaming.TsdbStream.catalogIngest(
          df, s"$db/catalog_l0", s"$db/catalog_ckpt"))
      graft.model.TsdbLayout.compactL0(spark, db, L0CompactNs,
        graft.model.TsdbLayout.Tier.Events)
      val opened = graft.model.TsdbLayout.openDatabase(spark, db)
      new Engine(opened.copy(series = opened.series.cache()))
    })

  private val freshnessCatalogs = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Memoized index-catalog directory with one ADOPTED hourly-rollup
    * sink over the testdata — the fixture
    * [[graft.model.IndexCatalog.freshness]] reads: the catalog owns
    * nothing, the "maintainer's" parquet lives outside it, and the
    * readout must report the sink's max committed bin. */
  def freshnessCatalogFor(spark: SparkSession, dir: String): String =
    freshnessCatalogs.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600000000000L
      val base = scratchDir("graft_freshness")
      graft.engine.Rollup.write(ctx.samples, s"$base/rollup_sink", hourNs)
      graft.model.IndexCatalog.save(ctx, s"$base/cat")
      graft.model.IndexCatalog.adopt(s"$base/cat", "rollup",
        s"$base/rollup_sink", windowNs = Some(hourNs))
      s"$base/cat"
    })

  private val bucketSumLadderEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine registering a TWO-LEVEL bucket-sums ladder: the
    * hourly index plus its DAY compaction
    * ([[graft.ops.Stats.bucketSumsCompact]] — built FROM the hour
    * parquet; raw samples are scanned exactly once, at the hour
    * build). Registered coarsest-first, so day-aligned integer-moment
    * statements (correlate/trend/changepoints) serve from the day
    * level — 1/24th the index rows — and hour-aligned ones fall
    * through to the hour level: the [[engineHistLadderFor]] ladder for
    * the moment statements. */
  def engineBucketSumsLadderFor(spark: SparkSession, dir: String): Engine =
    bucketSumLadderEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600000000000L; val dayNs = 86400000000000L
      val path = scratchDir("graft_bsums_ladder")
      graft.ops.Stats.bucketSums(ctx.samples, hourNs,
          keyCol = "series_id")
        .write.parquet(s"$path/hour")
      graft.ops.Stats.bucketSumsCompact(
          spark.read.parquet(s"$path/hour"), "series_id", hourNs, dayNs)
        .write.parquet(s"$path/day")
      new Engine(ctx.copy(series = cachedSeries(spark, dir, ctx.series),
        bucketSums = Seq(
          dayNs -> spark.read.parquet(s"$path/day"),
          hourNs -> spark.read.parquet(s"$path/hour"))))
    })

  private val kmvStmtEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine registering a PERSISTED day-window KMV
    * tag-cardinality index over the 'user' tag
    * (Sketches.kmvIndex over samples joined to the catalog's tag
    * values, written as parquet): aligned unfiltered `distinct`
    * statements with k ≤ 64 serve from metric × days × 64 rows and
    * never touch samples or rollups — the statement's production
    * shape. */
  def engineKmvFor(spark: SparkSession, dir: String): Engine =
    kmvStmtEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val dayNs = 86400000000000L
      val path = scratchDir("graft_kmvstmt_engine")
      graft.ops.Sketches.kmvIndex(
          ctx.samples
            .join(ctx.series.select(col("series_id"), col("metric"),
              col("tags").getItem("user").as("__tv")), "series_id")
            .where(col("__tv").isNotNull)
            .select(col("metric"),
              (col("ts") - pmod(col("ts"), lit(dayNs))).as("win"),
              col("__tv")),
          "metric", "win", "__tv", k = 64)
        .write.parquet(s"$path/kmv")
      new Engine(ctx.copy(series = cachedSeries(spark, dir, ctx.series),
        kmvIndexes = Seq(graft.model.KmvIndexDef("user", dayNs, 64,
          spark.read.parquet(s"$path/kmv")))))
    })

  /** The canonical correction batch: purchase users 2/4 in the upsert
    * window, value + 1000 — touches the window's (purchase, ts_day)
    * partitions that hold their data (1-2 depending on sf; the oracles
    * derive the count from the raw table, never hardcode it). Shared
    * by the rebuild / staleness / health fixtures. */
  private def canonicalLateBatch(ctx: TsdbContext): DataFrame = ctx.samples
    .join(ctx.series.where(col("metric") === "purchase" &&
        element_at(col("tags"), "user").isin("2", "4"))
      .select("series_id"), "series_id")
    .where(col("ts") >= UpsertLoNs && col("ts") < UpsertHiNs)
    .select(col("series_id"), col("ts"), (col("value") + 1000.0).as("value"))

  private val staleFixtures = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, DataFrame)]

  /** Memoized STALENESS-LOOP fixture: a database with an owned hourly
    * rollup takes the canonical correction through
    * [[graft.model.TsdbLayout.upsertSamples]] (which RECORDS the two
    * touched (purchase, ts_day) partitions), one
    * [[graft.model.TsdbLayout.maintenanceTick]] reports them as
    * `index_stale` (the alert half), then
    * [[graft.model.IndexCatalog.rebuildScoped]] — driven by that very
    * record, no explicit scope — re-derives only the touched bins with
    * a day-pruned fact read and clears it, and a second tick reports
    * zero (the loop closes). Returns (dbDir, the two ticks stacked as
    * one (phase, step, n) frame). */
  def staleFixtureFor(spark: SparkSession, dir: String): (String, DataFrame) =
    staleFixtures.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600000000000L
      val db = scratchDir("graft_scoped_db")
      graft.model.TsdbLayout.writeDatabase(ctx.copy(
        rollups = Seq(hourNs -> graft.engine.Rollup.build(ctx.samples, hourNs))),
        db)
      require(graft.model.TsdbLayout.upsertSamples(spark, s"$db/samples",
        canonicalLateBatch(ctx), ctx.series) >= 1,
        "the canonical correction touches at least one partition")
      val dirty = graft.model.TsdbLayout
        .maintenanceTick(spark, db, L0CompactNs)
        .withColumn("phase", lit("dirty"))
      require(graft.model.IndexCatalog.rebuildScoped(spark, db) == 1,
        "the one owned rollup must rebuild, scope from the record")
      require(graft.model.TsdbLayout.indexDirtyPairs(spark, db).isEmpty,
        "the scoped rebuild clears the record it served")
      val clean = graft.model.TsdbLayout
        .maintenanceTick(spark, db, L0CompactNs)
        .withColumn("phase", lit("clean"))
      (db, dirty.unionByName(clean).select("phase", "step", "n"))
    })

  private val scopedRebuiltEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine over the [[staleFixtureFor]] database AFTER its
    * scoped rebuild: the reopened database's aligned statements serve
    * the correction from the index — same oracle as the full-rebuild
    * twin (`ts_index_rebuild`), because scoped ≡ full is the whole
    * contract (IndexCatalogSpec pins it bit-for-bit). */
  def engineScopedRebuiltDbFor(spark: SparkSession, dir: String): Engine =
    scopedRebuiltEngines.getOrElseUpdate((spark, dir), {
      val opened = graft.model.TsdbLayout.openDatabase(spark,
        staleFixtureFor(spark, dir)._1)
      new Engine(opened.copy(series = opened.series.cache()))
    })

  private val epochRotatedEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine over a database rotated through EPOCH-NUMBERED
    * ingest roots — the zero-downtime form: epoch 1
    * ([[graft.model.TsdbLayout.nextIngestRoot]] → `samples_l0_e1`)
    * streamed Jan 20-24, compaction claimed it whole, epoch 2
    * (`samples_l0_e2`) streamed Jan 25 on and stays LIVE while
    * [[graft.model.TsdbLayout.retireIngestRoot]] drops the drained
    * epoch-1 root + checkpoint behind its per-root guards. The opened
    * database serves three provenances — batch, compacted epoch 1,
    * live epoch 2 — through one union read, and must equal the plain
    * scan exactly (one oracle with ts_layout_select): rotation under
    * continued ingest changes storage, never answers. */
  def engineEpochRotatedDbFor(spark: SparkSession, dir: String): Engine =
    epochRotatedEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val db = scratchDir("graft_epochrot_db")
      graft.model.TsdbLayout.writeDatabase(
        ctx.copy(samples = ctx.samples.where(col("ts") < L0SplitNs)), db)
      val live = sampleRowsFrom(ctx, L0SplitNs)
      val e1 = graft.model.TsdbLayout.nextIngestRoot(spark, db)
      streamRows(spark, live.filter(_._2 < L0CompactNs),
        Seq("series_id", "ts", "value", "metric"),
        df => graft.streaming.TsdbStream.layoutIngest(
          df, e1, s"$db/ckpt_e1"))
      graft.model.TsdbLayout.compactL0(spark, db, L0CompactNs)
      val e2 = graft.model.TsdbLayout.nextIngestRoot(spark, db)
      streamRows(spark, live.filter(_._2 >= L0CompactNs),
        Seq("series_id", "ts", "value", "metric"),
        df => graft.streaming.TsdbStream.layoutIngest(
          df, e2, s"$db/ckpt_e2"))
      require(graft.model.TsdbLayout.retireIngestRoot(spark, db,
        epoch = Some(1), checkpoint = Some(s"$db/ckpt_e1")),
        "the drained epoch-1 root must retire under the live epoch 2")
      val opened = graft.model.TsdbLayout.openDatabase(spark, db)
      new Engine(opened.copy(series = cachedSeries(spark, dir, ctx.series)))
    })

  private val healTicks = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** Memoized HEALING-TICK fixture: a database with one owned hourly
    * rollup takes the canonical correction, then TWO
    * `maintenanceTick(healIndexes = true)` calls — the first heals
    * (index_healed = the one owned frame, index_stale already zero in
    * the same summary: the heal runs before the alert poll), the
    * second is the idempotent zero tick. One cron call = a consistent
    * database, gated. */
  def healTickFor(spark: SparkSession, dir: String): DataFrame =
    healTicks.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600000000000L
      val db = scratchDir("graft_healtick_db")
      graft.model.TsdbLayout.writeDatabase(ctx.copy(
        rollups = Seq(hourNs ->
          graft.engine.Rollup.build(ctx.samples, hourNs))), db)
      require(graft.model.TsdbLayout.upsertSamples(spark, s"$db/samples",
        canonicalLateBatch(ctx), ctx.series) >= 1,
        "the canonical correction touches at least one partition")
      val first = graft.model.TsdbLayout
        .maintenanceTick(spark, db, L0CompactNs, healIndexes = true)
        .withColumn("phase", lit("first"))
      val second = graft.model.TsdbLayout
        .maintenanceTick(spark, db, L0CompactNs, healIndexes = true)
        .withColumn("phase", lit("second"))
      first.unionByName(second).select("phase", "step", "n")
    })

  private val expiredDbEngines = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Engine]

  /** Memoized engine over a DATABASE whose retention ran with an owned
    * hourly rollup registered: `TsdbLayout.expire` dropped every fact
    * day before [[ExpireCutoffNs]] AND the rollup's matching `__day`
    * storage partitions in the same call (hour bins never straddle
    * days, so the drop is the same exact metadata operation) — the
    * reopened database's index-served statements cannot resurrect
    * expired data. Gated by `ts_expire_index_heal`, whose oracle
    * applies the cutoff as a raw-table predicate: equality IS the
    * serving-path consistency. */
  def engineExpiredDbFor(spark: SparkSession, dir: String): Engine =
    expiredDbEngines.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600000000000L
      val db = scratchDir("graft_expired_db")
      graft.model.TsdbLayout.writeDatabase(ctx.copy(
        rollups = Seq(hourNs ->
          graft.engine.Rollup.build(ctx.samples, hourNs))), db)
      require(graft.model.TsdbLayout.expire(spark, s"$db/samples",
        ExpireCutoffNs) >= 1, "the cutoff expires at least one day")
      require(graft.model.TsdbLayout.indexDirtyPairs(spark, db).isEmpty,
        "hourly bins drop exactly with the facts — nothing to record")
      val opened = graft.model.TsdbLayout.openDatabase(spark, db)
      new Engine(opened.copy(series = opened.series.cache()))
    })

  private val healthChecks = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** Memoized [[graft.model.TsdbLayout.healthCheck]] readout over a
    * database with KNOWN dirt: the even-user half-database grew every
    * user's series through a named ingest (odd registrations live in
    * `catalog_l0`, unfolded → `catalog_unfolded` alerts), an owned
    * hourly rollup took the canonical correction through the upsert
    * (`index_stale` alerts with the two touched partitions), one
    * ADOPTED maintainer sink STALLED at the split (its last committed
    * bin trails `nowNs` = the window end far beyond the 1-day
    * allowance → `index_lagging` alerts; the owned snapshot rollup
    * deliberately does NOT count — owned staleness is `index_stale`'s
    * job), and both straggler alerts are clean — each count derivable
    * from the raw table. */
  def healthCheckFor(spark: SparkSession, dir: String): DataFrame =
    healthChecks.getOrElseUpdate((spark, dir), {
      val ctx = TsdbContext.fromTestdata(spark, dir)
      val hourNs = 3600000000000L
      val even = ctx.series
        .where(expr("cast(tags['user'] as bigint) % 2 = 0"))
      val evenSamples = ctx.samples.where(col("ts") < L0SplitNs)
        .join(even.select("series_id"), "series_id")
        .select(col("series_id"), col("ts"), col("value"))
      val db = scratchDir("graft_health_db")
      graft.model.TsdbLayout.writeDatabase(ctx.copy(
        series = even,
        samples = evenSamples,
        events = ctx.events.join(even.select("series_id"), "series_id")
          .select(col("series_id"), col("ts"), col("body")),
        rollups = Seq(hourNs ->
          graft.engine.Rollup.build(evenSamples, hourNs))), db)
      streamNamedRows(spark, namedRowsFrom(ctx, L0SplitNs), db)
      graft.model.TsdbLayout.compactL0(spark, db, L0SplitNs)
      graft.engine.Rollup
        .build(ctx.samples.where(col("ts") < L0SplitNs), hourNs)
        .write.parquet(s"$db/rollup_sink")
      graft.model.IndexCatalog.adopt(s"$db/indexes", "rollup",
        s"$db/rollup_sink", windowNs = Some(hourNs))
      require(graft.model.TsdbLayout.upsertSamples(spark, s"$db/samples",
        canonicalLateBatch(ctx), ctx.series) >= 1,
        "the canonical correction touches at least one partition")
      graft.model.TsdbLayout.healthCheck(spark, db, nowNs = Some(ToNs),
        maxIndexLagNs = 86400000000000L).orderBy("component")
    })

  private val simhashIndexes = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Memoized PERSISTED SimHash fingerprint index over the NON-batch
    * documents (doc_id % BatchMod != 0 — the docs_incremental_dedup
    * corpus split): 8 bytes per doc, written once
    * (Dedup.writeSimhashIndex); the incremental probe entry reads it
    * and never touches corpus text. */
  def simhashIndexFor(spark: SparkSession, dir: String): String =
    simhashIndexes.getOrElseUpdate((spark, dir), {
      val path = scratchDir("graft_simhash_index")
      graft.pipeline.Dedup.writeSimhashIndex(
        repartitioned(spark, dir, "documents")
          .where(col("doc_id") % Round6Entries.BatchMod =!= 0),
        path, "doc_id", "text")
      path
    })

  private val kmvIndexes = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Memoized PERSISTED daily KMV distinct index over event users
    * (graft.ops.Sketches.kmvIndex written as parquet) — build once per
    * (session, sf) like the quantile-histogram index; the persisted
    * entry serves distinct-count estimates from the parquet alone,
    * never re-reading events. */
  def kmvIndexFor(spark: SparkSession, dir: String): String =
    kmvIndexes.getOrElseUpdate((spark, dir), {
      val path = scratchDir("graft_kmv_index")
      val dayNs = 86400000000000L
      graft.ops.Sketches.kmvIndex(
          rawEvents(spark, dir).select(col("event_type"),
            graft.functions.VectorExpressions.longFloorDiv(col("ts"), dayNs)
              .as("day"),
            col("user_id").cast("string").as("uid")),
          "event_type", "day", "uid", k = 256)
        .write.parquet(s"$path/kmv")
      path
    })

  private val codebooks = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[(Int, Seq[Double])]]

  /** Memoized IVF codebook over the testdata embeddings (nlist = 8, two
    * deterministic Lloyd rounds — the parameters the `emb_knn_ivf` entry
    * and its SQL-replay oracle agree on). The fit is an index-BUILD cost:
    * a production deployment runs it once and persists the centers
    * (Similarity.writeCodebook), so queries — and the bench — reuse it,
    * exactly as the materialized rollup is built once in
    * [[engineRollupFor]]. */
  def ivfCodebookFor(spark: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    codebooks.getOrElseUpdate((spark, dir), {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding"))
      graft.pipeline.Similarity.fitCodebook(emb, nlist = 8, iters = 2)
    })

  private val pqBooks = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[(Int, Seq[(Int, Seq[Double])])]]

  /** Memoized per-subspace PQ codebooks (same index-build-once rationale
    * as [[ivfCodebookFor]]): dim 64 split m=2 × 8 centers, 2 Lloyd
    * rounds — mirrored CTE-for-CTE by the emb_pq_adc oracle. */
  def pqCodebooksFor(spark: SparkSession, dir: String): Seq[(Int, Seq[(Int, Seq[Double])])] =
    pqBooks.getOrElseUpdate((spark, dir), {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding"))
      graft.pipeline.Similarity.fitPqCodebooks(emb, dim = 64, m = 2,
        ksub = 8, iters = 2)
    })

  /** µs view of the engine's Long-ns ts column, oracle-comparable.
    * `+ 0.0` maps IEEE -0.0 → 0.0 (DuckDB's round(-ε, 6) keeps the sign,
    * Spark's drops it); the oracle SQL applies the same normalization. */
  def usView(df: DataFrame, valueCols: Seq[String] = Seq("value")): DataFrame = {
    val cols = df.columns.map {
      case "ts" => expr("ts div 1000").as("ts_us")
      case c if valueCols.contains(c) => (round(col(c), 6) + lit(0.0)).as(c)
      case c => col(c)
    }
    df.select(cols.toSeq: _*)
  }

  // the canonical 3-month test window over the events table
  val FromIso = "20240101T000000"
  val ToIso = "20240401T000000"
  val FromNs = 1704067200000000000L
  val ToNs = 1711929600000000000L

  /** DuckDB view of the raw events table as TSDB samples of one metric. */
  def oracleScan(metric: String, extra: String = ""): String =
    s"""FROM events
        WHERE event_type = '$metric'
          AND epoch_ns(ts) >= $FromNs AND epoch_ns(ts) < $ToNs $extra"""
}
