package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical schemas of the engine.
  *
  * The reference's universal record is the Sample
  * (/root/reference/stdb/common/basic.h:96-101): `{timestamp: u64 ns,
  * location, paramid, payload}` with one compressed column per series.
  * In Spark this becomes three DataFrames:
  *
  *   - `series`  — the catalog (small; broadcastable): one row per
  *     registered series with its parsed metric/tags and optional location.
  *   - `samples` — the metric facts: `(series_id, ts, value)`, ts = Long
  *     UTC nanoseconds (never TimestampType internally: Spark timestamps
  *     are µs and would silently truncate; see SURVEY §1.2).
  *   - `events`  — the string-payload facts: `(series_id, ts, body)`.
  *
  * 100 TB design notes: `samples` is the only large table. Its physical
  * layout should be partitioned by (metric, coarse time bucket) and
  * sorted/z-ordered by (series_id, ts) within files so that (a) metric +
  * where-clause pruning maps to partition pruning, (b) time-range scans map
  * to file/row-group pruning on ts min/max stats, (c) per-series windows
  * avoid wide shuffles. The catalog stays small enough to broadcast to
  * every join against the facts (the Spark analog of the reference's
  * parse-time inverted-index resolution, queryparser.cc:689-740).
  */
object TsdbSchema {
  val series: StructType = StructType(Seq(
    StructField("series_id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("metric", StringType, nullable = false),
    StructField("tags", MapType(StringType, StringType), nullable = false),
    StructField("lon", FloatType, nullable = true),
    StructField("lat", FloatType, nullable = true)))

  val samples: StructType = StructType(Seq(
    StructField("series_id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  val events: StructType = StructType(Seq(
    StructField("series_id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("body", StringType, nullable = false)))
}

/** One registered KMV tag-cardinality index: `index` holds
  * (metric, win, h) rows — per (metric, `windowNs`-aligned window
  * start) the `k` minimal distinct hash60 values of `tag`'s values
  * among series active in that window. The registrar's contract: rows
  * really were built at this window/tag/k ([[graft.ops.Sketches
  * .kmvIndex]] over samples joined to the catalog's tag values). */
final case class KmvIndexDef(tag: String, windowNs: Long, k: Int,
    index: DataFrame)

/** One registered med/MAD robust-statistics index: `index` holds
  * (name, med, mad) rows — per series name the 6dp-rounded median and
  * median-absolute-deviation of its values over EXACTLY
  * [`fromNs`, `toNs`) ([[graft.ops.Monitoring.madIndex]] over the
  * ranged samples joined to the catalog). Unlike counts and sums,
  * medians neither add across windows nor restrict to sub-ranges, so
  * the serving contract is exact-range match — the registrar persists
  * one index per curated range (typically "the settled history"),
  * and only statements over that range serve from it. */
final case class MadIndexDef(fromNs: Long, toNs: Long, index: DataFrame)

/** One registered gap-cadence index: `index` holds (name, thr) rows —
  * per series name `factor` × its mean sample spacing over EXACTLY
  * [`fromNs`, `toNs`) ([[graft.ops.Monitoring.gapThresholdIndex]] over
  * the ranged samples joined to the catalog, thresholds in ns). Mean
  * spacings neither add nor restrict across ranges, so the serving
  * contract is exact (range, factor) match — the [[MadIndexDef]] rule
  * for the adaptive gap statement.
  *
  * `factor` matches the statement's factor with Double `==` — i.e.
  * BIT-exact: register the same double the query grammar parses (the
  * query path parses the JSON literal, so "0.1" at build time and
  * "0.1" in the statement are the identical IEEE value; a factor
  * computed through different arithmetic may differ in the last ulp
  * and silently abstain to the scan — correct, never wrong, but the
  * index goes unused). The [[graft.model.IndexCatalog]] manifest
  * round-trips the double through shortest-decimal JSON, which is
  * bit-exact, so persistence never perturbs the match. */
final case class GapIndexDef(fromNs: Long, toNs: Long, factor: Double,
    index: DataFrame)

/** The engine's handle on one "database": catalog + fact tables +
  * optional materialized rollups (fine-step → accumulator DataFrame, see
  * [[graft.engine.Rollup]]) that group-aggregate queries use instead of
  * raw samples when step/range alignment allows, + optional materialized
  * quantile-histogram indexes (window-step → (series_id, win, lo, cnt)
  * DataFrame, see [[graft.ops.HistQuantiles]]) that `quantile`
  * statements serve from instead of scanning facts when the range
  * aligns to whole windows. */
final case class TsdbContext(
    spark: SparkSession,
    series: DataFrame,
    samples: DataFrame,
    events: DataFrame,
    rollups: Seq[(Long, DataFrame)] = Nil,
    histograms: Seq[(Long, DataFrame)] = Nil,
    /** optional materialized bucket-sum indexes (bucket step →
      * (series_id, __b, __s, __c), [[graft.ops.Stats.bucketSums]])
      * that `correlate`/`trend` statements reduce instead of scanning
      * facts when the range and step align to whole index buckets —
      * sums and counts add across time and across merged series, so
      * one fine build serves every coarser statement exactly. */
    bucketSums: Seq[(Long, DataFrame)] = Nil,
    /** optional materialized KMV tag-cardinality indexes
      * ([[KmvIndexDef]]: per (metric, window) the k minimal distinct
      * hash60 values of a tag's values among active series —
      * [[graft.ops.Sketches.kmvIndex]]) that unfiltered, un-where'd
      * `distinct` statements serve from: metric × windows × k rows
      * where the rollup-activity path reads series × bins. k-min sets
      * merge exactly, so the served output equals the scan's
      * bit-for-bit whenever the statement's k ≤ the build k. */
    kmvIndexes: Seq[KmvIndexDef] = Nil,
    /** optional materialized med/MAD robust-statistics indexes
      * ([[MadIndexDef]]): `anomaly` statements whose range matches a
      * registered index's build range exactly skip the two
      * percentile fit passes — the expensive, per-series-buffering
      * half of the statement — and judge the ranged samples against
      * the broadcast index rows instead (one fact pass, no
      * percentile aggregation; identical flags — the index stores
      * the same 6dp statistics the scan path fits). */
    madIndexes: Seq[MadIndexDef] = Nil,
    /** optional materialized gap-cadence indexes ([[GapIndexDef]]):
      * `gaps` statements with a `factor` whose range AND factor match
      * a registered index exactly skip the cadence-model aggregation
      * pass and flag the one ranged fact pass against the broadcast
      * thresholds — identical intervals (the model stores the same
      * thresholds the scan path derives). */
    gapIndexes: Seq[GapIndexDef] = Nil,
    /** The LLM-pipeline tables, registered like the index frames so
      * the JSON surface covers the pipeline half too: `documents`
      * (columns `id`, `text`) serves `{"dedup": ...}` statements;
      * `embeddings` (columns `id`, `embedding`) serves
      * `{"knn": ...}`. Both optional — a pure TSDB context refuses
      * those statements loudly. */
    documents: Option[DataFrame] = None,
    embeddings: Option[DataFrame] = None,
    /** A pre-fitted IVF codebook `{"knn"}` statements with a matching
      * `nlist` serve from instead of paying the Lloyd fit per
      * statement — the registered-index discipline pointed at ANN
      * (fit once at index-build time, [[graft.pipeline.Similarity
      * .fitCodebook]] / `writeCodebook`). */
    ivfCodebook: Option[Seq[(Int, Seq[Double])]] = None,
    /** A [[graft.pipeline.CorpusStore]] directory: when registered,
      * `{"dedup"}` statements whose (k, num-perm, bands) MATCH the
      * store's manifest recipe probe the persisted index
      * ([[graft.pipeline.CorpusStore.probeBatch]] — index-only scans,
      * the corpus text never re-read) instead of recomputing corpus
      * signatures per statement; parameters that DIFFER from the
      * recipe are BadQuery (never a silent recompute with an
      * incomparable index sitting right there). Unregistered, the
      * self-contained split over `documents` stays the path. */
    corpusStore: Option[String] = None,
    /** A [[graft.pipeline.EmbeddingStore]] directory: when
      * registered, `{"knn"}` ivf/ivfpq statements whose recipe
      * matches (nlist; and m/ksub for ivfpq) serve from the persisted
      * cell-partitioned index — the probe reads only the probed cell
      * partitions. Mismatched parameters are BadQuery. */
    embeddingStore: Option[String] = None) {

  /** Expose the model as temp views (`<prefix>series` etc.) so the full
    * Spark SQL surface — arbitrary joins, set ops, window functions, the
    * relational features the reference lacks (SURVEY §2.8) — works over
    * the same data: `spark.sql("SELECT ... FROM tsdb_samples ...")`. */
  def registerViews(prefix: String = "tsdb_"): Unit = {
    series.createOrReplaceTempView(s"${prefix}series")
    samples.createOrReplaceTempView(s"${prefix}samples")
    events.createOrReplaceTempView(s"${prefix}events")
  }
}

object TsdbContext {

  /** Build a context from arbitrary wide data: `df` must expose a metric
    * column, tag columns, a Long-ns ts column and a Double value column.
    * This is the "registration on write" path (reference:
    * standalone_database_session.cc:39-87) — the catalog is derived from
    * the distinct (metric, tags) combinations and ids assigned by a stable
    * 64-bit hash of the canonical name, so ingestion is idempotent and
    * needs no global sequence (which would not scale to 1000 executors).
    */
  def fromWide(
      spark: SparkSession,
      df: DataFrame,
      metricCol: String,
      tagCols: Seq[String],
      tsCol: String,
      valueCol: String,
      lonExpr: Option[String] = None,
      latExpr: Option[String] = None): TsdbContext = {

    // canonical name: metric + sorted "k=v" tag pairs, single spaces
    val tagPairs = tagCols.sorted.map(c => concat(lit(c + "="), col(c).cast(StringType)))
    val nameCol = concat_ws(" ", (col(metricCol) +: tagPairs): _*)

    val withName = df.withColumn("name", nameCol)
      .withColumn("series_id", xxhash64(col("name")))

    val catalog = withName
      .select(col("series_id"), col("name"), col(metricCol).as("metric"),
        map_from_arrays(
          array(tagCols.sorted.map(lit(_)): _*),
          array(tagCols.sorted.map(col(_).cast(StringType)): _*)).as("tags"),
        lonExpr.map(expr(_).cast(FloatType)).getOrElse(lit(null).cast(FloatType)).as("lon"),
        latExpr.map(expr(_).cast(FloatType)).getOrElse(lit(null).cast(FloatType)).as("lat"))
      .dropDuplicates("series_id")

    val samples = withName.select(
      col("series_id"),
      col(tsCol).cast(LongType).as("ts"),
      col(valueCol).cast(DoubleType).as("value"))

    TsdbContext(spark, catalog, samples, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], TsdbSchema.events))
  }

  /** Normalize a parquet-sourced timestamp column to the engine's Long
    * UTC ns, whatever the file's physical encoding:
    *   - `timestamp[ns]` arrives as LongType ns under
    *     `spark.sql.legacy.parquet.nanosAsLong` — already canonical;
    *   - `timestamp[us]` arrives as TimestampType (or TimestampNTZType
    *     when the file is not UTC-adjusted; the session TZ is pinned UTC,
    *     so the cast reads it as the same instant) — `unix_micros · 1000`.
    * Without this, `cast(ts as long)` on a TIMESTAMP silently yields
    * SECONDS and every ns-epoch range filter excludes all rows. The
    * DuckDB oracle's `epoch_ns(ts)` computes the identical value for
    * both encodings, so entries keep hash parity. */
  def normalizeTsNs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType => df
      case TimestampType =>
        df.withColumn(tsCol, unix_micros(col(tsCol)) * lit(1000L))
      case TimestampNTZType =>
        df.withColumn(tsCol,
          unix_micros(col(tsCol).cast(TimestampType)) * lit(1000L))
      case other => throw new IllegalArgumentException(
        s"unsupported timestamp encoding for '$tsCol': $other")
    }

  /** Map the driver testdata (`events.parquet`) onto the TSDB model:
    * metric = event_type, one tag `user=<user_id>`, ts = Long ns
    * (normalized from the file's encoding by [[normalizeTsNs]]), value =
    * value. The
    * event-series facts reuse the same rows with the `props` JSON string as
    * body under the `!log` event metric. Locations are synthesized
    * deterministically from user_id so spatial operators are testable and
    * oracle-reproducible.
    */
  def fromTestdata(spark: SparkSession, sfDir: String): TsdbContext = {
    // caller-supplied input (the test-data table), so Spark infers it
    val ev = normalizeTsNs(spark.read.parquet(s"$sfDir/events.parquet"))
    val base = fromWide(spark, ev.withColumnRenamed("user_id", "user"),
      metricCol = "event_type", tagCols = Seq("user"), tsCol = "ts", valueCol = "value",
      lonExpr = Some("cast(user % 36 as double) * 10.0 - 180.0 + 0.5"),
      latExpr = Some("cast(user % 18 as double) * 10.0 - 90.0 + 0.5"))

    val evName = concat(lit("!log user="), col("user_id").cast(StringType))
    val events = ev
      .withColumn("name", evName)
      .withColumn("series_id", xxhash64(col("name")))
      .select(col("series_id"), col("ts").cast(LongType).as("ts"), col("props").as("body"))

    val evCatalog = ev.select(col("user_id").cast(StringType).as("user")).distinct()
      .withColumn("name", concat(lit("!log user="), col("user")))
      .select(xxhash64(col("name")).as("series_id"), col("name"),
        lit("!log").as("metric"),
        map_from_arrays(array(lit("user")), array(col("user"))).as("tags"),
        // event series carry the same deterministic user-derived location
        // as the metric series: where-location applies to every kind
        expr("cast(user % 36 as double) * 10.0 - 180.0 + 0.5")
          .cast(FloatType).as("lon"),
        expr("cast(user % 18 as double) * 10.0 - 90.0 + 0.5")
          .cast(FloatType).as("lat"))

    base.copy(series = base.series.unionByName(evCatalog), events = events)
  }

  /** Standard session settings the engine expects. Call when building your
    * own SparkSession. */
  def configure(b: SparkSession.Builder, cpus: Int = 32): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // IEEE arithmetic like the reference's C++ engine: x/0 → ±inf/NaN,
      // no overflow errors (Spark 4 defaults to ANSI, which would abort
      // the divide/eval apply nodes on zero divisors)
      .config("spark.sql.ansi.enabled", "false")

  /** The session the command-line programs (`graft.Bench`,
    * `graft.Verify`, `graft.tools.Probe`) run on: [[configure]]d for
    * `cpus` cores on `local[cpus]`, no UI, WARN logging. */
  def localSession(cpus: Int): SparkSession = {
    val spark = configure(SparkSession.builder().master(s"local[$cpus]"),
      cpus).config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
