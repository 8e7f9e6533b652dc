package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Operational monitoring over the TSDB model — the queries a fleet
  * operator runs against the catalog and facts to find silence and
  * cardinality explosions. The reference exposes no such surface (its
  * matcher/index would have to be walked by hand); here both are small
  * catalog+fact compositions.
  */
object Monitoring {

  /** Absence detection (heartbeat monitoring): series whose latest
    * sample is older than `cutoffNs`, or that never wrote at all
    * (`last_ts` null — a registered series with no facts). The query an
    * alerting pipeline runs to find dead emitters.
    *
    * Scale shape: one partial-aggregatable max per series over the fact
    * scan, then a join against the broadcast-sized catalog — the fact
    * side aggregates before anything moves. */
  def staleSeries(series: DataFrame, samples: DataFrame,
      cutoffNs: Long): DataFrame =
    series.join(
        samples.groupBy("series_id").agg(max("ts").as("last_ts")),
        Seq("series_id"), "left_outer")
      .where(col("last_ts").isNull || col("last_ts") < cutoffNs)
      .select(col("series_id"), col("name"), col("metric"), col("last_ts"))

  /** Catalog growth (churn monitoring): per day, how many series wrote
    * their FIRST sample, plus the running total — the series-creation
    * rate an operator watches for runaway registration (each new series
    * is an index entry forever; the reference's matcher grows the same
    * way, series_matcher.h). One partial-aggregatable min per series,
    * then day-keyed counts with a cumulative window over the DAYS table
    * (bounded by the retention span, never sample-sized). */
  def catalogGrowth(samples: DataFrame, dayUs: Long = 86400000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstDay = samples.groupBy("series_id").agg(min("ts").as("first_ts"))
      .select(expr(s"(first_ts div 1000) div $dayUs").as("day_idx"))
    val w = Window.orderBy("day_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDay.groupBy("day_idx").agg(count(lit(1)).as("new_series"))
      .withColumn("total_series", sum(col("new_series")).over(w))
  }

  /** Per-series robust statistics index: median and MAD (median absolute
    * deviation) of each series' values — the outlier-immune location and
    * scale estimates behind [[madAnomalies]] (a mean/σ index would be
    * dragged by the very outliers it hunts). Two exact-percentile
    * aggregation passes over a scope-cached projection (the fit and the
    * deviation pass share one scan); the result is one row per series —
    * an index-build artifact a deployment persists and the streaming
    * flag path broadcasts ([[graft.streaming.TsdbStream.flagAnomalies]]).
    *
    * Both statistics are ROUNDED to 6 decimals: Spark's percentile and
    * DuckDB's quantile_cont interpolate with different IEEE op orders,
    * so a raw-valued threshold compare could flip on the last ulp —
    * rounding before any downstream compare is the repo-wide convention
    * (the gopher-rules / length-quantiles precedent). */
  def madIndex(samples: DataFrame, keyCol: String = "series_id"): DataFrame = {
    val cached = graft.ScopedCache.cache(samples)
    val med = cached.groupBy(keyCol)
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    cached.join(med, keyCol)
      .groupBy(keyCol, "med")
      .agg(round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"))
  }

  /** Bounded-memory twin of [[madIndex]]: the same two exact-percentile
    * passes over a hash-deterministic row sample (keep a (key, ts) row
    * when `hash60(key|ts) mod 1e6 < rate·1e6` — the
    * `docs_length_quantiles_sampled` idiom). The exact form buffers
    * EVERY value of a series in the percentile aggregation buffer; one
    * hot series with billions of samples OOMs that buffer at 100 TB.
    * The sample bounds it by `rate` while staying cross-engine
    * replayable (unlike `percentile_approx`'s GK sketch, which has no
    * DuckDB twin) — the reference's own stats never buffer a series
    * either (block-local SubtreeRef aggregates, nbtree_def.h:47-84).
    *
    * Median and MAD are √n-consistent estimators, so the sampled
    * statistics converge to the exact ones as series grow — exactly the
    * regime where the exact form stops being runnable. Use the exact
    * index for bounded series counts; switch to this one (or lower
    * `rate`) when per-series sample counts are unbounded. */
  def madIndexSampled(samples: DataFrame, keyCol: String = "series_id",
      rate: Double = 0.5): DataFrame = {
    val u = pmod(graft.pipeline.Dedup.hash60(
        concat(col(keyCol).cast("string"), lit("|"), col("ts").cast("string"))),
      lit(1000000L))
    madIndex(samples.where(u < rate * 1000000.0), keyCol)
  }

  /** Robust anomaly flags against a PREBUILT med/MAD index (either
    * [[madIndex]] or [[madIndexSampled]] — a deployment persists the
    * index and scores against it): a sample is anomalous when
    * |x − median| > c · MAD (Hampel's identifier at c ≈ 3), evaluated on
    * the index's rounded statistics so the compare cannot split on
    * cross-engine percentile ulp. Series absent from the index drop out
    * (inner join): no baseline, no judgement. */
  def madAnomaliesWith(samples: DataFrame, index: DataFrame,
      keyCol: String = "series_id", c: Double = 3.0): DataFrame =
    samples.join(index, Seq(keyCol))
      .withColumn("is_anomaly",
        abs(col("value") - col("med")) > col("mad") * c)

  /** [[madAnomaliesWith]] over a freshly built exact [[madIndex]]. */
  def madAnomalies(samples: DataFrame, keyCol: String = "series_id",
      c: Double = 3.0): DataFrame =
    madAnomaliesWith(samples, madIndex(samples, keyCol), keyCol, c)

  /** Silence-interval detection: per series, every gap between
    * consecutive samples longer than `minGapNs` as an explicit
    * (gap_start, gap_end, gap_ns) interval — [[staleSeries]] answers
    * "who is silent NOW"; this answers "when was anyone silent", the
    * readout incident reviews run over history. One lag window per
    * series (one key-hash exchange); emitted rows are gap-count-sized,
    * never sample-sized. Ties on duplicate timestamps order by
    * (ts, value) — a zero-length "gap" can never clear a positive
    * threshold anyway. */
  def gaps(samples: DataFrame, minGapNs: Long,
      keyCol: String = "series_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minGapNs > 0, "gap threshold must be positive")
    val w = Window.partitionBy(keyCol).orderBy("ts", "value")
    samples
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .where(col("__prev").isNotNull &&
        col("ts") - col("__prev") > minGapNs)
      .select(col(keyCol), col("__prev").as("gap_start"),
        col("ts").as("gap_end"),
        (col("ts") - col("__prev")).as("gap_ns"))
  }

  /** The complement of [[gaps]]: per-series ACTIVITY sessions — maximal
    * runs of samples where consecutive spacings stay under `gapNs`
    * (a spacing ≥ gapNs starts a new session). Reported as the observed
    * interval [first sample, last sample] with count and value extrema;
    * the streaming twin ([[graft.streaming.TsdbStream.sessionize]] via
    * Spark session windows) reports end = last + gap by that API's
    * convention — same session MEMBERSHIP, different end label
    * (documented in QUERYLANG.md). Session membership depends only on
    * the ts multiset (duplicate-ts rows have spacing 0 and can never
    * split), so results are deterministic under Spark's unordered
    * shuffle. One lag window + one cumulative sum over the per-series
    * sort gaps already pays; output is session-count-sized. */
  def sessions(samples: DataFrame, gapNs: Long,
      keyCol: String = "series_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gapNs > 0, "session gap must be positive")
    val w = Window.partitionBy(keyCol).orderBy("ts", "value")
    samples
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull ||
          col("ts") - col("__prev") >= gapNs, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("__sid"))
      .agg(min(col("ts")).as("__s"), max(col("ts")).as("__e"),
        count(lit(1)).as("n"),
        min(col("value")).as("__min"), max(col("value")).as("__max"))
      .select(col(keyCol),
        expr("__s div 1000").as("start_us"),
        expr("__e div 1000").as("end_us"),
        col("n"),
        round(col("__min"), 6).as("min"),
        round(col("__max"), 6).as("max"))
  }

  /** [[gaps]] with a PER-SERIES adaptive threshold: flag gaps longer
    * than `factor` × the series' own mean spacing
    * ((max ts − min ts)/(n − 1)) — a 10 Hz series and a daily series
    * get judged each by its own cadence, so one fixed threshold doesn't
    * drown one and blind the other. Series with fewer than two samples
    * have no spacing and drop out. The stats frame is series-sized and
    * broadcast; the lag window is the one key-hash exchange. Unit-
    * agnostic: feed ns or µs consistently (the mean-spacing division is
    * the only double op, computed from the same integers on any
    * mirror). */
  def gapsRelative(samples: DataFrame, factor: Double = 3.0,
      keyCol: String = "series_id"): DataFrame =
    gapsRelativeWith(samples, gapThresholdIndex(samples, factor, keyCol),
      keyCol)

  /** The flag half of [[gapsRelative]] against a PREBUILT cadence
    * index ((keyCol, thr) rows — [[gapThresholdIndex]] persisted, or
    * the engine's registered [[graft.model.GapIndexDef]]): one lag
    * window over one fact pass, thresholds broadcast. Series absent
    * from the index drop out (inner join): no cadence model, no
    * judgement — the [[madAnomaliesWith]] contract for gaps. */
  def gapsRelativeWith(samples: DataFrame, index: DataFrame,
      keyCol: String = "series_id",
      /** how the per-series threshold index meets the lagged samples:
        * broadcast by default (the index is series-count-sized); the
        * engine passes its catalog-ceiling hint so a beyond-broadcast
        * fleet flips this join to a shuffle with the rest
        * ([[graft.engine.Engine.MaxBroadcastSeries]]). */
      hint: DataFrame => DataFrame = broadcast): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy("ts", "value")
    samples
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .join(hint(index), Seq(keyCol))
      .where(col("__prev").isNotNull &&
        (col("ts") - col("__prev")).cast("double") > col("thr"))
      .select(col(keyCol), col("__prev").as("gap_start"),
        col("ts").as("gap_end"),
        (col("ts") - col("__prev")).as("gap_ns"))
  }

  /** The ONE cadence model behind the adaptive gap rule: per series,
    * `thr` = factor × mean spacing ((max ts − min ts)/(n − 1));
    * series with < 2 samples have no spacing and drop out. Shared by
    * [[gapsRelative]] and the streaming flag path
    * ([[graft.streaming.TsdbStream.flagGaps]]' offline model build) so
    * batch and stream judge by bit-identical thresholds — the formula
    * lives HERE once, not re-derived per call site. */
  def gapThresholdIndex(samples: DataFrame, factor: Double = 3.0,
      keyCol: String = "series_id"): DataFrame = {
    require(factor > 0, "factor must be positive")
    samples.groupBy(keyCol)
      .agg((((max(col("ts")) - min(col("ts"))).cast("double") /
          (count(lit(1)) - 1).cast("double")) * factor).as("thr"),
        count(lit(1)).as("__n"))
      .where(col("__n") >= 2)
      .select(col(keyCol), col("thr"))
  }

  /** Seasonal (phase-of-period) robust bands: per (series, phase bin)
    * the histogram-served [pLo, pHi] value band — the baseline behind
    * "is this value unusual FOR 3am" (a global MAD index
    * ([[madIndex]]) calls every rush hour an anomaly; a per-phase band
    * judges each sample against its own time-of-day/day-of-week
    * regime). `phase` = (ts mod periodNs) / binNs — e.g. period 1d,
    * bin 1h → 24 hourly phases.
    *
    * Served from [[HistQuantiles]] log-bucket counts, so the fit is
    * bounded (≤ ~8·53 longs per (series, phase) at ANY row count — no
    * exact-percentile value buffer) and SQL-replayable. The band is
    * the bucket HULL: `lo` = the pLo bucket's LOWER value edge (−1 µu
    * for the underflow bucket, whose hull is (−1, 1) µu), `hi` = the
    * pHi bucket's UPPER value edge ([[HistQuantiles.bucketHiKey]]) — a
    * flag means the value lies outside every value those percentile
    * buckets ever saw, so a tight in-band spread never self-flags no
    * matter how coarse the log buckets are at its magnitude. */
  def seasonalBands(samples: DataFrame, periodNs: Long, binNs: Long,
      keyCol: String = "series_id",
      pLo: String = "0.05", pHi: String = "0.95"): DataFrame = {
    require(periodNs > 0 && binNs > 0 && periodNs % binNs == 0,
      "period must be a positive whole number of bins")
    bandsFromHist(
      HistQuantiles.histogram(
        samples.withColumn("phase",
          expr(s"pmod(ts, ${periodNs}L) div ${binNs}L")),
        Seq(keyCol, "phase")),
      keyCol, pLo, pHi)
  }

  /** The band computation from an ALREADY-BUILT phase histogram
    * (`(keyCol, phase, lo, cnt)` rows, [[HistQuantiles.histogram]]
    * shape) — shared by [[seasonalBands]] (fresh scan) and index-served
    * statements ([[graft.engine.Engine]] merges a registered
    * window-keyed histogram's counts to phases and calls this): bucket
    * counts are exact, so a served band equals the scan-built one
    * bit-for-bit. */
  def bandsFromHist(hist: DataFrame, keyCol: String,
      pLo: String, pHi: String): DataFrame = {
    val qk = HistQuantiles.quantileKeys(hist,
      Seq(keyCol, "phase"), Seq(pLo, pHi))
    qk.groupBy(keyCol, "phase").agg(
        min(when(col("p") === pLo, col("lo_key"))).as("__lok"),
        min(when(col("p") === pHi, col("lo_key"))).as("__hik"))
      .select(col(keyCol), col("phase"),
        // the underflow bucket (key 0) covers (−1, 1) µu, so its HULL
        // lower edge is −1 µu — using the key itself (0) would self-
        // flag negative near-zero values the bucket saw
        round(when(col("__lok") === 0, lit(-1L)).otherwise(col("__lok"))
          / lit(1000000.0), 6).as("lo"),
        round(HistQuantiles.bucketHiKey(col("__hik")) / lit(1000000.0), 6)
          .as("hi"))
  }

  /** Samples outside their phase's [lo, hi] band, against a PREBUILT
    * [[seasonalBands]] index (persist the bands, judge any batch or
    * stream against them — the model-offline/flag-online split). The
    * bands frame is (series × phases)-sized and broadcast; the fact
    * side stays map-local. Series/phases absent from the index drop
    * out: no baseline, no judgement.
    *
    * The compare runs on the µu-QUANTIZED value — the same round(v·1e6)
    * the band was fit on — so the hull guarantee is exact: a value
    * whose quantized form landed in the band's buckets can never flag
    * (a raw-value compare admits a ±0.5 µu sliver at the band edges
    * where the raw value sits outside the rounded edge yet quantized
    * INTO a fitted bucket). Band edges are 6dp values of exact µu keys,
    * so round(edge·1e6) recovers the key in both engines. */
  def seasonalOutliersWith(samples: DataFrame, bands: DataFrame,
      periodNs: Long, binNs: Long,
      keyCol: String = "series_id"): DataFrame = {
    def qu(c: org.apache.spark.sql.Column) =
      round(c * lit(1000000.0), 0).cast("long")
    samples
      .withColumn("phase", expr(s"pmod(ts, ${periodNs}L) div ${binNs}L"))
      .join(broadcast(bands), Seq(keyCol, "phase"))
      .where(qu(col("value")) < qu(col("lo")) ||
        qu(col("value")) > qu(col("hi")))
  }

  /** [[seasonalOutliersWith]] over freshly fit bands on the same data.
    * The fit and the flag pass share one scope-cached scan (the
    * [[madIndex]] idiom — the caller's ScopedCache.release() frees it). */
  def seasonalOutliers(samples: DataFrame, periodNs: Long, binNs: Long,
      keyCol: String = "series_id",
      pLo: String = "0.05", pHi: String = "0.95"): DataFrame = {
    val cached = graft.ScopedCache.cache(samples)
    seasonalOutliersWith(cached,
      seasonalBands(cached, periodNs, binNs, keyCol, pLo, pHi),
      periodNs, binNs, keyCol)
  }

  /** Cardinality monitoring: per (metric, tag key), the distinct tag
    * values and series count — the readout that catches tag-value
    * explosions (the failure mode that melts every TSDB's index; the
    * reference's inverted index grows a posting list per value,
    * invertedindex.h:374, with nothing watching it). Catalog-only: one
    * explode of the tag map + partial-aggregatable counts. */
  def tagCardinality(series: DataFrame): DataFrame =
    series.select(col("metric"),
        explode(col("tags")).as(Seq("tag_key", "tag_value")))
      .groupBy("metric", "tag_key")
      .agg(countDistinct("tag_value").as("n_values"),
        count(lit(1)).as("n_series"))
}
