package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Dataset, Encoders}

import graft.query.Ast.AggFunc

/** Streaming ingestion + continuous downsampling.
  *
  * The reference has no continuous-query engine — its "streaming" is the
  * RESP/OpenTSDB ingestion path feeding the store, and queries re-run over
  * storage (SURVEY §1.1). Here the same capability is expressed with
  * Structured Streaming: `readStream` (socket/Kafka/file) → the *same*
  * parser/column algebra as batch ([[graft.sources.OpenTsdb]]) →
  * event-time windowed aggregation with watermarked state → parquet/console
  * sink. Because parsers and aggregations are plain DataFrame transforms,
  * every operator here also runs unchanged on a batch DataFrame — tests
  * exercise both paths.
  *
  * Scale notes: the only state held by a streaming downsample is one
  * aggregation buffer per (series, open window); the watermark bounds open
  * windows, so state is O(active series), independent of throughput.
  * Ingestion parsing is stateless and scales linearly with input partitions
  * (= Kafka partitions).
  */
// Serializable: stateful-fold lambdas that call the object's helper
// methods (trendBuild's rounding) capture the object in their closure
object TsdbStream extends Serializable {

  /** ns → µs TimestampType column (event time for watermarking).
    * Integer division — `/` on Long columns is double division and loses
    * ns precision beyond 2^53. */
  def eventTime(tsNs: Column): Column =
    timestamp_micros(graft.functions.VectorExpressions.longDiv(tsNs.cast("long"), 1000L))

  /** Continuous rollup maintenance: the full SubtreeRef-style accumulator
    * ([[graft.engine.Rollup.buildAggs]]) per (series, epoch-aligned fine
    * bin), watermarked so a bin is emitted exactly once when it finalizes
    * (append mode). Sinking this to the rollup's parquet path keeps the
    * materialized rollup fresh as data arrives — the operational
    * requirement behind the engine's rollup serving at 100 TB. Window
    * starts equal the batch builder's `ts − ts % step` bins, so streamed
    * and batch-built rollups are interchangeable (spec-pinned).
    *
    * `stepNs` must be a whole number of µs (the watermark clock is
    * Spark's µs TimestampType; the engine's ns bin arithmetic stays
    * exact because ns timestamps inside the accumulators are untouched). */
  def rollupBuild(samples: DataFrame, stepNs: Long, lateness: String): DataFrame = {
    require(stepNs > 0 && stepNs % 1000 == 0,
      "rollup step must be positive whole microseconds")
    val aggs = graft.engine.Rollup.buildAggs
    samples
      .withColumn("event_time", eventTime(col("ts")))
      .withWatermark("event_time", lateness)
      .groupBy(col("series_id"),
        window(col("event_time"), s"${stepNs / 1000} microseconds"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bin", unix_micros(col("window.start")) * 1000L)
      .drop("window")
      .select(col("series_id") +: col("bin") +:
        graft.engine.Rollup.accNames.map(col): _*)
  }

  /** Continuous quantile-histogram maintenance: per (name, window,
    * bucket lower edge) counts, watermarked append — the streaming
    * builder of [[graft.ops.HistQuantiles]]' mergeable index. Each
    * finalized window emits its bucket counts exactly once; because
    * bucket counts MERGE BY ADDITION, the sink rows concatenated with
    * any batch-built history serve p50/p99 over any range — keeping a
    * 100 TB percentile index fresh as data arrives, the same
    * operational contract as [[rollupBuild]] for min/max/sum/cnt. The
    * bucketing is [[graft.ops.HistQuantiles.bucketLo]]'s integer bit
    * arithmetic, so streamed and batch-built histograms are
    * bit-identical (entry-gated). */
  def histBuild(samples: DataFrame, stepNs: Long, lateness: String): DataFrame = {
    require(stepNs > 0 && stepNs % 1000 == 0,
      "histogram step must be positive whole microseconds")
    samples
      .withColumn("event_time", eventTime(col("ts")))
      .withColumn("lo", graft.ops.HistQuantiles.bucketLo(col("value")))
      .withWatermark("event_time", lateness)
      .groupBy(col("name"),
        window(col("event_time"), s"${stepNs / 1000} microseconds"),
        col("lo"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("cnt"))
      .withColumn("win", unix_micros(col("window.start")) * 1000L)
      .drop("window")
      .select(col("name"), col("win"), col("lo"), col("cnt"))
  }

  /** Continuous group-aggregate: time-bucketed min/max/sum/cnt/mean per
    * series, watermarked so late data beyond `lateness` is dropped and
    * window state is reclaimed. Mirrors the batch GROUP_AGGREGATE kind
    * (SURVEY §2.1) with bins aligned to the epoch.
    *
    * @param samples streaming or batch DataFrame (series_id|name, ts, value)
    * @param step     bucket width, e.g. "1 minute"
    * @param lateness watermark delay, e.g. "10 minutes"
    */
  def downsample(samples: DataFrame, step: String, lateness: String,
      funcs: Seq[AggFunc] = Seq(AggFunc.Min, AggFunc.Max, AggFunc.Cnt)): DataFrame = {
    val keyCol = if (samples.columns.contains("name")) "name" else "series_id"
    val aggs = funcs.map {
      case AggFunc.Min => min(col("value")).as("min")
      case AggFunc.Max => max(col("value")).as("max")
      case AggFunc.Sum => sum(col("value")).as("sum")
      case AggFunc.Cnt => count(col("value")).cast("double").as("cnt")
      case AggFunc.Mean => avg(col("value")).as("mean")
      case f => throw new IllegalArgumentException(
        s"streaming downsample supports min/max/sum/cnt/mean, not ${f.token}")
    }
    samples
      .withColumn("event_time", eventTime(col("ts")))
      .withWatermark("event_time", lateness)
      .groupBy(col(keyCol), window(col("event_time"), step))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(keyCol) +: col("window.start").as("bin") +: funcs.map(f => col(f.token)): _*)
  }

  /** Continuous sessionization: events closer than `gap` chain into one
    * session per series (built-in `session_window` — one open-session
    * state row per series on a stream, reclaimed past the watermark; runs
    * identically on a batch frame). Session end = last event + gap. */
  def sessionize(samples: DataFrame, gap: String, lateness: String): DataFrame = {
    val keyCol = if (samples.columns.contains("name")) "name" else "series_id"
    samples
      .withColumn("event_time", eventTime(col("ts")))
      .withWatermark("event_time", lateness)
      .groupBy(col(keyCol), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min"), max(col("value")).as("max"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"), col("min"), col("max"))
  }

  /** Streaming exact dedup of samples on (series, ts) within the watermark
    * horizon — the ingestion-side guard the reference gets from its
    * tree-append idempotence. */
  def dedup(samples: DataFrame, lateness: String): DataFrame = {
    val keyCol = if (samples.columns.contains("name")) "name" else "series_id"
    samples
      .withColumn("event_time", eventTime(col("ts")))
      .withWatermark("event_time", lateness)
      .dropDuplicates(Seq(keyCol, "ts"))
      .drop("event_time")
  }

  /** Live ingest into a LIFECYCLE-MANAGED corpus store
    * ([[graft.pipeline.CorpusStore]]) — the streaming half of the
    * accept path: each micro-batch of already-curated documents lands
    * through the store's staged protocol (record before mutate, heal
    * applies), with the batch's `__batch` identity derived from
    * (streamTag, MICRO-BATCH ID) so foreachBatch's at-least-once
    * redelivery re-overwrites the same partitions instead of
    * duplicating — exactly-once at the store, like the file sink's
    * commit log gives the plain-directory form ([[corpusIngest]]'s
    * sink). `streamTag` is the Delta-txnAppId analog: one stable tag
    * per logical feed AND checkpoint lineage — re-pointing the feed at
    * a FRESH checkpoint must change the tag, or the restarted
    * micro-batch ids would overwrite the old tag's batches
    * ([[graft.pipeline.CorpusStore.acceptStreamBatch]]). The dedup
    * index (hashes + bands) covers every streamed document the moment
    * its trigger completes: register-on-first-write
    * (standalone_database_session.cc:39-87) for the corpus half,
    * continuously — and documents a takedown tombstoned while the
    * stream was down stay out even across redelivery. Compose upstream
    * with [[corpusIngest]] / [[dedupDocumentsByContent]] /
    * [[incrementalDedup]] for the curation gates. */
  def corpusStoreIngest(docs: DataFrame, dir: String, checkpoint: String,
      streamTag: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.pipeline.CorpusStore.acceptStreamBatch(
          batch.sparkSession, dir, batch, id, streamTag)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Continuous vector accepts into a lifecycle-managed
    * [[graft.pipeline.EmbeddingStore]]: each micro-batch lands as one
    * accepted batch through the staged record-before-mutate protocol
    * ([[graft.pipeline.EmbeddingStore.acceptStreamBatch]]) — assigned
    * to the current epoch's cells (PQ-encoded when the recipe says
    * so), partition identity (streamTag, micro-batch id) so
    * redelivery is exactly-once at the index, tombstone-filtered so a
    * vector taken down while the stream was down stays out. The kNN
    * partitions cover every streamed vector the moment its trigger
    * completes — register-on-first-write for the embedding half
    * (standalone_database_session.cc:39-87), continuously. */
  def embeddingStoreIngest(vectors: DataFrame, dir: String,
      checkpoint: String,
      streamTag: String): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.pipeline.EmbeddingStore.acceptStreamBatch(
          batch.sparkSession, dir, batch, id, streamTag)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Stateless streaming curation gate for corpus INGEST: per-document
    * quality features + composite score ([[graft.pipeline.TextOps.quality]]
    * is a pure projection, so it runs unchanged on a streaming frame)
    * with sub-threshold documents dropped in flight. Point the result at
    * a parquet file sink partitioned like [[graft.model.CorpusLayout]]:
    * the sink's `_spark_metadata` commit log gives file-level
    * exactly-once, so a crashed ingest resumes from its checkpoint
    * without duplicating documents — the streaming half of the corpus
    * write path (entry `stream_corpus_ingest` commits a real file sink
    * and oracle-checks the committed directory). */
  def corpusIngest(docs: DataFrame, minQuality: Double = 0.25): DataFrame =
    graft.pipeline.TextOps.quality(docs, "doc_id", "text",
        keep = Seq("source"))
      .where(col("quality") >= minQuality)

  /** Content-hash exact dedup for a DOCUMENT stream (ingest-time
    * counterpart of Dedup.exact): drop any document whose text hash was
    * already seen within the watermark horizon. State is bounded by the
    * horizon (dropDuplicatesWithinWatermark evicts expired hashes) — the
    * property that lets this run forever on a corpus firehose. `tsCol`
    * is the document's event-time Long-ns column. */
  def dedupDocumentsByContent(docs: DataFrame, textCol: String,
      tsCol: String, lateness: String): DataFrame =
    docs
      .withColumn("__text_hash", org.apache.spark.sql.functions.md5(col(textCol)))
      .withColumn("event_time", eventTime(col(tsCol)))
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark(Seq("__text_hash"))
      .drop("event_time", "__text_hash")

  /** Streaming incremental dedup — the continuous-ingest form of
    * [[graft.pipeline.Dedup.dedupAgainstCorpus]]'s exact tier: drop any
    * streamed document whose content hash already exists in the STATIC
    * curated corpus, then drop in-stream repeats within the watermark
    * horizon. The corpus index (`corpusHashes`, one md5 `text_hash`
    * column — persisted at curation time; recomputing it per run is only
    * for self-contained entries) broadcasts and each micro-batch probes
    * it as a stream-static anti-join, so the corpus itself is never
    * rescanned per trigger. In-stream state is one hash per unexpired
    * document (dropDuplicatesWithinWatermark evicts at the horizon),
    * which is what lets this run forever on a crawl firehose. */
  def incrementalDedup(docs: DataFrame, corpusHashes: DataFrame,
      textCol: String, tsCol: String, lateness: String): DataFrame =
    docs
      .withColumn("__text_hash", md5(col(textCol)))
      .join(broadcast(corpusHashes),
        col("__text_hash") === col("text_hash"), "left_anti")
      .withColumn("event_time", eventTime(col(tsCol)))
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark(Seq("__text_hash"))
      .drop("event_time", "__text_hash")

  /** Stream-stream interval join: left samples paired with same-series
    * right samples whose event time lies in [left − window, left] — the
    * streaming counterpart of [[graft.ops.TimeJoins.rangeJoin]] and the
    * building block of a streaming as-of (keep the max right ts per left
    * row downstream). Both sides are watermarked, so join state is
    * bounded by window + lateness per series; on batch frames it planned
    * as an ordinary range join. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      windowUs: Long, lateness: String): DataFrame = {
    val l = left
      .select(col("name"), col("ts").as("l_ts"), col("value").as("l_value"))
      .withColumn("l_time", eventTime(col("l_ts")))
      .withWatermark("l_time", lateness)
    val r = right
      .select(col("name").as("r_name"), col("ts").as("r_ts"),
        col("value").as("r_value"))
      .withColumn("r_time", eventTime(col("r_ts")))
      .withWatermark("r_time", lateness)
    l.join(r,
        col("name") === col("r_name") &&
        col("r_time") >= col("l_time") - expr(s"INTERVAL $windowUs MICROSECOND") &&
        col("r_time") <= col("l_time"))
      .select(col("name"), col("l_ts"), col("r_ts"),
        col("l_value"), col("r_value"))
  }

  /** Per-series as-of probe index over a STATIC right side: each series'
    * (ts, value) rows as ts-sorted parallel arrays. Built once at index
    * time (one partial-aggregatable groupBy) and broadcast to every
    * micro-batch by [[asofStatic]] — the array form is what makes the
    * probe an in-row expression instead of a join fan-out.
    *
    * TIE RULE (pinned): equal-timestamp right rows resolve to
    * MAX(value) per (name, ts) — the same largest-value rule the batch
    * form ([[graft.ops.TimeJoins.asof]]) pins via its carry-window
    * ordering, where both a raw window carry and DuckDB's native ASOF
    * are arbitrary. One rule, both forms, so batch and stream agree
    * row-for-row on tied data (EquivalenceSpec pins it; the
    * ts_asof_join_ties entry oracle-locks it). The dedup folds IN-ROW
    * on the sorted struct array (keep the last struct of each ts run —
    * array_sort orders by (ts, value), so that is the max), keeping the
    * index build at its one name-keyed exchange instead of adding a
    * (name, ts) pre-aggregation shuffle. */
  def asofIndex(right: DataFrame): DataFrame =
    right.groupBy(col("name").as("__r_name"))
      .agg(array_sort(collect_list(struct(col("ts"), col("value"))))
        .as("__arr0"))
      .withColumn("__arr", expr(
        "filter(__arr0, (s, i) -> i = size(__arr0) - 1 OR __arr0[i + 1].ts != s.ts)"))
      .select(col("__r_name"),
        transform(col("__arr"), s => s.getField("ts")).as("__r_ts"),
        transform(col("__arr"), s => s.getField("value")).as("__r_val"))

  /** Stream-static as-of join: each streamed left sample picks up the
    * latest right value of its series at or before its own timestamp
    * (within `toleranceNs` if set) from an [[asofIndex]] — STATELESSLY.
    * The index broadcasts and the match is an in-row ordinal probe
    * (count of index timestamps <= sample ts), so a micro-batch costs
    * one broadcast-hash-join probe per row and the stream carries no
    * state at all — the same probe-a-static-index shape as
    * [[incrementalDedup]]'s hash index. Sized for a bounded right side
    * (a reference feed / dimension history); when the static side is
    * itself corpus-scale, run the batch [[graft.ops.TimeJoins.asof]]
    * per micro-batch via foreachBatch instead. */
  def asofStatic(left: DataFrame, rightIndex: DataFrame,
      toleranceNs: Option[Long] = None,
      asCol: String = "r_value"): DataFrame = {
    val i = size(filter(col("__r_ts"), t => t <= col("ts")))
    val matchTs = element_at(col("__r_ts"), col("__i"))
    val tolOk = toleranceNs match {
      case Some(tol) => col("ts") - matchTs <= tol
      case None => lit(true)
    }
    left.join(broadcast(rightIndex),
        col("name") === col("__r_name"), "left_outer")
      .withColumn("__i", i)
      .withColumn(asCol,
        when(col("__i") > 0 && tolOk, element_at(col("__r_val"), col("__i"))))
      .drop("__r_name", "__r_ts", "__r_val", "__i")
  }

  /** Flag anomalous samples in-flight against a broadcast robust-stats
    * index ([[graft.ops.Monitoring.madIndex]] rows: name, med, mad):
    * keep samples with |x − med| > c·MAD. STATELESS — model offline,
    * flag online, the same static-index-probe shape as [[asofStatic]]
    * and [[incrementalDedup]]. Series absent from the index are DROPPED
    * (no history → no baseline to judge against — the output is the
    * anomaly stream only, not an annotate-and-forward of all samples). */
  def flagAnomalies(stream: DataFrame, index: DataFrame,
      c: Double = 3.0): DataFrame =
    stream.join(broadcast(index), Seq("name"))
      .where(abs(col("value") - col("med")) > col("mad") * c)
      .drop("med", "mad")

  case class EwmaRow(name: String, ts: Long, value: Double)
  case class EwmaOut(name: String, ts: Long, value: Double, ewma: Double)
  case class EwmaSt(v: Double, n: Long)

  /** Continuous per-series EWMA over an append stream — the streaming twin
    * of the `ewma` apply node, carrying its recursive state in
    * `mapGroupsWithState` (unbounded-lateness variant; batch path uses
    * [[graft.ops.ApplyNodes]]). State: 16 bytes per series. Rows within a
    * micro-batch are folded in (ts) order. */
  def ewma(samples: DataFrame, decay: Double): DataFrame = {
    implicit val rowEnc = Encoders.product[EwmaRow]
    implicit val stEnc = Encoders.product[EwmaSt]
    implicit val outEnc = Encoders.kryo[List[EwmaOut]]
    val keyCol = if (samples.columns.contains("name")) col("name") else col("series_id").cast("string")
    val ds: Dataset[EwmaRow] = samples
      .select(keyCol.as("name"), col("ts"), col("value").cast("double"))
      .as[EwmaRow]
    val listed = ds.groupByKey(_.name)(Encoders.STRING)
      .mapGroupsWithState[EwmaSt, List[EwmaOut]](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[EwmaRow], state: GroupState[EwmaSt]) =>
          var st = state.getOption.getOrElse(EwmaSt(0.0, 0L))
          val out = rows.toSeq.sortBy(_.ts).map { r =>
            st = if (st.n == 0L) EwmaSt(r.value, 1L)
            else EwmaSt(decay * r.value + (1.0 - decay) * st.v, st.n + 1L)
            EwmaOut(key, r.ts, r.value, st.v)
          }
          state.update(st)
          out.toList
      }
    implicit val flatEnc = Encoders.product[EwmaOut]
    listed.flatMap(identity).toDF("name", "ts", "value", "ewma")
  }

  case class StaleIn(name: String, ts: Long, thr: Long,
    event_time: java.sql.Timestamp)
  case class StaleAlert(name: String, last_ts: Long)

  /** Online silence ALERTING — the timeout-clock variant [[flagGaps]]'
    * Scaladoc points at: emit (name, last-seen ts) the moment a series
    * has been silent longer than its threshold, WITHOUT waiting for its
    * next sample. Two triggers produce one deterministic alert set:
    *
    *  - arrival: a new sample after a longer-than-`thr` silence emits
    *    the episode inline (the [[flagGaps]] rule, ns-exact);
    *  - timeout: `EventTimeTimeout` at (last + thr) — when the
    *    WATERMARK (other series' progress) passes a series' deadline
    *    first, the alert fires with no sample arriving at all. The
    *    timed-out state is removed; a later sample starts a fresh
    *    episode, so each silence alerts exactly once whichever trigger
    *    wins the race.
    *
    * For a globally ts-ordered feed (the harness convention — and any
    * in-order broker) the two triggers emit the SAME tuple for a
    * mid-stream episode, so the alert set equals: ns-exact gaps > thr,
    * plus terminally-silent series whose ms-floored deadline
    * ⌊(last+thr)/10⁶⌋ lies strictly below the final watermark — the
    * oracle-replayable contract (entry-gated). State: 16 bytes per live
    * series; alerted series hold NO state until they speak again.
    * `index`: broadcast (name, thr) with thr in ns; series absent from
    * the index are dropped (no threshold, no judgement). */
  def flagStale(stream: DataFrame, index: DataFrame,
      lateness: String): DataFrame = {
    implicit val rowEnc = Encoders.product[StaleIn]
    implicit val stEnc = Encoders.product[(Long, Long)]
    implicit val outEnc = Encoders.product[StaleAlert]
    // watermark BEFORE the index join: rows without a threshold (e.g. a
    // harness sentinel) still advance the clock even though they carry
    // no state of their own
    val ds: Dataset[StaleIn] = stream
      .withColumn("event_time", eventTime(col("ts")))
      .withWatermark("event_time", lateness)
      .join(broadcast(index), Seq("name"))
      .select(col("name"), col("ts"), col("thr").cast("long"),
        col("event_time"))
      .as[StaleIn]
    ds.groupByKey(_.name)(Encoders.STRING)
      .flatMapGroupsWithState[(Long, Long), StaleAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[StaleIn],
            state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val (last, _) = state.get
            state.remove()
            Iterator(StaleAlert(key, last))
          } else {
            val out = scala.collection.mutable.ListBuffer.empty[StaleAlert]
            var (last, thr) = state.getOption.getOrElse((Long.MinValue, 0L))
            rows.toSeq.sortBy(_.ts).foreach { r =>
              if (last != Long.MinValue && r.ts - last > r.thr)
                out += StaleAlert(key, last)
              last = math.max(last, r.ts)
              thr = r.thr
            }
            state.update((last, thr))
            // deadline in the watermark's ms clock; an already-overdue
            // series (unreachable on an ordered feed) defers one batch
            state.setTimeoutTimestamp(math.max(
              Math.floorDiv(last + thr, 1000000L),
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
      .toDF("name", "last_ts")
  }

  /** Continuous bucket-mean maintenance — the streaming builder of the
    * [[graft.ops.Stats]] correlation machinery's reduced frame: per
    * (series, epoch-aligned bucket) the EXACT integer ingredients of
    * the milli-quantized bucket mean (µu sum + count), watermarked so
    * each bucket finalizes exactly once (append mode). Serving runs
    * [[graft.ops.Stats.meansFromSums]] +
    * [[graft.ops.Stats.corrFromBucketMeans]] over the sink — the
    * streamed correlation equals the batch scan's bit-for-bit (integer
    * sums add; the double formula is shared). State is one (sum, cnt)
    * pair per open (series, bucket); sink rows are series × buckets —
    * the same bounded contract as [[rollupBuild]], carrying the
    * quantized sums the correlation ops need (a raw-double rollup sum
    * would NOT replay the µu-per-row quantization).
    *
    * PRECONDITION — non-negative timestamps: the µs event-time clock
    * truncates toward zero, so a pre-epoch ns timestamp would land one
    * window above the batch builder's floorDiv bucket (the same
    * epoch-clock convention as every watermarked op here; the engine's
    * data model is UTC-ns since epoch, where this is vacuous). */
  def bucketMeansBuild(samples: DataFrame, bucketNs: Long,
      lateness: String): DataFrame = {
    require(bucketNs > 0 && bucketNs % 1000 == 0,
      "bucket width must be positive whole microseconds")
    samples
      .withColumn("event_time", eventTime(col("ts")))
      .withColumn("__q", round(col("value") * lit(1000000.0), 0).cast("long"))
      .withWatermark("event_time", lateness)
      .groupBy(col("name"),
        window(col("event_time"), s"${bucketNs / 1000} microseconds"))
      .agg(sum(col("__q")).as("__s"),
        count(org.apache.spark.sql.functions.lit(1)).as("__c"))
      .select(col("name"),
        graft.functions.VectorExpressions.longDiv(
          unix_micros(col("window.start")) * 1000L, bucketNs).as("__b"),
        col("__s"), col("__c"))
  }

  case class TrendIn(name: String, ts: Long, value: Double)
  case class TrendMoments(name: String, seq: Long, n_buckets: Long,
      __sx: Long, __sy: Long, __sxy: Long, __sxx: Long,
      __lx: Long, __b0: Long, late_n: Long)
  // public like every state case class here: the state encoder's
  // generated code constructs/reads it reflectively
  case class TrendSt(b0: Long, cur: Long, curSum: Long,
      curCnt: Long, n: Long, sx: Long, sy: Long, sxy: Long, sxx: Long,
      seq: Long, late: Long)

  /** Spark's `round(double, 0)` semantics exactly
    * (BigDecimal.valueOf → HALF_UP, the catalyst Round expression's
    * double path): the streamed moment maintainer must quantize values
    * and bucket means bit-identically to the batch
    * [[graft.ops.Stats]] bucketMeans columns. */
  private def sparkRoundLong(x: Double): Long =
    // non-finite inputs follow the batch path exactly: Spark's round()
    // passes NaN/±Inf through and the non-ANSI double→long cast maps
    // NaN → 0, ±Inf → Long.Min/Max — BigDecimal.valueOf would THROW on
    // them instead, turning one bad sample into a dead StreamingQuery
    if (x.isNaN) 0L
    else if (x == Double.PositiveInfinity) Long.MaxValue
    else if (x == Double.NegativeInfinity) Long.MinValue
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** Continuous OLS-trend maintenance: per series, the integer moment
    * set of [[graft.ops.Stats.trend]] (rebased-x milli-unit moments —
    * n, Σx, Σy, Σxy, Σx², last x, first bucket) kept as ~80 bytes of
    * state and re-emitted each batch (update mode; `seq` picks a key's
    * latest row at read time). Feeding the latest moments to
    * [[graft.ops.Stats.trendFromMoments]] yields the SAME slope and
    * forecast as the batch op over the accumulated feed (entry-gated +
    * spec-pinned equivalence) — the capacity-planning readout
    * maintained online, without ever re-scanning history.
    *
    * Bucket means quantize with the identical HALF_UP double rounding
    * as the batch columns ([[sparkRoundLong]]); a bucket CLOSES when a
    * later bucket's first row arrives, and the still-open bucket is
    * folded into each emission as if closed — so after the final batch
    * of an ordered feed the emitted moments ARE the batch moments.
    *
    * PRECONDITION — per-series ts order ACROSS micro-batches (the
    * [[flagGaps]] contract): a row for an already-closed bucket cannot
    * be re-opened by 80 bytes of state and is skipped (spec-pinned);
    * late data needs the batch form over the settled table. Skips are
    * OBSERVABLE, not silent: each emitted moments row carries the
    * series' cumulative skipped-late-row count as `late_n`, so an
    * operator whose feed violated the ordering contract sees the
    * degradation in the sink instead of a quietly diverged trend
    * (`late_n` > 0 ⇒ the moments describe the feed MINUS those rows).
    *
    * STATE-SCHEMA VERSION: adding the late counter changed the
    * [[TrendSt]] product encoder (10 → 11 fields), so a checkpoint
    * written by the pre-late_n trendBuild fails Spark's state-store
    * schema check at restart (StateSchemaNotCompatible) — discard the
    * old checkpoint and rebuild from the settled table when
    * upgrading; the checkpoint cannot be migrated in place. */
  def trendBuild(stream: DataFrame, bucketNs: Long): DataFrame = {
    require(bucketNs > 0 && bucketNs % 1000 == 0,
      "trend bucket must be positive whole microseconds")
    implicit val rowEnc = Encoders.product[TrendIn]
    implicit val stEnc = Encoders.product[TrendSt]
    implicit val outEnc = Encoders.product[TrendMoments]
    val ds: Dataset[TrendIn] = stream
      .select(col("name"), col("ts").cast("long"),
        col("value").cast("double"))
      .as[TrendIn]
    def bucketMean(sum: Long, cnt: Long): Long =
      sparkRoundLong(sum.toDouble / cnt.toDouble / 1000.0)
    ds.groupByKey(_.name)(Encoders.STRING)
      .mapGroupsWithState[TrendSt, TrendMoments](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[TrendIn], state: GroupState[TrendSt]) =>
          var st = state.getOption.getOrElse(
            TrendSt(Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
          rows.toSeq.sortBy(_.ts).foreach { r =>
            val b = Math.floorDiv(r.ts, bucketNs)
            val q = sparkRoundLong(r.value * 1000000.0)
            if (st.cur == Long.MinValue)
              st = st.copy(b0 = b, cur = b, curSum = q, curCnt = 1L)
            else if (b == st.cur)
              st = st.copy(curSum = st.curSum + q, curCnt = st.curCnt + 1L)
            else if (b > st.cur) {
              // close the current bucket into the moments, open the new one
              val x = st.cur - st.b0
              val m = bucketMean(st.curSum, st.curCnt)
              st = st.copy(cur = b, curSum = q, curCnt = 1L,
                n = st.n + 1L, sx = st.sx + x, sy = st.sy + m,
                sxy = st.sxy + x * m, sxx = st.sxx + x * x)
            } else
              // b < cur: late row for a closed bucket — skipped, COUNTED
              st = st.copy(late = st.late + 1L)
          }
          st = st.copy(seq = st.seq + 1L)
          state.update(st)
          // emission folds the OPEN bucket as if closed
          val x = st.cur - st.b0
          val m = bucketMean(st.curSum, st.curCnt)
          TrendMoments(key, st.seq, st.n + 1L, st.sx + x, st.sy + m,
            st.sxy + x * m, st.sxx + x * x, x, st.b0, st.late)
      }
      .toDF()
  }

  case class KmvRow(name: String, win: Long, h: Long)

  /** Continuous KMV distinct-index maintenance: per (name, window) keep
    * the k minimal distinct hash60 values and emit each hash the batch
    * it is ADMITTED to that k-min set (update mode) — the streaming
    * builder of [[graft.ops.Sketches.kmvIndex]]'s mergeable
    * distinct-count rollup, the analog of [[histBuild]] for
    * percentiles. State is ≤ 8·k bytes per (series, window); the hash
    * is computed as a COLUMN before the stateful fold, so streamed and
    * batch hashes are the same codegen'd expression.
    *
    * The sink accumulates every ever-admitted hash — a SUPERSET of each
    * window's final k-min set (an evicted hash can never be readmitted:
    * eviction means k smaller hashes exist forever). Serving re-cuts to
    * the k minimal ([[graft.ops.Sketches.kmvServe]] does this by
    * construction), and any globally-k-min hash is necessarily in its
    * own window's k-min, so the served estimate equals the batch sketch
    * EXACTLY (spec-pinned) — extra sink rows cost space, never
    * correctness. */
  def kmvBuild(stream: DataFrame, windowNs: Long, k: Int = 256): DataFrame = {
    require(windowNs > 0, "window width must be positive")
    require(k >= 2, "kmv needs k >= 2")
    implicit val rowEnc = Encoders.product[KmvRow]
    implicit val keyEnc = Encoders.product[(String, Long)]
    implicit val stEnc = Encoders.kryo[Array[Long]]
    implicit val outEnc = Encoders.kryo[List[KmvRow]]
    val hashed: Dataset[KmvRow] = stream.select(col("name"),
        graft.functions.VectorExpressions.longFloorDiv(col("ts"), windowNs)
          .as("win"),
        graft.pipeline.Dedup.hash60(col("value")).as("h"))
      .as[KmvRow]
    val listed = hashed.groupByKey(r => (r.name, r.win))
      .mapGroupsWithState[Array[Long], List[KmvRow]](
        GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[KmvRow],
            state: GroupState[Array[Long]]) =>
          val init = state.getOption.getOrElse(Array.empty[Long])
          val set = scala.collection.mutable.TreeSet.empty[Long] ++ init
          rows.foreach { r =>
            if (!set.contains(r.h)) {
              if (set.size < k) set += r.h
              else if (r.h < set.max) { set += r.h; set -= set.max }
            }
          }
          val initSet = init.toSet
          state.update(set.toArray)
          set.iterator.filterNot(initSet).map(h =>
            KmvRow(key._1, key._2, h)).toList
      }
    listed.flatMap(identity)(rowEnc).toDF("name", "win", "h")
  }

  case class GapRow(name: String, ts: Long, value: Double, thr: Double)
  case class GapOut(name: String, gap_start: Long, gap_end: Long, gap_ns: Long)

  /** Online silence detection: emit a gap interval the moment a sample
    * arrives after a longer-than-threshold silence — the streaming twin
    * of [[graft.ops.Monitoring.gapsRelative]], with the per-series
    * threshold modeled OFFLINE (broadcast `index`: (name, thr) — e.g.
    * 3× each series' historical mean spacing) and only the last-arrival
    * timestamp carried as state (8 bytes per series; the same
    * model-offline/flag-online split as [[flagAnomalies]]). Rows within
    * a micro-batch fold in (ts, value) order — the batch form's lag
    * tiebreak. Series absent from the index are dropped — no cadence
    * model, no judgement. Unit-agnostic like the batch form: feed ts
    * and thresholds in the same unit.
    *
    * PRECONDITION — per-series ts order ACROSS micro-batches: a row
    * older than the carried last-arrival timestamp is a late arrival
    * this 8-byte state cannot re-open history for (it is skipped as a
    * gap START, and the interval it would have split is already
    * emitted), so the batch-form equivalence holds only for feeds that
    * are per-series nondecreasing across batches (in-order brokers,
    * file sources of time-partitioned data). Late data needs the batch
    * form over the settled table — the same rule the watermark puts on
    * every streaming aggregate here. The degradation itself is a
    * TESTED contract, not prose (StreamingSpec "late rows never
    * re-open emitted intervals"): a late row emits nothing, moves no
    * cursor, and the next real gap measures from the true latest
    * arrival.
    *
    * NOTE: a gap is only reported when the NEXT sample arrives —
    * detecting "still silent now" needs a timeout clock
    * ([[graft.ops.Monitoring.staleSeries]] batch-side, or
    * GroupStateTimeout in a variant). */
  def flagGaps(stream: DataFrame, index: DataFrame): DataFrame = {
    implicit val rowEnc = Encoders.product[GapRow]
    implicit val stEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.kryo[List[GapOut]]
    val ds: Dataset[GapRow] = stream
      .join(broadcast(index), Seq("name"))
      .select(col("name"), col("ts"), col("value").cast("double"),
        col("thr").cast("double"))
      .as[GapRow]
    val listed = ds.groupByKey(_.name)(Encoders.STRING)
      .mapGroupsWithState[Long, List[GapOut]](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[GapRow], state: GroupState[Long]) =>
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ListBuffer.empty[GapOut]
          rows.toSeq.sortBy(r => (r.ts, r.value)).foreach { r =>
            if (last != Long.MinValue && (r.ts - last).toDouble > r.thr)
              out += GapOut(key, last, r.ts, r.ts - last)
            last = math.max(last, r.ts)
          }
          state.update(last)
          out.toList
      }
    implicit val flatEnc = Encoders.product[GapOut]
    listed.flatMap(identity).toDF("name", "gap_start", "gap_end", "gap_ns")
  }

  /** Streaming ingest INTO the queryable samples layout: sinks a
    * (series_id, ts, value, metric) stream as the same metric/ts_day-
    * partitioned parquet [[graft.model.TsdbLayout.writeSamples]] lays
    * down, through Spark's transactional FILE sink — each micro-batch
    * commits to the sink's `_spark_metadata` log, so a crash-replayed
    * batch is skipped, never duplicated (exactly-once files), and a
    * reader of the directory root sees only committed files
    * (spec-pinned by a mid-stream kill/restart). The LIVE half of
    * [[graft.model.TsdbLayout.writeDatabase]]: the directory an Engine
    * opens keeps growing as data arrives, metric/ts_day partition
    * pruning intact, no window of unqueryable data.
    *
    * Micro-batches append files unsorted within a partition — the
    * batch writer's (series_id, ts) within-file sort is a COMPACTION
    * concern, not correctness: [[graft.model.TsdbLayout.compactL0]]
    * moves settled days into the batch tier sorted, exactly as LSM
    * stores compact their L0. Pure projection, no state, no watermark
    * — throughput scales with input partitions. */
  def layoutIngest(samples: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    ingestTo(samples, "value", path, checkpoint)

  /** [[layoutIngest]] for the EVENT-LOG half: sinks a (series_id, ts,
    * body, metric) stream into the same (metric, ts_day)-partitioned
    * shape [[graft.model.TsdbLayout.writeEvents]] lays down, through
    * the identical transactional file sink — the reference ingests
    * events through the exact same WAL/append path as metrics
    * (stdb/storage/column_store.cc:139-143, stdb/protocol/
    * protocolparser.h:131-257), so the log half gets the same
    * live-ingest story: `events_l0` joins [[graft.model.TsdbLayout
    * .openDatabase]]'s two-tier union read, [[graft.model.TsdbLayout
    * .compactL0]] moves settled days, [[graft.model.TsdbLayout
    * .retireIngestRoot]] rotates the root (both with the events
    * tier). Same exactly-once and compaction-restores-sort contracts as
    * the samples form. */
  def eventsIngest(events: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    ingestTo(events, "body", path, checkpoint)

  /** Key a NAMED fact stream the way the batch registration path does
    * ([[graft.model.TsdbContext.fromWide]]): `series_id` is the stable
    * 64-bit hash of the canonical series name (`"metric k=v k=v"`,
    * sorted unique keys, single spaces — seriesparser.cc:112) and
    * `metric` its first token. Pure projection — id assignment needs
    * no lookup, no state and no coordination, which is what lets a
    * 1000-executor ingest admit NEVER-SEEN series without a round-trip
    * to any catalog (the reference auto-registers on first write,
    * standalone_database_session.cc:39-87; its in-memory matcher is
    * the stateful analog this hash makes unnecessary for KEYING —
    * [[catalogIngest]] is the half that persists the registration). */
  def keyNamed(rows: DataFrame): DataFrame = {
    // a name whose METRIC token is empty (null, blank, or a leading
    // space — "  m k=v" keys fine but partitions to metric='', the
    // __HIVE_DEFAULT_PARTITION__ dead directory no catalog-resolved
    // read ever prunes to) can neither key nor partition — drop it,
    // mirroring the protocol parser's malformed-chunk drop semantics
    // (Resp.parseLenient; the reference errors the CONNECTION,
    // protocolparser.h:131-257 — inside a micro-batch a throw would
    // be a permanent poison pill). The drop is OBSERVABLE, not silent:
    // every query through this projection carries the named-ingest
    // metric pair (dropped_rows / input_rows) in its progress events
    // (StreamingQueryProgress.observedMetrics["graft_named_ingest"]) —
    // an operator alerts on a nonzero dropped_rows rate instead of
    // discovering malformed-name data loss by absence
    val bad = col("name").isNull ||
      substring_index(col("name"), " ", 1) === ""
    rows
      .observe("graft_named_ingest",
        count(when(bad, lit(1))).as("dropped_rows"),
        count(lit(1)).as("input_rows"))
      .where(!bad)
      .withColumn("series_id", xxhash64(col("name")))
      .withColumn("metric", substring_index(col("name"), " ", 1))
  }

  /** [[layoutIngest]] for a stream keyed by series NAME instead of id:
    * `(name, ts, value)` rows are keyed in-stream ([[keyNamed]]) and
    * sunk through the identical transactional file sink. Pair with
    * [[catalogIngest]] over the same source so the registrations the
    * ids imply survive as catalog storage. */
  def namedLayoutIngest(rows: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    layoutIngest(keyNamed(rows), path, checkpoint)

  /** [[eventsIngest]] for a `(name, ts, body)` stream — the log half of
    * the named form (the reference ingests events through the same
    * RESP path, names prefixed `!`; protocolparser.h:131-257). */
  def namedEventsIngest(rows: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    eventsIngest(keyNamed(rows), path, checkpoint)

  /** Live CATALOG registration: the reference auto-registers a series
    * on the first sample that names it (standalone_database_session
    * .cc:39-87, persisted through the sqlite metastorage) — this is
    * that path for a named ingest stream. Emits each distinct
    * registration VARIANT once (stateful streaming `dropDuplicates` on
    * the catalog key columns — id, name, metric, lon, lat; tags derive
    * from the name, so the state is one key per series in the common
    * case and one per distinct reported location for a series whose
    * rows disagree — the same O(series) the reference's in-memory
    * matcher holds, checkpointed so a restart neither re-emits nor
    * forgets) as catalog-schema rows
    * `(series_id, name, metric, tags, lon, lat)` into the database's
    * `catalog_l0` root, where [[graft.model.TsdbLayout.openDatabase]]
    * unions it with the persisted catalog (new-only by anti-join), so
    * statements, search and suggest see stream-registered series with
    * no redeploy. Keying the dedup by the FULL variant (not id alone)
    * is what makes registration DETERMINISTIC across replays and batch
    * boundaries: the landed set is the content-determined distinct
    * variants, and the READERS (the unioned catalog read / the fold)
    * pick one per id by a fixed rule — first non-null location,
    * smallest (lon, lat) — so which row a replay happened to see first
    * can never change the registered location. Tags are parsed from
    * the canonical name in-stream (`k=v` pairs after the metric token;
    * a value may itself contain `=` — the key is everything before the
    * FIRST one). Locations ride along when the stream carries
    * `lon`/`lat` columns, else null — they are REGISTRATION
    * attributes (the reference stores one location per series in its
    * metastorage for where-location queries), expected constant per
    * series: state and catalog_l0 volume are O(series × distinct
    * variants), and to keep a JITTERING feed from inflating "distinct
    * variants" to O(rows), coordinates are quantized in-stream to a
    * 1e-4-degree grid (~11 m) before the dedup — a noisy GPS feed
    * degrades to a few grid cells per series, never unbounded state
    * (per-row geo data is telemetry and belongs in the fact stream,
    * not the registration).
    *
    * Lifecycle: [[graft.model.TsdbLayout.foldCatalogL0]] merges the
    * root into the persisted catalog; [[graft.model.TsdbLayout
    * .retireIngestRoot]] (catalog tier) verifies the fold and drops
    * the root — the same epoch rotation the fact tiers use.
    * Duplicates across EPOCHS (a re-seen series after rotation
    * re-registers into the new root) are eliminated on read and on
    * fold by id, so the dedup state never needs to outlive its root. */
  def catalogIngest(rows: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // locations QUANTIZE in-stream (1e-4 degrees ≈ 11 m — registration
    // granularity, far below any where-location radius) BEFORE the
    // stateful dedup: a feed whose coordinates jitter per row (GPS
    // noise on a "constant" series location) must degrade to a few
    // grid cells per series, not grow the dropDuplicates state and
    // catalog_l0 volume to O(rows) — an unbounded-state hazard on a
    // plausible feed. Exact reported locations are telemetry and
    // belong in the fact stream, not the registration.
    val optF = (c: String) =>
      if (rows.columns.contains(c))
        round(col(c).cast("double"), 4).cast("float")
      else lit(null).cast("float")
    keyNamed(rows)
      .withColumn("tags", tagsFromName)
      .select(
        col("series_id"), col("name"), col("metric"), col("tags"),
        optF("lon").as("lon"), optF("lat").as("lat"))
      // the full variant key (all columns but the name-derived tags —
      // maps cannot be grouping keys): replay-deterministic landed set
      .dropDuplicates(Seq("series_id", "name", "metric", "lon", "lat"))
      .writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
  }

  /** The tag map of a canonical series name (`"metric k=v k=v"`,
    * seriesparser.cc:112), as a Column over `name` — the in-engine
    * inverse of [[graft.model.TsdbContext.fromWide]]'s name
    * construction (property-pinned as a round trip). A tag key ends at
    * the FIRST `=`; the value keeps any further ones. Entries dedup BY
    * KEY (first occurrence wins) before map construction: a malformed
    * name repeating a key ("m k=1 k=2") must not throw Spark's
    * duplicate-map-key error inside a streaming micro-batch, which
    * would kill the registration query permanently (every restart
    * replays the same poison row). Tagless names yield an empty map. */
  def tagsFromName: Column = {
    // empty tokens (doubled/trailing spaces in a non-canonical name)
    // are dropped before they become a garbage '' -> '' entry
    val entries =
      """transform(filter(slice(split(name, ' '), 2, 2147483646),
                          p -> p != ''),
           p -> named_struct(
             'key', substring_index(p, '=', 1),
             'value', substring(p, length(substring_index(p, '=', 1)) + 2)))"""
    expr(s"""map_from_entries(filter($entries, (e, i) ->
               array_position(transform($entries, x -> x.key), e.key)
                 = i + 1))""")
  }

  /** The one file-sink ingest shape both fact halves share: project to
    * the half's canonical columns, derive the exact-floor ts_day, sink
    * partitioned append. Pure projection, no state, no watermark —
    * throughput scales with input partitions. */
  private def ingestTo(facts: DataFrame, payload: String, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    facts
      .select(col("series_id"), col("ts"), col(payload), col("metric"))
      .withColumn("ts_day", graft.functions.VectorExpressions
        .longFloorDiv(col("ts"), graft.time.TimeUtil.NsPerDay))
      .writeStream.format("parquet")
      .partitionBy("metric", "ts_day")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
}
