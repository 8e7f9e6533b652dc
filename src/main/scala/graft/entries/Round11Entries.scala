package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 driver entries: the event log's living-database arc (live
  * stream ingest → two-tier read → compaction — the samples story
  * instantiated on the LOG half, which the reference feeds through the
  * same WAL/append path as metrics, stdb/storage/column_store.cc:
  * 139-143), ingest-root ROTATION (the lifecycle's one destructive
  * step as a guarded operator), and the index-catalog freshness
  * readout (the stalled-maintainer alert). Each shares an oracle with
  * its flat/batch twin where one exists, because none of these hops
  * may change answers.
  */
object Round11Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // LIVE EVENT ingest into the queryable log layout: a REAL
    // Structured Streaming query (TsdbStream.eventsIngest) delivered
    // Jan 20-30 of the event log through the transactional file sink
    // into the events_l0 tier, the events compactL0 claimed days 20-24
    // into the batch events layout (watermark Jan 25), and this
    // select-events reads THREE provenances — batch, compacted-from-
    // stream, live L0 — through one opened database. Must equal the
    // flat events frame exactly: tier flips change plans, never
    // answers. Oracle shared with ts_select_events_regex
    "stream_events_ingest" -> ((s, dir) =>
      EntryUtil.usView(EntryUtil.engineEventsL0DbFor(s, dir).execute(
        s"""{"select-events": "!log",
             "range": {"from": "${EntryUtil.FromIso}", "to": "${EntryUtil.ToIso}"},
             "filter": "\\"k\\": 4[0-9]"}"""), valueCols = Nil)),

    // the END of the ingest lifecycle: the stream delivered Jan 20-30,
    // compaction claimed every day, and TsdbLayout.retireIngestRoot —
    // after verifying nothing is live and nothing straggles — dropped
    // the L0 root and its checkpoint whole (the file-sink log pins
    // compacted files until exactly this rotation). The opened
    // database serves batch-only again and must equal the plain scan.
    // Oracle shared with ts_layout_select
    "ts_select_rotated_db" -> ((s, dir) =>
      EntryUtil.usView(EntryUtil.engineRotatedDbFor(s, dir).execute(
        s"""{"select": "purchase",
             "range": {"from": "${EntryUtil.FromIso}", "to": "${EntryUtil.ToIso}"},
             "where": {"user": ["2", "4", "6", "8"]}}"""))),

    // the LOG half's rotation, through the same database: the rotated
    // fixture streams BOTH halves, compacts both to the end, and
    // retires both roots (retireIngestRoot per half) — this select-events
    // over the batch-only-again events layout must equal the flat
    // frame. Oracle shared with ts_select_events_regex
    "ts_select_events_rotated_db" -> ((s, dir) =>
      EntryUtil.usView(EntryUtil.engineRotatedDbFor(s, dir).execute(
        s"""{"select-events": "!log",
             "range": {"from": "${EntryUtil.FromIso}", "to": "${EntryUtil.ToIso}"},
             "filter": "\\"k\\": 4[0-9]"}"""), valueCols = Nil)),

    // late EVENT data healed by the log half's upsert: the events
    // layout was written missing Jan 25-30 and TsdbLayout.upsertEvents
    // added the late slice partition-scoped (events are appends —
    // existing rows kept byte-for-byte, late rows added once,
    // idempotent by (series, ts, body) identity; the remediation an
    // events l0Stragglers alert routes through). Served select-events
    // equals the flat frame. Oracle shared with ts_select_events_regex
    "ts_events_upsert" -> ((s, dir) =>
      EntryUtil.usView(EntryUtil.engineEventsUpsertFor(s, dir).execute(
        s"""{"select-events": "!log",
             "range": {"from": "${EntryUtil.FromIso}", "to": "${EntryUtil.ToIso}"},
             "filter": "\\"k\\": 4[0-9]"}"""), valueCols = Nil)),

    // NEW SERIES REGISTERED FROM THE STREAM: the persisted catalog
    // knows only the even users; a NAMED ingest (TsdbStream
    // .namedLayoutIngest + catalogIngest over one source — ids derived
    // in-stream by hashing the canonical name, the reference's
    // register-on-first-write, standalone_database_session.cc:39-87)
    // delivered Jan 20-30 of EVERY user, landing each odd-user
    // registration once in the catalog_l0 root; compactL0 claimed days
    // 20-24. This catalog-wide select resolves series the database
    // never persisted (catalog = series parquet ∪ catalog_l0) over
    // three fact provenances. Oracle: the plain scan with the split
    // replayed — even users' whole window, odd users from the split on
    "stream_catalog_ingest" -> ((s, dir) =>
      EntryUtil.usView(EntryUtil.engineNewSeriesDbFor(s, dir).execute(
        s"""{"select": "purchase",
             "range": {"from": "${EntryUtil.FromIso}", "to": "${EntryUtil.ToIso}"},
             "order-by": "series"}"""))),

    // the catalog lifecycle's END: compaction claimed every day,
    // foldCatalogL0 merged the stream registrations into the persisted
    // catalog (new-only, idempotent), and retireIngestRoot (catalog,
    // then samples) dropped both epoch roots behind their loud
    // guards. The reopened database serves the SAME select from the
    // persisted catalog alone — fold and rotation change storage,
    // never answers (one oracle with the live-root twin)
    "ts_select_catalog_rotated" -> ((s, dir) =>
      EntryUtil.usView(EntryUtil.engineCatalogRotatedDbFor(s, dir).execute(
        s"""{"select": "purchase",
             "range": {"from": "${EntryUtil.FromIso}", "to": "${EntryUtil.ToIso}"},
             "order-by": "series"}"""))),

    // the LOG half's register-on-first-write: batch events and the
    // persisted catalog hold only the even users before the split; a
    // NAMED event stream (TsdbStream.namedEventsIngest + catalogIngest
    // over one source) delivered every user's log from Jan 20 on —
    // odd-user event series registered live — and the events compactL0
    // claimed days 20-24. This catalog-wide select-events resolves
    // never-persisted series over three log provenances. Oracle: the
    // regex select-events with the split replayed
    "stream_named_events_ingest" -> ((s, dir) =>
      EntryUtil.usView(EntryUtil.engineNamedEventsDbFor(s, dir).execute(
        s"""{"select-events": "!log",
             "range": {"from": "${EntryUtil.FromIso}", "to": "${EntryUtil.ToIso}"},
             "filter": "\\"k\\": 4[0-9]"}"""), valueCols = Nil)),

    // the DATABASE DESCRIBE readout: what the reference answers from
    // its metastorage volume/series tables (meta_storage.h:44+) — one
    // row per (half, tier, metric) with day extents: the batch tier
    // from the partition-directory LISTING alone (no data I/O at any
    // volume; row counts honestly null), the ingest root from the
    // epoch-sized committed read split at the compaction watermark
    // into live l0 days vs compacted residue the sink log pins until
    // rotation. Oracle: the same extents derived from the raw table
    // with the fixture's split/watermark replayed as predicates
    "ts_db_describe" -> ((s, dir) =>
      graft.model.TsdbLayout.describeDatabase(s,
          EntryUtil.newSeriesDbFor(s, dir))
        .where(col("half").isin("samples", "events") &&
          col("tier").isin("batch", "l0", "l0_residue"))
        .orderBy("half", "tier", "metric")),

    // the MAINTENANCE TICK: the cron-able lifecycle unit — compact
    // both halves' settled days, fold stream registrations, poll both
    // straggler alerts — as ONE operator returning a (step, n)
    // summary. Here: a new-series database with its watermark still at
    // the split; the tick claims days 20-24 (one write task per
    // (metric, day) partition), folds exactly the odd users' live
    // registrations, and both alerts are clean. Oracle: each count
    // derived from the raw table with the split/cutoff replayed
    "ts_maintenance_tick" -> ((s, dir) =>
      EntryUtil.maintenanceTickFor(s, dir).orderBy("step")),

    // the INDEX REBUILD remedy: owned index frames are save-time
    // snapshots, so an upsert leaves index-served statements answering
    // pre-correction bins (the documented staleness window) —
    // IndexCatalog.rebuild re-derives every owned family from the
    // corrected facts with its canonical recipe, params from the
    // manifest alone (row-for-row reproduction on an unchanged db is
    // spec-pinned). Here: the canonical correction upserted, the
    // rollup rebuilt, and this ALIGNED day-step statement serves the
    // corrected values from the index. Oracle: the correction replayed
    // as a CASE over the raw table
    "ts_index_rebuild" -> ((s, dir) =>
      EntryUtil.usView(EntryUtil.engineRebuiltDbFor(s, dir).execute(
        s"""{"group-aggregate": {"metric": "purchase", "step": "1d",
                                 "func": ["max", "cnt"]},
             "range": {"from": "${EntryUtil.FromIso}", "to": "${EntryUtil.ToIso}"}}"""),
        valueCols = Seq("max", "cnt"))),

    // the catalog FRESHNESS readout: an adopted stream-maintained
    // index serves whatever its sink last committed, and describe()
    // shows kind/path/params but not how current the data is —
    // IndexCatalog.freshness reads one max() per entry so an operator
    // can alert on a stalled maintainer (the second standing alert,
    // pairing with l0Stragglers). Here: one adopted hourly-rollup
    // sink; the readout must equal the raw table's last hour bin
    "ts_index_freshness" -> ((s, dir) => {
      import s.implicits._
      val cat = EntryUtil.freshnessCatalogFor(s, dir)
      graft.model.IndexCatalog.freshness(s, cat)
        .map(f => (f.pos, f.kind, f.owned, f.lastNs.get / 1000L))
        .toDF("pos", "kind", "owned", "last_us")
    }))

  lazy val oracle: Map[String, String] = Map(
    // laid-out + streamed + compacted events = the flat frame exactly
    "stream_events_ingest" -> TsdbEntries.oracle("ts_select_events_regex"),
    // rotation = the plain scan exactly
    "ts_select_rotated_db" -> Round5Entries.oracle("ts_layout_select"),
    "ts_select_events_rotated_db" ->
      TsdbEntries.oracle("ts_select_events_regex"),
    // the healed layout = the flat frame exactly
    "ts_events_upsert" -> TsdbEntries.oracle("ts_select_events_regex"),
    // stream-registered series resolve like persisted ones: even users
    // carry their whole window (batch + stream), odd users exist only
    // from the split on (their earlier samples were never written
    // anywhere — a new series' history starts when it first reports)
    "stream_catalog_ingest" ->
      s"""SELECT concat('purchase user=', CAST(user_id AS VARCHAR)) AS series,
            epoch_us(ts) AS ts_us, round(value, 6) AS value
          FROM events
          WHERE event_type = 'purchase'
            AND epoch_ns(ts) >= ${EntryUtil.FromNs}
            AND epoch_ns(ts) < ${EntryUtil.ToNs}
            AND (user_id % 2 = 0 OR epoch_ns(ts) >= ${EntryUtil.L0SplitNs})
          ORDER BY series, ts_us""",
    // fold + rotation change storage, never answers
    "ts_select_catalog_rotated" ->
      s"""SELECT concat('purchase user=', CAST(user_id AS VARCHAR)) AS series,
            epoch_us(ts) AS ts_us, round(value, 6) AS value
          FROM events
          WHERE event_type = 'purchase'
            AND epoch_ns(ts) >= ${EntryUtil.FromNs}
            AND epoch_ns(ts) < ${EntryUtil.ToNs}
            AND (user_id % 2 = 0 OR epoch_ns(ts) >= ${EntryUtil.L0SplitNs})
          ORDER BY series, ts_us""",
    // stream-registered EVENT series resolve like persisted ones: even
    // users' log before the split came from the batch write, everyone
    // from the split on through the named stream
    "stream_named_events_ingest" ->
      s"""SELECT concat('!log user=', CAST(user_id AS VARCHAR)) AS series,
            epoch_us(ts) AS ts_us, props AS body
          FROM events
          WHERE epoch_ns(ts) >= ${EntryUtil.FromNs}
            AND epoch_ns(ts) < ${EntryUtil.ToNs}
            AND regexp_matches(props, '"k": 4[0-9]')
            AND (user_id % 2 = 0 OR epoch_ns(ts) >= ${EntryUtil.L0SplitNs})
          ORDER BY series, ts_us""",
    // describe = the directory tree's day extents, derivable from the
    // raw table by replaying the fixture's split (Jan 20) and
    // watermark (Jan 25): batch holds the even users before the split
    // PLUS the compacted days 20-24 every user streamed (row counts
    // null — the listing opens no file), the live l0 days sit at/past
    // the watermark, the residue between split and watermark is the
    // compacted copies the sink log still pins; the events batch holds
    // the even users' whole log
    "ts_db_describe" ->
      s"""WITH d AS (SELECT event_type, user_id, epoch_ns(ts) AS tns,
                epoch_ns(ts) // 86400000000000 AS day FROM events)
          SELECT * FROM (
            SELECT 'samples' AS half, 'batch' AS tier,
                   event_type AS metric, min(day) AS min_day,
                   max(day) AS max_day, count(DISTINCT day) AS n_days,
                   CAST(NULL AS BIGINT) AS n_rows
            FROM d WHERE (user_id % 2 = 0 AND tns < ${EntryUtil.L0SplitNs})
               OR (tns >= ${EntryUtil.L0SplitNs}
                   AND tns < ${EntryUtil.L0CompactNs})
            GROUP BY event_type
            UNION ALL
            SELECT 'samples', 'l0', event_type, min(day), max(day),
                   count(DISTINCT day), count(*)
            FROM d WHERE tns >= ${EntryUtil.L0CompactNs}
            GROUP BY event_type
            UNION ALL
            SELECT 'samples', 'l0_residue', event_type, min(day),
                   max(day), count(DISTINCT day), count(*)
            FROM d WHERE tns >= ${EntryUtil.L0SplitNs}
              AND tns < ${EntryUtil.L0CompactNs}
            GROUP BY event_type
            UNION ALL
            SELECT 'events', 'batch', '!log', min(day), max(day),
                   count(DISTINCT day), CAST(NULL AS BIGINT)
            FROM d WHERE user_id % 2 = 0
          ) ORDER BY half, tier, metric""",
    // the tick's counts from the raw table: moved partitions = distinct
    // (metric, day) in the settled window (all users streamed it);
    // folded = the odd users' distinct series with post-split samples;
    // no events tier, no stragglers
    "ts_maintenance_tick" ->
      s"""SELECT * FROM (
            SELECT 'compact_events' AS step, CAST(0 AS BIGINT) AS n
            UNION ALL
            SELECT 'compact_samples', (SELECT count(*) FROM (
              SELECT DISTINCT event_type,
                     epoch_ns(ts) // 86400000000000 AS day
              FROM events
              WHERE epoch_ns(ts) >= ${EntryUtil.L0SplitNs}
                AND epoch_ns(ts) < ${EntryUtil.L0CompactNs}))
            UNION ALL
            SELECT 'fold_catalog', (SELECT count(*) FROM (
              SELECT DISTINCT event_type, user_id FROM events
              WHERE user_id % 2 = 1
                AND epoch_ns(ts) >= ${EntryUtil.L0SplitNs}))
            UNION ALL
            SELECT 'stragglers_events', CAST(0 AS BIGINT)
            UNION ALL
            SELECT 'stragglers_samples', CAST(0 AS BIGINT)
            UNION ALL
            SELECT 'index_stale', CAST(0 AS BIGINT)
          ) ORDER BY step""",
    // the rebuilt index serves the correction: max/cnt per day bin
    // with the upsert window's +1000 replayed as a CASE
    "ts_index_rebuild" ->
      s"""SELECT concat('purchase:max|purchase:cnt user=',
                        CAST(user_id AS VARCHAR)) AS series,
            (${EntryUtil.FromNs} + ((epoch_ns(ts) - ${EntryUtil.FromNs})
               // 86400000000000) * 86400000000000) // 1000 AS ts_us,
            round(max(CASE WHEN user_id IN (2, 4)
                        AND epoch_ns(ts) >= ${EntryUtil.UpsertLoNs}
                        AND epoch_ns(ts) < ${EntryUtil.UpsertHiNs}
                      THEN value + 1000 ELSE value END), 6) AS "max",
            CAST(count(value) AS DOUBLE) AS cnt
          FROM events
          WHERE event_type = 'purchase'
            AND epoch_ns(ts) >= ${EntryUtil.FromNs}
            AND epoch_ns(ts) < ${EntryUtil.ToNs}
          GROUP BY user_id, ts_us ORDER BY series, ts_us""",
    // the adopted rollup's max committed bin IS the raw table's last
    // epoch-aligned hour start (integer ns arithmetic, ns→µs exact:
    // bins are whole hours)
    "ts_index_freshness" ->
      """SELECT 0 AS pos, 'rollup' AS kind, FALSE AS owned,
           max(epoch_ns(ts) - epoch_ns(ts) % 3600000000000) // 1000 AS last_us
         FROM events""")
}
