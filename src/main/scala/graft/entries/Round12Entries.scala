package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-12 driver entries: the index-staleness loop CLOSED (the
  * upsert records what it touched, the tick alerts on it, the scoped
  * rebuild re-derives ONLY those bins from a day-pruned fact read and
  * clears the record — the reference's write-path SubtreeRef updates,
  * stdb/storage/nbtree.h:457, re-expressed as an alert-driven
  * day-scoped remedy), ZERO-DOWNTIME rotation through epoch-numbered
  * ingest roots (the reference's sharded WAL rotating volumes under
  * writes, stdb/storage/input_log.h:36-80), and the one merged
  * health readout a deployment's cron actually watches.
  */
object Round12Entries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // the SCOPED index rebuild: the same correction + statement as
    // ts_index_rebuild, but the remedy is IndexCatalog.rebuildScoped
    // driven by the upsert-touched record alone — only the touched
    // (purchase, ts_day) partitions' bins re-derive (day-pruned fact
    // read, dynamic overwrite of only those __day partitions of the
    // index storage; scoped == full is pinned bit-for-bit in
    // IndexCatalogSpec). Shares ts_index_rebuild's CASE-replayed
    // oracle: the two remedies must be indistinguishable by answers
    "ts_index_rebuild_scoped" -> ((s, dir) =>
      EntryUtil.usView(EntryUtil.engineScopedRebuiltDbFor(s, dir).execute(
        s"""{"group-aggregate": {"metric": "purchase", "step": "1d",
                                 "func": ["max", "cnt"]},
             "range": {"from": "${EntryUtil.FromIso}", "to": "${EntryUtil.ToIso}"}}"""),
        valueCols = Seq("max", "cnt"))),

    // the staleness ALERT loop: upsert → index_dirty record →
    // maintenanceTick reports index_stale = the touched partition
    // count → rebuildScoped serves + clears → the next tick reports
    // zero. Two ticks stacked as one (phase, step, n) frame; every
    // other step is zero on this no-ingest-tier database. Oracle: the
    // touched count derived from the raw table (distinct (purchase,
    // day) in the upsert window), zeros explicit
    "ts_index_stale_alert" -> ((s, dir) =>
      EntryUtil.staleFixtureFor(s, dir)._2.orderBy("phase", "step")),

    // ZERO-DOWNTIME rotation: epoch 1 (samples_l0_e1) streamed the
    // split window, compaction claimed it whole, epoch 2 went live at
    // nextIngestRoot, and retireIngestRoot dropped the drained epoch-1
    // root while epoch 2 kept ingesting (the kill-nothing contract is
    // spec-pinned in StreamingSpec; here the opened database reads
    // batch + compacted-epoch-1 + live-epoch-2 through one union).
    // Oracle shared with ts_layout_select: rotation under continued
    // ingest never changes answers
    "ts_select_epoch_rotated" -> ((s, dir) =>
      EntryUtil.usView(EntryUtil.engineEpochRotatedDbFor(s, dir).execute(
        s"""{"select": "purchase",
             "range": {"from": "${EntryUtil.FromIso}", "to": "${EntryUtil.ToIso}"},
             "where": {"user": ["2", "4", "6", "8"]}}"""))),

    // the MERGED health readout: every standing alert as one
    // (component, status, n) frame — stragglers on both halves,
    // unfolded stream registrations, pending-stale index partitions,
    // lagging adopted maintainers against a supplied clock. The
    // fixture has known dirt: odd-user registrations unfolded, the
    // canonical correction pending (its touched partitions), an adopted
    // maintainer stalled at the split (lagging far beyond the 1-day
    // allowance), nothing straggling. Oracle: each count derived from
    // the raw table
    "ts_health_check" -> ((s, dir) => EntryUtil.healthCheckFor(s, dir)),

    // the HEALING tick: maintenanceTick(healIndexes = true) runs the
    // scoped rebuild inside the cron unit (non-destructive, unlike
    // rotation) — the first tick on a corrected database reports the
    // one owned frame healed and index_stale already zero in the SAME
    // summary (the heal precedes the alert poll); the second tick is
    // the idempotent all-zero. One cron call leaves a consistent
    // database, as an oracle-gated accounting
    "ts_maintenance_heal" -> ((s, dir) =>
      EntryUtil.healTickFor(s, dir).orderBy("phase", "step")),

    // RETENTION REACHES THE INDEXES: serving guards are
    // alignment/density-based, so before this round a rollup kept
    // serving bins whose facts expire dropped — index-served and
    // raw-scan answers diverging by serving path. expire now drops the
    // owned rollup's aged __day partitions in the same call (hour bins
    // never straddle days → the same exact metadata operation as the
    // fact side), and this aligned day-step statement over the
    // reopened database must equal the raw table WITH the cutoff as a
    // predicate — served bins cannot resurrect expired data
    "ts_expire_index_heal" -> ((s, dir) =>
      EntryUtil.usView(EntryUtil.engineExpiredDbFor(s, dir).execute(
        s"""{"group-aggregate": {"metric": "purchase", "step": "1d",
                                 "func": ["max", "cnt"]},
             "range": {"from": "${EntryUtil.FromIso}", "to": "${EntryUtil.ToIso}"}}"""),
        valueCols = Seq("max", "cnt"))))

  lazy val oracle: Map[String, String] = Map(
    // scoped == full: one oracle for both remedies
    "ts_index_rebuild_scoped" -> Round11Entries.oracle("ts_index_rebuild"),
    // the dirty tick's index_stale = distinct (purchase, day) touched
    // by the canonical correction; everything else zero, both phases
    "ts_index_stale_alert" ->
      s"""SELECT * FROM (
            SELECT 'clean' AS phase, 'compact_events' AS step,
                   CAST(0 AS BIGINT) AS n
            UNION ALL SELECT 'clean', 'compact_samples', 0
            UNION ALL SELECT 'clean', 'fold_catalog', 0
            UNION ALL SELECT 'clean', 'index_stale', 0
            UNION ALL SELECT 'clean', 'stragglers_events', 0
            UNION ALL SELECT 'clean', 'stragglers_samples', 0
            UNION ALL SELECT 'dirty', 'compact_events', 0
            UNION ALL SELECT 'dirty', 'compact_samples', 0
            UNION ALL SELECT 'dirty', 'fold_catalog', 0
            UNION ALL SELECT 'dirty', 'index_stale', (SELECT count(*) FROM (
              SELECT DISTINCT epoch_ns(ts) // 86400000000000
              FROM events
              WHERE event_type = 'purchase' AND user_id IN (2, 4)
                AND epoch_ns(ts) >= ${EntryUtil.UpsertLoNs}
                AND epoch_ns(ts) < ${EntryUtil.UpsertHiNs}))
            UNION ALL SELECT 'dirty', 'stragglers_events', 0
            UNION ALL SELECT 'dirty', 'stragglers_samples', 0
          ) ORDER BY phase, step""",
    // rotation under continued ingest = the plain scan exactly
    "ts_select_epoch_rotated" -> Round5Entries.oracle("ts_layout_select"),
    // each component's count from the raw table: unfolded = the odd
    // users' distinct stream-registered series; stale = the canonical
    // correction's touched partitions; the rest clean
    "ts_health_check" ->
      s"""SELECT * FROM (
            SELECT 'catalog_unfolded' AS component, 'alert' AS status,
                   (SELECT count(*) FROM (
                      SELECT DISTINCT event_type, user_id FROM events
                      WHERE user_id % 2 = 1
                        AND epoch_ns(ts) >= ${EntryUtil.L0SplitNs})) AS n
            UNION ALL
            SELECT 'events_stragglers', 'ok', CAST(0 AS BIGINT)
            UNION ALL
            SELECT 'index_lagging', 'alert', CAST(1 AS BIGINT)
            UNION ALL
            SELECT 'index_stale', 'alert', (SELECT count(*) FROM (
              SELECT DISTINCT epoch_ns(ts) // 86400000000000
              FROM events
              WHERE event_type = 'purchase' AND user_id IN (2, 4)
                AND epoch_ns(ts) >= ${EntryUtil.UpsertLoNs}
                AND epoch_ns(ts) < ${EntryUtil.UpsertHiNs}))
            UNION ALL
            SELECT 'samples_stragglers', 'ok', CAST(0 AS BIGINT)
          ) ORDER BY component""",
    // the healing tick's accounting: one owned frame healed on the
    // first tick (stale zero in the same summary), all-zero second
    "ts_maintenance_heal" ->
      s"""SELECT * FROM (
            SELECT 'first' AS phase, 'compact_events' AS step,
                   CAST(0 AS BIGINT) AS n
            UNION ALL SELECT 'first', 'compact_samples', 0
            UNION ALL SELECT 'first', 'fold_catalog', 0
            UNION ALL SELECT 'first', 'index_healed', 1
            UNION ALL SELECT 'first', 'index_stale', 0
            UNION ALL SELECT 'first', 'stragglers_events', 0
            UNION ALL SELECT 'first', 'stragglers_samples', 0
            UNION ALL SELECT 'second', 'compact_events', 0
            UNION ALL SELECT 'second', 'compact_samples', 0
            UNION ALL SELECT 'second', 'fold_catalog', 0
            UNION ALL SELECT 'second', 'index_healed', 0
            UNION ALL SELECT 'second', 'index_stale', 0
            UNION ALL SELECT 'second', 'stragglers_events', 0
            UNION ALL SELECT 'second', 'stragglers_samples', 0
          ) ORDER BY phase, step""",
    // the healed index serves exactly the surviving days: the cutoff
    // as a raw predicate, day bins anchored at the range start
    "ts_expire_index_heal" ->
      s"""SELECT concat('purchase:max|purchase:cnt user=',
                        CAST(user_id AS VARCHAR)) AS series,
            (${EntryUtil.FromNs} + ((epoch_ns(ts) - ${EntryUtil.FromNs})
               // 86400000000000) * 86400000000000) // 1000 AS ts_us,
            round(max(value), 6) AS "max",
            CAST(count(value) AS DOUBLE) AS cnt
          FROM events
          WHERE event_type = 'purchase'
            AND epoch_ns(ts) >= ${EntryUtil.ExpireCutoffNs}
            AND epoch_ns(ts) < ${EntryUtil.ToNs}
          GROUP BY user_id, ts_us ORDER BY series, ts_us""")
}
