package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.HadoopFiles.{atomicWrite, deleteRecursive, exists, hfs,
  readText}

/** Physical layout of the samples fact table at scale.
  *
  * The reference's NB+tree gives it (a) per-series clustering, (b) time-
  * ordered blocks, (c) per-block min/max stats for pruning
  * (stdb/storage/nbtree_def.h:47-84). The Parquet equivalent written here:
  *
  *   - directory partitioning by `metric` and a coarse time bucket
  *     (`ts_day`) → Catalyst partition pruning eliminates whole
  *     directories for metric + range predicates before any I/O;
  *   - files sorted by (series_id, ts) within each partition → parquet
  *     row-group min/max stats on both columns make row-group pruning
  *     effective for narrow `where` clauses, and per-series windows read
  *     nearly-clustered data.
  *
  * At 100 TB this is the difference between scanning everything and
  * touching only the (metric, day) directories a query ranges over — the
  * same two-level pruning the reference does with its inverted index +
  * SubtreeRef stats.
  *
  * BOTH fact halves get the identical treatment: the metric samples AND
  * the event log are laid out, live-ingested ([[graft.streaming
  * .TsdbStream.layoutIngest]] / [[graft.streaming.TsdbStream
  * .eventsIngest]]), two-tier-read, compacted ([[compactL0]]) and
  * rotated ([[retireIngestRoot]]) through one shared protocol over a
  * [[Tier]] — the reference ingests events through the exact same
  * WAL/append path as metrics (stdb/storage/column_store.cc:139-143,
  * stdb/protocol/protocolparser.h:131-257), so the Spark layout gives
  * the log half the same lifecycle, not just the same directory shape.
  *
  * Tier METADATA (the `samples_l0`/`events_l0` existence checks and the
  * watermark files) goes through the Hadoop FileSystem of the database
  * path — the same filesystem the data itself uses — so a database on
  * HDFS/S3A resolves its tiers exactly like a local one instead of
  * silently serving only the batch tier.
  */
object TsdbLayout {

  private val NsPerDay = graft.time.TimeUtil.NsPerDay

  // ------------------------------------------------------------- tiers

  /** One ingest half: its live ingest root family (`l0Sub` — a
    * streaming file-sink directory, plus its `l0Sub_e<N>` epochs). The
    * lifecycle API ([[nextIngestRoot]], [[retireIngestRoot]],
    * [[compactL0]], [[l0Watermark]], [[l0Stragglers]]) takes the half
    * as a parameter — one protocol, three instantiations. */
  sealed abstract class Tier(val l0Sub: String)

  /** A two-tier FACT half: the live ingest root, the settled batch
    * layout (`batchSub`), the compaction watermark file (`wmFile` —
    * first day still L0-owned) and the half's canonical column set
    * (`payload` = the one non-key fact column: samples carry `value`,
    * events carry `body`). Everything that takes a FactTier works
    * identically on both halves. */
  sealed abstract class FactTier(l0Sub: String, val batchSub: String,
      val wmFile: String, val payload: String) extends Tier(l0Sub) {
    /** The half's canonical laid-out column set. */
    val cols: Seq[String] = Seq("series_id", "ts", payload, "metric", "ts_day")
    /** Row-identity columns for cross-tier content comparison. `metric`
      * is functionally dependent on series_id (ids hash the canonical
      * name, which embeds the metric), so the identity is (series, ts,
      * payload). */
    val rowKey: Seq[String] = Seq("series_id", "ts", payload)
  }

  object Tier {
    case object Samples
        extends FactTier("samples_l0", "samples", "l0_watermark", "value")
    case object Events
        extends FactTier("events_l0", "events", "events_l0_watermark", "body")
    /** The catalog's live-registration root ([[graft.streaming
      * .TsdbStream.catalogIngest]]). The catalog has no time axis, so
      * its lifecycle needs no watermark: [[foldCatalogL0]] is the
      * compaction, fold-completeness the retire guard. */
    case object Catalog extends Tier("catalog_l0")

    /** The fact halves, in the order every readout lists them. */
    val Facts: Seq[FactTier] = Seq(Samples, Events)
  }
  import Tier.{Samples, Events, Catalog}

  /** Where a curation deployment's [[graft.pipeline.CorpusStore]] sits
    * inside the database directory — the convention that folds the
    * pipeline-index alerts into [[healthCheck]] and its heal into
    * [[maintenanceTick]]. A store anywhere else works identically
    * through [[graft.pipeline.CorpusStore.health]]/`heal` directly. */
  val CorpusSub = "corpus"

  /** Where a curation deployment's [[graft.pipeline.EmbeddingStore]]
    * sits inside the database directory — same convention as
    * [[CorpusSub]]: its alerts (`emb_pending`, `emb_drift`) join
    * [[healthCheck]] and its heal + recall-gated refit join
    * [[maintenanceTick]]. */
  val EmbSub = "emb"
  private val CatalogCols = Seq("series_id", "name", "metric", "tags", "lon", "lat")

  // ------------------------------------------- tier metadata (Hadoop FS)

  private def hconf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  /** First ts_day still owned by the half's L0 ingest tier (everything
    * below it has been [[compactL0]]-moved into the batch layout);
    * Long.MinValue when no compaction has run. */
  def l0Watermark(spark: SparkSession, dir: String,
      tier: FactTier = Samples): Long = {
    val (f, hp) = hfs(hconf(spark), s"$dir/${tier.wmFile}")
    if (!f.exists(hp)) Long.MinValue
    else readText(f, hp).trim.toLong
  }

  private def hasWatermark(spark: SparkSession, dir: String,
      tier: FactTier): Boolean =
    exists(hconf(spark), s"$dir/${tier.wmFile}")

  /** Single-writer watermark advance: write a temp file, swing it into
    * place with FileContext's OVERWRITE rename ([[HadoopFiles
    * .atomicWrite]]) — no crash window where the watermark file is
    * simply GONE and every reader silently double-reads all of L0
    * until the next compaction heals it. */
  private def writeWatermark(spark: SparkSession, dir: String,
      tier: FactTier, day: Long): Unit = {
    val (f, hp) = hfs(hconf(spark), s"$dir/${tier.wmFile}")
    atomicWrite(f, hp,
      day.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  // ------------------------------------ upsert-touched index record

  /** DIRECTORY of immutable JSON-lines pair files recording the
    * (metric, ts_day) partitions corrections touched since the last
    * index rebuild — the standing evidence behind the `index_stale`
    * alert ([[maintenanceTick]] / [[healthCheck]]) and the scope
    * [[IndexCatalog.rebuildScoped]] reads when called without an
    * explicit set. Lives beside the watermark files in the database
    * directory; absent = nothing pending.
    *
    * Every RECORDER (upsert, expire) CREATES a new uniquely-named
    * file and never modifies an existing one; CLEARS shrink or delete
    * existing files only, and the rebuilds' completion clear shrinks
    * ONLY the files its opening [[indexDirtySnapshot]] actually read
    * (identified by path + status) — a file a concurrent recorder
    * creates mid-rebuild is untouched EVEN WHEN it repeats a pair the
    * snapshot already held, so a hot partition's repeated correction
    * stays pending (at worst a pair the rebuild's snapshot already
    * served re-reports once, and the next scoped rebuild no-ops it —
    * a false positive, never a false green).
    *
    * RESIDUAL WINDOW (inherent to the lock-free design, not fixable
    * by file identity): a recorder writes its pair BEFORE its data
    * (see [[upsertSamples]]), so an upsert whose pair lands before a
    * rebuild's snapshot read but whose DATA commits after the
    * rebuild's fact listing gets its pair cleared without the
    * correction being served — the pair was in the snapshot, the rows
    * were not. The window is one in-flight upsert wide and closes at
    * that upsert's next recording; deployments that upsert
    * concurrently with rebuilds should re-run [[IndexCatalog
    * .rebuildScoped]] once after the upsert completes, or serialize
    * the two (the single-maintenance-writer discipline every
    * lifecycle MUTATION here already assumes covers clears vs
    * clears). */
  val IndexDirtyName = "index_dirty"

  private val dirtyMapper = new com.fasterxml.jackson.databind.ObjectMapper

  /** The record's files — or the path itself when a pre-directory
    * single-file record is still in place (read/shrink it as one). */
  private def dirtyFiles(spark: SparkSession,
      dir: String): Seq[org.apache.hadoop.fs.Path] = {
    val (f, hp) = hfs(hconf(spark), s"$dir/$IndexDirtyName")
    if (!f.exists(hp)) Nil
    else if (f.getFileStatus(hp).isFile) Seq(hp)
    else f.listStatus(hp).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(_.getName.endsWith(".tmp"))
  }

  private def readDirtyFile(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): Seq[(String, Long)] = {
    val (f, _) = hfs(hconf(spark), p.toString)
    readText(f, p).linesIterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val n = dirtyMapper.readTree(line)
      require(n.path("metric").isTextual && n.path("ts_day").isIntegralNumber,
        s"malformed $IndexDirtyName line: $line")
      (n.path("metric").asText, n.path("ts_day").asLong)
    }.toSeq
  }

  private def pairLines(pairs: Seq[(String, Long)]): Array[Byte] =
    pairs.sortBy(p => (p._1, p._2)).map { case (m, d) =>
      val n = dirtyMapper.createObjectNode()
      n.put("metric", m); n.put("ts_day", d)
      dirtyMapper.writeValueAsString(n)
    }.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** The pending touched (metric, ts_day) set — empty when no
    * correction has landed since the last rebuild. Driver-side
    * metadata read (the record is pair-count-sized; late batches touch
    * hours-to-days, not history). */
  def indexDirtyPairs(spark: SparkSession, dir: String): Seq[(String, Long)] =
    dirtyFiles(spark, dir).flatMap(readDirtyFile(spark, _)).distinct

  /** One dirty-record file's identity at snapshot time: path plus the
    * (mtime, length) the snapshot's status read saw. Directory-form
    * member files are immutable once created, so the path alone would
    * do; the legacy single-FILE record is merged-rewritten in place by
    * later recorders, so the status pins the exact content version — a
    * mismatch at clear time means a recorder appended meanwhile and
    * the file must stay untouched (its pairs stay pending). */
  private[graft] final case class DirtyFileId(
      path: org.apache.hadoop.fs.Path, mtime: Long, len: Long)

  /** The pending record WITH file identity — what the rebuilds read at
    * entry so their completion clear (the files-scoped
    * [[clearIndexDirty]]) shrinks only the files this snapshot saw,
    * never one a concurrent recorder creates mid-rebuild. */
  private[graft] def indexDirtySnapshot(spark: SparkSession,
      dir: String): (Seq[(String, Long)], Seq[DirtyFileId]) = {
    val files = dirtyFiles(spark, dir).map { p =>
      val (f, _) = hfs(hconf(spark), p.toString)
      val st = f.getFileStatus(p)
      DirtyFileId(p, st.getModificationTime, st.getLen)
    }
    (files.flatMap(id => readDirtyFile(spark, id.path)).distinct, files)
  }

  /** Append one recorder's pairs as a NEW immutable file. A database
    * still carrying the pre-directory single-FILE record keeps that
    * form (merged rewrite via temp + atomic rename — migrating in
    * place would open a delete-before-rewrite crash window that
    * silently drops pending pairs); records on a file-less database
    * start the directory form. */
  private def recordIndexDirty(spark: SparkSession, dir: String,
      pairs: Seq[(String, Long)]): Option[DirtyFileId] = {
    if (pairs.isEmpty) return None
    val root = s"$dir/$IndexDirtyName"
    val (f, hp) = hfs(hconf(spark), root)
    val written =
      if (f.exists(hp) && f.getFileStatus(hp).isFile) {
        atomicWrite(f, hp,
          pairLines((readDirtyFile(spark, hp) ++ pairs).distinct))
        hp
      } else {
        f.mkdirs(hp)
        // temp + rename INTO the unique final name: a reader or a crash
        // must never see a half-written member (dirtyFiles skips .tmp)
        val name = s"p_${java.util.UUID.randomUUID().toString}"
        val p = new org.apache.hadoop.fs.Path(s"$root/$name")
        atomicWrite(f, p, pairLines(pairs.distinct))
        p
      }
    // the identity a recorder that later CLEARS its own pairs scopes
    // the clear to (expire's record-before-delete heal does)
    val st = f.getFileStatus(written)
    Some(DirtyFileId(written, st.getModificationTime, st.getLen))
  }

  /** Drop the whole pending record — a FULL [[IndexCatalog.rebuild]]
    * re-derived every canonical owned frame from the corrected facts.
    * (The full rebuild still clears only the pairs it read — see its
    * scaladoc — so this whole-record drop is for operators.) */
  def clearIndexDirty(spark: SparkSession, dir: String): Unit =
    deleteRecursive(hconf(spark), s"$dir/$IndexDirtyName")

  /** Drop exactly `pairs` from the pending record — the OPERATOR form
    * (an explicit touched set corrected out-of-band): each existing
    * file shrinks (temp + atomic rename) or deletes. The rebuilds do
    * NOT use this form — they clear through the files-scoped overload
    * below so a file a concurrent recorder creates mid-rebuild is
    * untouched even when it repeats a pair (file identity, see
    * [[IndexDirtyName]]). */
  def clearIndexDirty(spark: SparkSession, dir: String,
      pairs: Seq[(String, Long)]): Unit = {
    val drop = pairs.toSet
    dirtyFiles(spark, dir).foreach { p =>
      val remaining = readDirtyFile(spark, p).filterNot(drop)
      val (f, _) = hfs(hconf(spark), p.toString)
      if (remaining.isEmpty) f.delete(p, false)
      else atomicWrite(f, p, pairLines(remaining))
    }
    dropDirtyDirIfEmpty(spark, dir)
  }

  /** Drop exactly `pairs` from exactly `files` — the rebuilds'
    * completion hook ([[indexDirtySnapshot]] supplies both). A file
    * created after the snapshot is untouched by construction (not
    * listed); the legacy single-file record is additionally skipped
    * when its status no longer matches the snapshot's (a recorder
    * merged new pairs in meanwhile — shrinking the rewritten content
    * would erase the NEW recording of a repeated pair, the exact
    * false green file identity exists to prevent). */
  private[graft] def clearIndexDirty(spark: SparkSession, dir: String,
      pairs: Seq[(String, Long)], files: Seq[DirtyFileId]): Unit = {
    val drop = pairs.toSet
    files.foreach { id =>
      val (f, _) = hfs(hconf(spark), id.path.toString)
      if (f.exists(id.path)) {
        val st = f.getFileStatus(id.path)
        if (st.getModificationTime == id.mtime && st.getLen == id.len) {
          val remaining = readDirtyFile(spark, id.path).filterNot(drop)
          if (remaining.isEmpty) f.delete(id.path, false)
          else atomicWrite(f, id.path, pairLines(remaining))
        }
      }
    }
    dropDirtyDirIfEmpty(spark, dir)
  }

  /** A fully-drained directory disappears (absent = nothing pending).
    * NON-recursive delete only: a member file a concurrent recorder
    * creates between the listing and the delete must survive — the
    * recursive form would silently destroy it (the false green this
    * record's whole design forbids). Non-empty → the delete fails →
    * the directory simply stays, correctly non-empty. */
  private def dropDirtyDirIfEmpty(spark: SparkSession, dir: String): Unit = {
    val (f, hp) = hfs(hconf(spark), s"$dir/$IndexDirtyName")
    if (f.exists(hp) && !f.getFileStatus(hp).isFile &&
        f.listStatus(hp).isEmpty)
      try f.delete(hp, false)
      catch { case _: java.io.IOException => () } // raced a recorder
  }

  // ------------------------------------------------------------- writes

  /** Write `ctx.samples` (joined to its catalog for the metric key) as a
    * partitioned, sorted Parquet dataset under `path`. A frame that
    * already carries the layout keys (one read back from a layout —
    * the re-save/rotation case) skips the derivation instead of
    * producing ambiguous columns. Rows whose series_id is not in the
    * catalog are dropped: the catalog is the registration authority
    * (registration-on-write derives it FROM the data, so uncataloged
    * facts cannot arise in the supported flow) — register before
    * persisting. */
  def writeSamples(ctx: TsdbContext, path: String): Unit =
    sortedPartitionWrite(keyed(ctx.samples, ctx.series), path,
      replaceOnlyWritten = false)

  /** Join facts to the broadcast catalog for the metric key and derive
    * the exact-floor ts_day — or pass a frame through untouched when it
    * already carries both layout keys. */
  private def keyed(facts: DataFrame, series: DataFrame): DataFrame =
    if (facts.columns.contains("metric") && facts.columns.contains("ts_day"))
      facts
    else facts
      .join(broadcast(series.select(col("series_id"), col("metric"))),
        "series_id")
      // exact Long FLOOR division: `/` on Long columns is double division
      // (misassigns samples within ~128 ns of midnight past 2^53), and
      // truncating division numbers pre-epoch days differently from the
      // Math.floorDiv bounds in Engine.tsDayPruned — either desync makes
      // pruning wrongly skip a directory at a range boundary
      .withColumn("ts_day",
        graft.functions.VectorExpressions.longFloorDiv(col("ts"), NsPerDay))

  /** Read a layout written by [[writeSamples]]: (series_id, ts, value,
    * metric, ts_day) with metric/ts_day as partition columns — predicates
    * on them prune directories, never touching file contents. */
  def readSamples(spark: SparkSession, path: String): DataFrame =
    ParquetDirs.read(spark, path)

  /** Merge late or corrected samples into a written layout, rewriting
    * ONLY the (metric, ts_day) partition directories the late data
    * touches — the TSDB's answer to out-of-order arrival after the
    * initial load (the reference replays its WAL into the tree; the
    * Parquet counterpart is a partition-scoped rewrite, never a table
    * rewrite). Rule: one row per (series_id, ts), latest upsert wins
    * over what's on disk.
    *
    * Mechanics, in 100 TB terms:
    *   1. the affected (metric, day) set comes off the late batch — a
    *      metadata-sized driver list (late batches touch hours-to-days,
    *      not history);
    *   2. the existing read is partition-pruned to exactly that set, so
    *      the rewrite's input is the affected slice, not the table;
    *   3. the merged slice materializes via localCheckpoint before the
    *      write — bounded by the slice, and it severs the file-source
    *      lineage so Spark permits (and the commit can't corrupt) the
    *      overwrite of directories that were just read;
    *   4. dynamic partition overwrite replaces only directories the
    *      merged frame actually writes — untouched partitions' files are
    *      never opened, rewritten, or dropped (spec-pinned by file
    *      listing).
    *
    * `late` carries (series_id, ts, value); metric resolves from the
    * broadcast catalog exactly as in [[writeSamples]], and files stay
    * (series_id, ts)-sorted within partitions. Only keys the late batch
    * NAMES are replaced — pre-existing duplicate-ts rows on other keys
    * survive the rewrite untouched (a whole-slice dedup would silently
    * collapse them). Duplicate keys inside one late batch resolve by max
    * value (deterministic; pre-aggregate the batch for another policy).
    *
    * PERSISTED-INDEX CONTRACT: owned index frames in the database's
    * index catalog are SNAPSHOTS of the facts at save time — an upsert
    * corrects the layout, not them, so an index-served statement keeps
    * answering from pre-correction bins until the affected families are
    * rebuilt. The window is ALERTED, not just documented: when an index
    * catalog sits beside the layout, the touched (metric, ts_day) set
    * is recorded to the database's [[IndexDirtyName]] file, where
    * [[maintenanceTick]] / [[healthCheck]] report it as `index_stale`
    * until a rebuild clears it. [[IndexCatalog.rebuildScoped]] is the
    * matching remedy — it reads this record and re-derives only the
    * touched bins with a day-pruned fact read ([[IndexCatalog.rebuild]]
    * stays the full-history form, and the one deletions need); adopted
    * stream-maintained indexes instead track their maintainer, whose
    * lag [[IndexCatalog.freshness]] reads. The reference has no such
    * window at all: its SubtreeRef aggregates live inside the tree the
    * write path updates (nbtree_def.h:47-84).
    *
    * @return number of partition directories rewritten. */
  def upsertSamples(spark: SparkSession, path: String, late: DataFrame,
      series: DataFrame): Int = {
    val lateKeyed = keyed(late, series).select(Samples.cols.map(col): _*)
    val affected = lateKeyed.select("metric", "ts_day").distinct()
      .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue))
    if (affected.isEmpty) return 0
    requireNotL0Owned(spark, path, Samples, affected, "upsertSamples")
    val existing = readSamples(spark, path).where(dayPred(affected))
      .select(Samples.cols.map(col): _*)
    // replace ONLY keys the late batch names: an anti-join (late keys
    // broadcast — the batch is small by definition) keeps every other
    // on-disk row byte-for-byte, INCLUDING pre-existing duplicate-ts
    // rows a whole-slice dedup would silently collapse. Duplicates
    // inside the late batch itself resolve by max value.
    val lateDedup = lateKeyed
      .groupBy("series_id", "ts", "metric", "ts_day")
      .agg(max(col("value")).as("value"))
      .select(Samples.cols.map(col): _*)
    // a DATABASE's samples layout (an index catalog with canonical
    // owned entries sits beside it): record the touched partitions so
    // the staleness window is ALERTED (maintenanceTick / healthCheck
    // `index_stale`) and scoped-remediable (IndexCatalog.rebuildScoped
    // reads this record), not just documented. Recorded BEFORE the
    // data write: a crash between the two then leaves at worst a
    // false-positive pair (the next scoped rebuild re-derives and
    // clears it harmlessly), never corrected facts with a green alert
    val parent = new org.apache.hadoop.fs.Path(path).getParent
    if (parent != null && exists(hconf(spark),
        s"$parent/indexes/${IndexCatalog.ManifestName}")) {
      val ownedCanonical =
        try IndexCatalog.describe(s"$parent/indexes")
          .exists(e => e.owned && e.canonical)
        catch { case _: Exception => true } // unreadable: conservative
      if (ownedCanonical)
        recordIndexDirty(spark, parent.toString, affected.toSeq)
    }
    val merged = existing
      .join(broadcast(lateDedup.select("series_id", "ts").distinct()),
        Seq("series_id", "ts"), "left_anti")
      .unionByName(lateDedup)
      .localCheckpoint()
    sortedPartitionWrite(merged, path, replaceOnlyWritten = true)
    affected.length
  }

  /** Two-tier boundary guard shared by the upsert paths: in a database
    * with a live ingest tier, a day at or above the half's compaction
    * watermark is L0-OWNED — a batch rewrite into it would double-read
    * immediately (the reader unions both tiers for that day) and brick
    * the next compaction's exclusivity check. Correct such days after
    * compaction claims them. Before the FIRST compaction no watermark
    * exists and ">= Long.MinValue" would refuse every day, including
    * purely batch-owned history L0 will never hold — so in that window
    * the guard checks the days the L0 tier ACTUALLY shows rows for
    * (all of L0 is reader-visible then, so those and only those would
    * double-read). */
  private def requireNotL0Owned(spark: SparkSession, path: String,
      tier: FactTier, affected: Seq[(String, Long)], op: String): Unit = {
    val parent = new org.apache.hadoop.fs.Path(path).getParent
    if (parent == null ||
      epochRoots(spark, parent.toString, tier).isEmpty) return
    val db = parent.toString
    val owned: Seq[(String, Long)] =
      if (hasWatermark(spark, db, tier)) {
        val wm = l0Watermark(spark, db, tier)
        affected.filter(_._2 >= wm).toSeq
      } else readTierL0(spark, db, tier) match {
        case Some(l0) => l0.where(dayPred(affected))
          .select("metric", "ts_day").distinct().collect()
          .map(r => (r.getString(0), r.getAs[Number](1).longValue)).toSeq
        case None => Nil
      }
    require(owned.isEmpty,
      s"$op: day(s) ${owned.map(_._2).distinct.mkString(", ")} " +
        s"are still owned by the live ingest tier — correct them " +
        s"after compaction claims the day")
  }

  /** Merge LATE EVENTS into a written events layout, rewriting only
    * the (metric, ts_day) partition directories the late batch touches
    * — the log half's late-data path, and the remediation an
    * events [[l0Stragglers]] alert routes through. Events are APPENDS,
    * not corrections ([[upsertSamples]]' latest-wins rule has no
    * meaning for log bodies): every row the layout already holds is
    * kept byte-for-byte, and late rows not already present — by
    * (series_id, ts, body) identity — are ADDED, so re-running the
    * same late batch adds nothing (idempotent) and never collapses
    * pre-existing duplicate rows. Identical duplicates WITHIN one late
    * batch add once. Same partition-scoped mechanics (pruned read,
    * localCheckpoint, dynamic overwrite of only the touched
    * directories) and the same L0-owned-day guard as the samples form.
    *
    * `late` carries (series_id, ts, body); metric resolves from the
    * broadcast catalog. @return partition directories rewritten. */
  def upsertEvents(spark: SparkSession, path: String, late: DataFrame,
      series: DataFrame): Int = {
    val lateKeyed = keyed(late, series).select(Events.cols.map(col): _*)
    val affected = lateKeyed.select("metric", "ts_day").distinct()
      .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue))
    if (affected.isEmpty) return 0
    requireNotL0Owned(spark, path, Events, affected, "upsertEvents")
    val existing = ParquetDirs.read(spark, path).where(dayPred(affected))
      .select(Events.cols.map(col): _*)
    val toAdd = lateKeyed.distinct()
      .join(existing, Events.rowKey, "left_anti")
      .select(Events.cols.map(col): _*)
    val merged = existing.unionByName(toAdd).localCheckpoint()
    sortedPartitionWrite(merged, path, replaceOnlyWritten = true)
    affected.length
  }

  /** Write `ctx.events` (joined to its catalog for the metric key) the
    * same way [[writeSamples]] lays out the metric facts: partitioned
    * by (metric, ts_day), (series_id, ts)-sorted within files. Event
    * streams are the LOG half of the model — at 100 TB usually the
    * bulkier half — and get the identical two-level pruning: a
    * select-events over one event metric and a few days touches only
    * those directories ([[graft.engine.Engine.selectEvents]] pushes
    * both predicates when the columns are present). Same already-keyed
    * pass-through and uncataloged-rows contract as [[writeSamples]]. */
  def writeEvents(ctx: TsdbContext, path: String): Unit =
    sortedPartitionWrite(keyed(ctx.events, ctx.series), path,
      replaceOnlyWritten = false)

  /** (metric, ts_day) membership predicate over a collected day list —
    * the partition-pruning shape every slice-scoped rewrite/read here
    * shares. */
  private def dayPred(affected: Seq[(String, Long)]): Column =
    affected
      .map { case (m, d) => col("metric") === m && col("ts_day") === d }
      .reduce(_ || _)

  /** The layout's ONE partitioned-write protocol: repartition to one
    * task per (metric, day), restore the within-file (series_id, ts)
    * sort, overwrite. `replaceOnlyWritten = true` scopes the overwrite
    * to the directories the frame writes (the [[upsertSamples]]/
    * [[compactL0]] slice rewrites); false replaces the whole dataset
    * (the full [[writeSamples]]/[[writeEvents]] loads). One helper so
    * the sort key and overwrite mode can never drift between callers. */
  private def sortedPartitionWrite(df: DataFrame, path: String,
      replaceOnlyWritten: Boolean): Unit = df
    .repartition(col("metric"), col("ts_day"))
    .sortWithinPartitions(col("metric"), col("ts_day"), col("series_id"), col("ts"))
    .write
    // the PER-WRITE DataFrameWriter option, never a session-conf
    // toggle: a toggle races any concurrent partitioned write in the
    // same session (one of the two then runs under the wrong mode —
    // a full load under "dynamic" keeps stale partitions, a slice
    // rewrite under "static" wipes unwritten ones)
    .option("partitionOverwriteMode",
      if (replaceOnlyWritten) "dynamic" else "static")
    .partitionBy("metric", "ts_day").mode("overwrite").parquet(path)

  /** Time-based retention: drop every `ts_day` partition directory older
    * than `cutoffNs`. Deleting whole directories is the point of the
    * layout — expiry is a metadata operation (no file is opened, no data
    * rewritten), the Parquet counterpart of the reference dropping aged
    * volumes. Walks the layout through the path's Hadoop FileSystem —
    * the same resolution the tier metadata uses, so retention on an
    * HDFS/S3A database works like a local one. Returns the number of
    * partition directories removed.
    *
    * RETENTION REACHES THE INDEXES: owned index frames hold bins for
    * the days being dropped, and the serving guards are
    * alignment/density-based — without healing, an index-served
    * statement would keep answering from EXPIRED data while the raw
    * scan returns nothing (answers differing by serving path, the one
    * thing the serving regimes must never do). When `path` is a
    * database's `samples` layout with an index catalog beside it,
    * expiry therefore heals the owned canonical entries in the same
    * call ([[IndexCatalog.expireBins]]): binned families whose window
    * divides a day drop their aged `__day` storage partitions — the
    * SAME metadata-only operation, exact because no bin straddles a
    * day — and everything else (windows that straddle days, flat
    * legacy storage, snapshot families whose build range intersects)
    * is recorded to [[IndexDirtyName]], where the standing
    * `index_stale` alert drives [[IndexCatalog.rebuildScoped]] to
    * re-derive the affected bins over the surviving facts. Adopted
    * entries stay their maintainer's business, and non-canonical
    * frames are never touched ([[IndexCatalog.markNoncanonical]]). */
  def expire(spark: SparkSession, path: String, cutoffNs: Long): Int = {
    val cutoffDay = Math.floorDiv(cutoffNs, NsPerDay)
    val (f, root) = hfs(hconf(spark), path)
    if (!f.exists(root)) return 0
    // retention NEVER runs on an ingest root: the streaming sink's
    // transaction log pins every committed file, so deleting day
    // directories out from under it breaks every reader of the tier
    // (and would mis-trigger the index heal for days the BATCH tier
    // still holds). Aged live-tier days leave through the lifecycle:
    // compact settled days, then retire the drained root
    require(!Seq(Samples.l0Sub, Events.l0Sub, Catalog.l0Sub)
        .exists(root.getName.startsWith),
      s"expire: $path is an ingest root — its sink log pins committed " +
        s"files, so dropping day directories would break every reader " +
        s"of the tier; compact settled days (compactL0) and " +
        s"retire the drained root instead")
    val all = f.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("metric="))
      .flatMap { md =>
        val metric = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(md.getPath.getName.stripPrefix("metric="))
        f.listStatus(md.getPath).toSeq.flatMap { st =>
          st.getPath.getName.stripPrefix("ts_day=").toLongOption
            .filter(_ => st.isDirectory &&
              st.getPath.getName.startsWith("ts_day="))
            .map(d => (metric, d, st.getPath))
        }
      }
    val (aged, surviving) = all.partition(_._2 < cutoffDay)
    // retention may not EMPTY the layout: a partition-less parquet root
    // is unreadable (no footer anywhere), so a cutoff past the newest
    // data would turn the database into a loud read failure wearing a
    // retention hat — deleting everything is "drop the database", a
    // deliberate act, not a cron's cutoff arithmetic
    require(aged.isEmpty || surviving.nonEmpty,
      s"expire: cutoff day $cutoffDay would drop every partition of " +
        s"$path — retention may not empty a layout; delete the " +
        s"database deliberately instead")
    val agedPairs = aged.map { case (m, d, _) => (m, d) }
    // record whenever an index catalog sits beside a non-events layout
    // — the same gate the upsert's dirty recording uses, so a
    // custom-named samples layout can't record staleness on correction
    // but skip it on retention. Only the EVENTS half is excluded:
    // indexes derive from the samples facts, so expiring the log must
    // not touch them. Recorded BEFORE the fact delete (upsertSamples'
    // own ordering): a crash between the two then leaves at worst a
    // false-positive record the next scoped rebuild no-ops — never
    // deleted facts with owned index bins still serving them and no
    // record, no alert (the serving-path divergence this layout
    // forbids).
    val parent = root.getParent
    val healGate = agedPairs.nonEmpty &&
      root.getName != Events.batchSub && parent != null &&
      exists(hconf(spark), s"$parent/indexes/${IndexCatalog.ManifestName}")
    val recorded =
      if (healGate) recordIndexDirty(spark, parent.toString, agedPairs)
      else None
    aged.foreach { case (_, _, p) => f.delete(p, true) }
    // the partition-DROPPING heal runs only under the canonical samples
    // layout name: expireBins walks the catalog beside `parent`, which
    // indexes the SAMPLES facts — running it from any other layout
    // (an events log under a non-standard name, a bespoke root) would
    // apply THIS half's cutoff to samples-derived index __day
    // partitions whose facts still hold those days. A custom-named
    // layout keeps the record instead: the standing index_stale alert
    // drives rebuildScoped, which re-derives the touched bins over the
    // surviving facts (fully-expired bins come out removed). When the
    // drop healed every owned canonical entry, clear exactly the file
    // this call recorded — concurrent recorders' files stay pending.
    if (healGate && root.getName == Samples.batchSub) {
      val unremovable = IndexCatalog.expireBins(spark, parent.toString,
        cutoffDay)
      if (!unremovable)
        clearIndexDirty(spark, parent.toString, agedPairs, recorded.toSeq)
    }
    agedPairs.size
  }

  /** Write a DataFrame as a bucketed + sorted table on `series_id`: joins
    * and aggregations keyed on series then read co-located buckets and
    * plan with NO exchange — the Spark analog of the reference keeping
    * all of one series' data in one tree. Registered in the session
    * catalog (external, at `path`); both sides of a join must share the
    * bucket count for the shuffle to vanish. */
  def writeBucketedBySeries(df: DataFrame, table: String, path: String,
      buckets: Int = 32): Unit =
    df.write
      .option("path", path)
      .bucketBy(buckets, "series_id")
      .sortBy("series_id", "ts")
      .mode("overwrite")
      .saveAsTable(table)

  /** Write the fact table pre-joined with its alignment key (`tagkey` =
    * the canonical sorted tag suffix) and bucketed on it. Join-kind
    * queries align metrics by `groupBy(tagkey, ts)` — the engine's one
    * unavoidable shuffle on a plain layout; over this table the grouping
    * reads co-located buckets and plans with NO hash exchange, moving
    * that shuffle to write time (paid once, amortized over every join
    * query). The engine uses the table's own `tagkey` column whenever
    * `ctx.samples` carries one. */
  def writeBucketedByTagkey(ctx: TsdbContext, table: String, path: String,
      buckets: Int = 32): Unit = {
    val tagkey = array_join(
      transform(array_sort(map_entries(col("tags"))),
        e => concat_ws("=", e.getField("key"), e.getField("value"))),
      " ")
    val keyed = ctx.samples.join(
      broadcast(ctx.series.select(col("series_id"), col("metric"),
        tagkey.as("tagkey"))),
      "series_id")
    keyed.select("series_id", "ts", "value", "metric", "tagkey")
      .write
      .option("path", path)
      .bucketBy(buckets, "tagkey")
      .sortBy("tagkey", "ts")
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** A TsdbContext whose fact scan goes through the partitioned layout.
    * The `metric` partition column stays on the samples DF: Engine scans
    * join on series_id only, and Catalyst prunes partitions when the
    * resolved id set narrows to specific metrics. */
  def contextOver(spark: SparkSession, path: String, series: DataFrame,
      events: DataFrame): TsdbContext =
    TsdbContext(spark, series,
      readSamples(spark, path).select("series_id", "ts", "value", "metric", "ts_day"),
      events)

  /** Persist a context as a complete, self-describing DATABASE
    * directory: the series catalog and events as parquet, the samples
    * through the partitioned + sorted layout ([[writeSamples]]), and
    * every registered index through the persisted catalog
    * ([[IndexCatalog.save]]) — the reference's full restart unit
    * (volumes + sqlite metastorage, meta_storage.h:44+) as one
    * directory tree. [[openDatabase]] round-trips it: a restarted
    * deployment serves pruned scans AND index-served statements with
    * ZERO re-derivation from code.
    *
    * To MOVE a live database use [[exportDatabase]] — it is this
    * composed with [[openDatabase]], plus the straggler/overlap guard
    * a bare re-save would silently persist past. Spec-pinned. */
  def writeDatabase(ctx: TsdbContext, dir: String): Unit = {
    ctx.series.write.mode("overwrite").parquet(s"$dir/series")
    // events get the partitioned layout too (the log half is usually
    // the bulkier one); an EMPTY events frame writes flat — a
    // zero-row partitionBy write produces no readable footer at all
    if (ctx.events.isEmpty)
      ctx.events.write.mode("overwrite").parquet(s"$dir/events")
    else writeEvents(ctx, s"$dir/events")
    writeSamples(ctx, s"$dir/samples")
    IndexCatalog.save(ctx, s"$dir/indexes")
  }

  /** Open a [[writeDatabase]] directory: catalog + events from their
    * parquet, samples through the layout reader (metric/ts_day pruning
    * live), indexes re-registered from the persisted manifest. Build
    * an Engine over the result to re-run the registration shape
    * guards. All frames are lazy — opening is a driver-side metadata
    * operation at any volume.
    *
    * If the database has a live ingest tier (`samples_l0`, fed by
    * [[graft.streaming.TsdbStream.layoutIngest]], and/or `events_l0`,
    * fed by [[graft.streaming.TsdbStream.eventsIngest]]), that half's
    * fact frame is the UNION of the compacted batch layout and the L0
    * days the half's compaction watermark has not claimed yet
    * ([[compactL0]]) — both sides keep their own partition pruning,
    * so a range query reads each day from exactly one tier. A batch
    * events directory in the FLAT form (the empty-events write, or a
    * pre-layout database) re-keys through the broadcast catalog so the
    * union still lines up — row-level filtering instead of pruning on
    * that (small or empty) side. */
  def openDatabase(spark: SparkSession, dir: String): TsdbContext =
    IndexCatalog.load(spark, s"$dir/indexes", openFacts(spark, dir))

  /** The database's catalog and fact halves WITHOUT the index
    * registration — what [[openDatabase]] hands to
    * [[IndexCatalog.load]], exposed because index REPAIR must not
    * depend on loading the very frames it repairs:
    * [[IndexCatalog.rebuild]] opens facts through this, so a crash
    * that left one index parquet unreadable is recoverable by
    * re-running rebuild (openDatabase would throw on the destroyed
    * frame before any rewrite could happen). Each root's file listing
    * is resolved ONCE here (the relocation guard already materializes
    * it), so every consumer of the returned frames sees one pinned
    * snapshot — a stream commit landing mid-way through a multi-pass
    * consumer (rebuild's per-family builds) cannot produce frames
    * that disagree about the same rows. */
  def openFacts(spark: SparkSession, dir: String): TsdbContext = {
    val series = catalogRead(spark, dir)
    val samples = twoTierRead(spark, dir, Samples, series)
    val events = twoTierRead(spark, dir, Events, series)
    TsdbContext(spark, series, samples, events)
  }

  /** The catalog half of the two-tier read: the persisted `series`
    * parquet, unioned with stream-registered entries from the
    * `catalog_l0` root ([[graft.streaming.TsdbStream.catalogIngest]])
    * when one exists — NEW ids only (anti-join), so a fold that copied
    * an entry into the persisted catalog never double-lists it, and a
    * re-seen series re-registered into a later epoch's root dedups by
    * id. Every frame here is catalog-sized; statements over series the
    * database had never persisted resolve with no redeploy — the
    * reference's register-on-first-write, served from storage. */
  private def catalogRead(spark: SparkSession, dir: String): DataFrame = {
    val base = ParquetDirs.read(spark, s"$dir/series")
    readCatalogL0(spark, dir) match {
      case None => base
      case Some(cl0) =>
        base.unionByName(
          canonicalRegistrations(cl0)
            .join(base.select("series_id"), Seq("series_id"), "left_anti")
            .select(CatalogCols.map(col): _*))
    }
  }

  /** ONE registration row per stream-registered series, picked by a
    * FIXED rule instead of arrival order: the ingest dedups by full
    * variant ([[graft.streaming.TsdbStream.catalogIngest]]), so a
    * series whose early rows disagreed about location (or reported it
    * only later) lands several candidate rows — this picks the
    * non-null-location one first, ties by smallest (lon, lat), making
    * the registered row a function of the data alone (identical across
    * replays and batch boundaries; spec-pinned by feeding conflicting
    * orders). min_by ties are impossible: candidates for one id differ
    * exactly in the rank columns (name/metric/tags are id-determined). */
  private def canonicalRegistrations(cl0: DataFrame): DataFrame = {
    val rest = CatalogCols.filterNot(_ == "series_id")
    val rank = struct(col("lon").isNull.cast("int"), col("lon"), col("lat"))
    cl0.select(CatalogCols.map(col): _*)
      .groupBy(col("series_id"))
      .agg(min_by(struct(rest.map(col): _*), rank).as("__c"))
      .select(col("series_id") +: rest.map(c => col(s"__c.$c").as(c)): _*)
  }

  // --------------------------------------------------- epoch roots

  /** An ingest root family's LIVE directories under `dir`, epoch
    * order: the un-numbered legacy root (`base`, epoch 0) plus every
    * `base_e<N>` — the scheme that makes rotation ZERO-DOWNTIME: a new
    * epoch's sink starts at [[nextIngestRoot]] while the previous root
    * drains to compaction, every reader unions all live roots'
    * committed frames, and [[retireIngestRoot]] drops roots one at a
    * time behind their per-root guards (the reference's sharded,
    * sequenced WAL rotates volumes under writes the same way,
    * stdb/storage/input_log.h:36-80). Driver-side directory listing. */
  private def epochRoots(spark: SparkSession, dir: String,
      tier: Tier): Seq[(Long, String)] = {
    val base = tier.l0Sub
    val (f, hp) = hfs(hconf(spark), dir)
    if (!f.exists(hp)) return Nil
    f.listStatus(hp).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .flatMap { n =>
        if (n == base) Some(0L -> s"$dir/$n")
        else if (n.startsWith(base + "_e")) {
          val suffix = n.stripPrefix(base + "_e")
          // digits-only AND toLongOption: a stray directory beyond
          // Long range must be ignored (not brick every read), and a
          // signed suffix ('+5') must not alias a real epoch number
          if (suffix.nonEmpty && suffix.forall(_.isDigit))
            suffix.toLongOption.map(_ -> s"$dir/$n")
          else None
        } else None
      }
      .sortBy(_._1)
  }

  /** Path for the half's NEXT ingest epoch (`<l0Sub>_e<N+1>`, e.g.
    * `samples_l0_e2`) — point a fresh [[graft.streaming.TsdbStream
    * .layoutIngest]] / `eventsIngest` / `catalogIngest` (with a fresh
    * checkpoint) at it while the previous epoch's root drains, and
    * ingest never stops for a rotation: readers union every live root,
    * compaction claims days across all of them through the half's one
    * watermark, and [[retireIngestRoot]] with an `epoch` drops each
    * drained root individually. Catalog re-seen series re-register
    * into the new epoch's root and dedup by id on read and fold.
    *
    * Numbering is derived from the LIVE roots: it continues past
    * retired epochs while any sibling root exists, and restarts at e1
    * once the whole family is retired — the same reuse contract as
    * the legacy root taking every epoch at its one path. Safe because
    * the root DIRECTORY is the identity (retire requires it to exist
    * and verifies its content), so a reused number can never alias a
    * dropped root. */
  def nextIngestRoot(spark: SparkSession, dir: String,
      tier: Tier = Samples): String = {
    val next = epochRoots(spark, dir, tier).map(_._1).maxOption
      .getOrElse(0L) + 1
    s"$dir/${tier.l0Sub}_e$next"
  }

  /** The catalog ingest half's frame — the UNION of every live
    * catalog epoch root's committed registrations — or None when no
    * root is committed; same empty-sink tolerance as [[readTierL0]]. */
  private def readCatalogL0(spark: SparkSession, dir: String): Option[DataFrame] =
    unionCommitted(spark,
      epochRoots(spark, dir, Catalog).map(_._2), CatalogCols)

  /** One ingest root's committed frame, or None when the root is
    * absent or shows no committed data yet — a freshly-started sink
    * creates its `_spark_metadata` log before the first batch commits,
    * and a reader in that window must see "no tier", not an
    * "unable to infer schema" failure. The empty-sink condition is
    * read off the sink log (no committed data file), so no failure is
    * swallowed: any read problem stays loud.
    *
    * RELOCATION GUARD: a streaming file sink's `_spark_metadata` log
    * records ABSOLUTE file paths, so a database directory that was
    * COPIED or MOVED while it had live ingest tiers would resolve this
    * root's reads to the ORIGINAL location — silently serving another
    * database's files (or failing obscurely at scan time once the
    * original is deleted). Every committed file is verified to lie
    * under this root; a stale log fails loudly at open with the
    * remediation. The check lists the root's committed files on the
    * driver — epoch-sized by the rotation contract, and only paid when
    * an ingest tier exists. The batch halves and the index catalog are
    * relocation-safe (plain parquet / dir-relative manifest), so a
    * database is movable exactly when its epochs are retired — which
    * this guard enforces instead of assuming. */
  private def readCommittedRoot(spark: SparkSession,
      path: String): Option[DataFrame] = {
    // no committed data file (or no root) is "no tier", decided from
    // the sink log on the driver: an empty root costs no Spark job.
    // Reading with that schema is ParquetDirs.read, minus a second
    // footer read
    val schema = ParquetDirs.schemaOf(spark, path).getOrElse(return None)
    val df = spark.read.schema(schema).parquet(path)
    val (f, hp) = hfs(hconf(spark), path)
    val rootUri = f.makeQualified(hp).toUri.toString.stripSuffix("/") + "/"
    // a log path on a DIFFERENT filesystem (hdfs:// log under a
    // file:// root — the classic cluster-to-laptop copy) cannot even
    // qualify against this root's FS: that IS foreign, not an error
    // of the guard. The check is deliberately conservative-loud:
    // opening a live-tier database through a symlink/`..` alias of its
    // original path refuses too (Hadoop paths don't resolve aliases) —
    // open by the canonical path, or export ([[exportDatabase]])
    val foreign = df.inputFiles.filterNot { in =>
      try f.makeQualified(new org.apache.hadoop.fs.Path(in))
        .toUri.toString.startsWith(rootUri)
      catch { case _: IllegalArgumentException => false } // wrong FS
    }
    if (foreign.nonEmpty)
      throw new IllegalStateException(
        s"ingest root $path: its streaming sink log pins absolute file " +
          s"paths outside this root (e.g. ${foreign.head}) — the database " +
          s"directory was copied or moved with a live ingest tier. Sink " +
          s"roots are not relocatable; retire epochs (compact + fold + " +
          s"retireIngestRoot) or exportDatabase BEFORE moving a " +
          s"database, or re-ingest into the new location")
    Some(df)
  }

  /** MOVE a database whose ingest epochs are NOT retired: re-persist
    * the opened context at `dst` — the two-tier unions and the unioned
    * catalog (stream registrations included) land as a fresh
    * batch-only layout with no sink logs, which a raw directory copy
    * cannot do (the open guard refuses one — sink logs pin absolute
    * paths). Refuses loudly when either half has STRAGGLERS
    * (below-watermark L0 rows the batch tier never received): the
    * opened view excludes them by the tier contract, so exporting
    * would silently drop exactly the rows [[retireIngestRoot]] refuses
    * to delete — route them through the upserts first, same remedy as
    * rotation. The unfolded-registration check is NOT needed: the
    * exported catalog is the unioned read, registrations ride along.
    *
    * PRECONDITION — STOP (or redirect) the ingest streams first: the
    * export reads the point-in-time snapshot [[openDatabase]] pins at
    * its file listing, so rows and registrations a live ingest commits
    * AFTER the open are left behind at `src` — the straggler/overlap
    * guard covers mis-served EXISTING data, not concurrent commits.
    * Export, verify `dst`, then decommission `src` (or resume ingest
    * at `dst` via the next-epoch roots). */
  def exportDatabase(spark: SparkSession, src: String, dst: String): Unit = {
    for (tier <- Tier.Facts) {
      val strag = l0Stragglers(spark, src, tier).limit(6).collect()
      require(strag.isEmpty,
        s"export: $src has ${tier.batchSub} alert partition(s) " +
          s"${strag.map(r => s"(${r.get(0)}, ${r.get(1)})").mkString(", ")} — " +
          s"the opened view mis-serves them (below-watermark stragglers " +
          s"are excluded, pre-watermark tier overlaps double-read), so an " +
          s"export would persist that mistake; route them through the " +
          s"upserts (or compact) first")
    }
    // the pipeline stores export WITH the database — a curation
    // deployment's corpus store carries the docs, the dedup index AND
    // the takedown TOMBSTONE log, whose loss would re-enable
    // resurrection of every legally-removed document at the copy
    // (CorpusStore's scaladoc calls deleting it exactly that); the
    // embedding store carries the epoch the manifest points at. Both
    // refuse on STAGED intents, the straggler rule: an un-healed
    // intent is data the exported view would silently lack — heal
    // first, then export
    exportStore(spark, src, dst, CorpusSub, "corpus_pending",
      graft.pipeline.CorpusStore.exists,
      d => graft.pipeline.CorpusStore.health(spark, d))
    exportStore(spark, src, dst, EmbSub, "emb_pending",
      graft.pipeline.EmbeddingStore.exists,
      d => graft.pipeline.EmbeddingStore.health(spark, d))
    writeDatabase(openDatabase(spark, src), dst)
  }

  /** One pipeline store's export: refuse on staged intents, then copy
    * the whole store tree (docs/index/manifest AND the tombstone log —
    * plain parquet + manifest files, relocation-safe by construction,
    * unlike the ingest sink roots whose logs pin absolute paths). */
  private def exportStore(spark: SparkSession, src: String, dst: String,
      sub: String, pendingKey: String,
      existsFn: (SparkSession, String) => Boolean,
      healthFn: String => Seq[(String, Long)]): Unit = {
    val storeDir = s"$src/$sub"
    if (!existsFn(spark, storeDir)) return
    val pending = healthFn(storeDir).toMap.getOrElse(pendingKey, 0L)
    require(pending == 0L,
      s"export: $storeDir has $pending staged intent(s) ($pendingKey) — " +
        s"the exported copy would silently lack what they stage; run the " +
        s"heal (maintenanceTick healIndexes = true) first")
    val (sf, sp) = hfs(hconf(spark), storeDir)
    val (df, dp) = hfs(hconf(spark), s"$dst/$sub")
    // re-running a crashed export IS the recovery: an existing target
    // store is replaced whole (FileUtil.copy would otherwise NEST the
    // copy under it — dst/corpus/corpus — and the export would
    // silently keep serving the first attempt's stale store)
    if (df.exists(dp)) df.delete(dp, true)
    require(org.apache.hadoop.fs.FileUtil.copy(sf, sp, df, dp, false,
      spark.sparkContext.hadoopConfiguration),
      s"export: copying $storeDir to $dst/$sub failed")
  }

  /** Fold stream-registered series ([[graft.streaming.TsdbStream
    * .catalogIngest]]'s `catalog_l0` root) into the persisted `series`
    * parquet — the catalog's compaction step, prerequisite of
    * retiring the catalog root ([[retireIngestRoot]]). New-only
    * (anti-join by id) and IDEMPOTENT: the fresh slice is
    * materialized to a staging directory first, so a crash between
    * staging and the append re-runs from scratch, and a crash after
    * the append's job commit re-computes an empty slice — a
    * registration is never folded twice. The persisted catalog is never rewritten, only appended
    * (ids are content-hashed, so an entry's row is immutable); no step
    * here scales with anything but the NEW-series count.
    *
    * @return number of registrations folded. */
  def foldCatalogL0(spark: SparkSession, dir: String): Long = {
    val cl0 = readCatalogL0(spark, dir) match {
      case Some(f) => f
      case None => return 0L
    }
    val basePath = s"$dir/series"
    val staging = s"$dir/series_staging"
    val fresh = canonicalRegistrations(cl0)
      .join(ParquetDirs.read(spark, basePath).select("series_id"),
        Seq("series_id"), "left_anti")
      .select(CatalogCols.map(col): _*)
    fresh.write.mode("overwrite").parquet(staging)
    val staged = ParquetDirs.read(spark, staging)
    val n = staged.count()
    if (n > 0) staged.write.mode("append").parquet(basePath)
    deleteRecursive(hconf(spark), staging)
    n
  }

  /** [[retireIngestRoot]] for the catalog half: drop a FULLY-FOLDED
    * `catalog_l0` root (and optionally its stream checkpoint — the
    * next epoch's registration dedup state starts clean, which is safe
    * because re-seen series re-register and dedup by id on read). A
    * registration is safe to drop when it is folded OR a sibling live
    * epoch root also carries it; the root refuses loudly while any
    * registration's ONLY copy lives in it (run [[foldCatalogL0]]
    * first). */
  private def retireCatalogRoot(spark: SparkSession, dir: String,
      path: String, checkpoint: Option[String]): Boolean =
    retireRoot(spark, path, "catalog ingest root", checkpoint) { cl0 =>
      // a registration is safe to drop when its id is persisted OR a
      // SIBLING live epoch root also carries it (re-seen series
      // re-register per epoch) — only an ONLY-copy refuses
      val qualified = {
        val (f, hp) = hfs(hconf(spark), path)
        f.makeQualified(hp).toString
      }
      val siblings = epochRoots(spark, dir, Catalog).map(_._2)
        .filter { r =>
          val (f, hp) = hfs(hconf(spark), r)
          f.makeQualified(hp).toString != qualified
        }
      val safeIds = (ParquetDirs.read(spark, s"$dir/series")
          .select("series_id") +:
        siblings.flatMap(readCommittedRoot(spark, _))
          .map(_.select("series_id")))
        .reduce(_.unionByName(_))
      val unfolded = cl0.select("series_id", "name")
        .dropDuplicates("series_id")
        .join(safeIds, Seq("series_id"), "left_anti")
        .limit(6).collect().map(_.getString(1))
      require(unfolded.isEmpty,
        s"retire: catalog ingest root $path still holds unfolded " +
          s"registration(s) ${unfolded.mkString(", ")} whose only copy " +
          s"lives here — run foldCatalogL0 first")
    }

  /** The retire protocol every ingest root shares: absent → false
    * (idempotent re-run; a given checkpoint is only dropped together
    * with the root it belongs to); exists-but-uncommitted → loud
    * refusal (either the NEXT epoch's live sink, whose transaction log
    * this must not destroy, or an abandoned one — a manual delete,
    * not a lifecycle step); committed → the root-specific safety
    * `verify` (which throws to refuse), then the root and optionally
    * its checkpoint are dropped whole.
    *
    * HARD PRECONDITION — the root's OWN stream is STOPPED: the guards
    * verify committed DATA, not sink liveness, so a fully-drained root
    * whose stream is still running passes them — and deleting the sink
    * log (and checkpoint) out from under a running query kills it and
    * loses its in-flight batches. Rotation never needs to retire a
    * live root: hand ingest to the next epoch ([[nextIngestRoot]]),
    * stop the old epoch's stream, THEN retire its root —
    * ingest continues on the successor throughout (spec-pinned). */
  private def retireRoot(spark: SparkSession, path: String, what: String,
      checkpoint: Option[String])(verify: DataFrame => Unit): Boolean = {
    if (!exists(hconf(spark), path)) return false
    readCommittedRoot(spark, path) match {
      case None =>
        throw new IllegalArgumentException(
          s"retire: $what $path exists but holds no committed data — " +
            s"if this is a freshly-started epoch it is LIVE; an " +
            s"abandoned empty sink is a manual delete, not a retire")
      case Some(df) => verify(df)
    }
    deleteRecursive(hconf(spark), path)
    checkpoint.foreach(deleteRecursive(hconf(spark), _))
    true
  }

  /** One fact half's read: the batch layout, unioned with the
    * above-watermark L0 slice when the half has a live ingest tier.
    * Flat batch directories (no layout columns) re-key lazily through
    * the catalog so the two shapes always union. An events batch in
    * the flat EMPTY form with no L0 tier stays flat (the round-9
    * behavior — nothing to union, nothing to prune). */
  private def twoTierRead(spark: SparkSession, dir: String, tier: FactTier,
      series: DataFrame): DataFrame = {
    val batchRaw = ParquetDirs.read(spark, s"$dir/${tier.batchSub}")
    readTierL0(spark, dir, tier) match {
      case None => batchRaw
      case Some(l0) =>
        val batch =
          if (batchRaw.columns.contains("ts_day")) batchRaw
          else keyed(batchRaw, series)
        batch.select(tier.cols.map(col): _*).unionByName(
          l0.select(tier.cols.map(col): _*)
            .where(col("ts_day") >= l0Watermark(spark, dir, tier)))
    }
  }

  /** The L0 ingest tier's frame — the UNION of every live epoch
    * root's committed data ([[epochRoots]]) — or None when the tier is
    * absent or no root has COMMITTED data yet: a freshly-started
    * [[graft.streaming.TsdbStream.layoutIngest]] creates the sink's
    * `_spark_metadata` log before the first batch commits, and a
    * reader opening the database in that window must see the batch
    * tier, not an "unable to infer schema" failure. Only the
    * empty-sink condition is swallowed; any other read problem stays
    * loud. */
  private def readTierL0(spark: SparkSession, dir: String,
      tier: FactTier): Option[DataFrame] =
    unionCommitted(spark,
      epochRoots(spark, dir, tier).map(_._2), tier.cols)

  /** Union the committed frames of the given roots on the family's
    * canonical column set (partition-column order varies per sink). */
  private def unionCommitted(spark: SparkSession, roots: Seq[String],
      cols: Seq[String]): Option[DataFrame] = {
    val frames = roots.flatMap(readCommittedRoot(spark, _))
      .map(_.select(cols.map(col): _*))
    frames.reduceOption(_.unionByName(_))
  }

  /** One-frame operational readout of a database directory — the
    * "what do I have" the reference answers from its metastorage's
    * volume/series tables (meta_storage.h:44+), here derived from the
    * directory tree itself. One row per (half, tier, metric):
    *
    *   - `(samples|events, batch, metric)` — the laid-out batch tier's
    *     day extents, from the partition-directory LISTING alone: no
    *     data I/O at any volume (row counts are therefore null — an
    *     honest unknown, not a scan). Driver cost = the (metric, day)
    *     partition count, the same axis every lifecycle operator
    *     already collects per root. A flat batch directory (the
    *     empty-events form) has no partition dirs and contributes
    *     nothing.
    *   - `(samples|events, l0 | l0_residue, metric)` — the ingest
    *     root's committed content (the epoch-sized read), split at the
    *     compaction watermark: `l0` days are LIVE (the union read
    *     serves them), `l0_residue` days are compacted copies the
    *     sink log pins until [[retireIngestRoot]] rotation. Row counts
    *     included (the root is epoch-sized by the rotation contract).
    *   - `(samples|events, watermark)` — the compaction watermark day,
    *     when one exists.
    *   - `(catalog, persisted | l0 | unfolded)` — registration counts:
    *     the persisted catalog, distinct stream registrations in the
    *     catalog_l0 root, and how many of those are NOT yet folded
    *     (nonzero = [[foldCatalogL0]] is due before rotation).
    *
    * Pairs with [[l0Stragglers]] / [[IndexCatalog.freshness]] as the
    * summary view those alerts drill into. */
  def describeDatabase(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = scala.collection.mutable.ListBuffer.empty[Row]
    def jl(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    for (tier <- Tier.Facts) {
      val half = tier.batchSub
      listPartitionDays(spark, s"$dir/${tier.batchSub}")
        .groupBy(_._1).toSeq.sortBy(_._1).foreach { case (m, ds) =>
          val days = ds.map(_._2)
          rows += Row(half, "batch", m, jl(days.min), jl(days.max),
            jl(days.distinct.size.toLong), null)
        }
      readTierL0(spark, dir, tier).foreach { l0 =>
        val wm = l0Watermark(spark, dir, tier)
        val agg = l0
          .groupBy(col("metric"), col("ts_day").cast("long").as("d"))
          .agg(count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        def emit(tierName: String, slice: Seq[(String, Long, Long)]): Unit =
          slice.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (m, ds) =>
            rows += Row(half, tierName, m, jl(ds.map(_._2).min),
              jl(ds.map(_._2).max), jl(ds.map(_._2).distinct.size.toLong),
              jl(ds.map(_._3).sum))
          }
        emit("l0", agg.filter(_._2 >= wm).toSeq)
        emit("l0_residue", agg.filter(_._2 < wm).toSeq)
      }
      // the watermark outlives its root by design (retireIngestRoot
      // keeps it so the late-data guard and the next epoch's union
      // read work) — report it whenever the file exists, not only
      // while L0 has committed data
      if (hasWatermark(spark, dir, tier)) {
        val wm = l0Watermark(spark, dir, tier)
        rows += Row(half, "watermark", null, jl(wm), jl(wm), null, null)
      }
    }
    val persistedIds = ParquetDirs.read(spark, s"$dir/series").select("series_id")
    rows += Row("catalog", "persisted", null, null, null, null,
      jl(persistedIds.count()))
    readCatalogL0(spark, dir).foreach { cl0 =>
      val regs = cl0.select("series_id").distinct()
      rows += Row("catalog", "l0", null, null, null, null, jl(regs.count()))
      rows += Row("catalog", "unfolded", null, null, null, null,
        jl(regs.join(persistedIds, Seq("series_id"), "left_anti").count()))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("half", StringType), StructField("tier", StringType),
        StructField("metric", StringType), StructField("min_day", LongType),
        StructField("max_day", LongType), StructField("n_days", LongType),
        StructField("n_rows", LongType))))
  }

  /** List a laid-out root's (metric, ts_day) partition directories —
    * metadata only, no file opened. Partition values are unescaped the
    * way Spark escaped them on write (%XX for the reserved chars). */
  private def listPartitionDays(spark: SparkSession,
      root: String): Seq[(String, Long)] = {
    val (f, hp) = hfs(hconf(spark), root)
    if (!f.exists(hp)) return Nil
    val glob = new org.apache.hadoop.fs.Path(s"$root/metric=*/ts_day=*")
    Option(f.globStatus(glob)).map(_.toSeq).getOrElse(Nil).map { st =>
      val day = st.getPath.getName.stripPrefix("ts_day=").toLong
      // Spark's own inverse of the escaping it applied on write
      val metric = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(st.getPath.getParent.getName.stripPrefix("metric="))
      (metric, day)
    }
  }

  /** The periodic MAINTENANCE TICK a deployment crons — the lifecycle
    * steps between ingest and rotation, in their required order, as
    * one operator with one summary: compact both fact halves' settled
    * days ([[compactL0]] per half, only where an ingest
    * tier exists — a tick must not stamp watermarks onto absent
    * tiers), fold stream registrations into the persisted catalog
    * ([[foldCatalogL0]]), then poll the standing alerts
    * ([[l0Stragglers]] per half, and `index_stale` —
    * the count of upsert-touched (metric, ts_day) partitions whose
    * corrections no owned index serves yet; nonzero until
    * [[IndexCatalog.rebuildScoped]] (or the full rebuild) clears the
    * record). Returns one `(step, n)` row per action: moved partition
    * counts, folded registration count, straggling partition counts
    * (nonzero = route through the upserts before the next rotation),
    * pending-stale partition count (nonzero = run the scoped rebuild).
    * Idempotent: a re-run with the same cutoff reports zeros for the
    * actions and unchanged counts for the standing alerts. Rotation
    * ([[retireIngestRoot]]) stays a separate, deliberate act —
    * it is the one destructive step and no cron should own it.
    *
    * `healIndexes = true` adds the staleness REMEDY to the tick: after
    * compaction and fold, [[IndexCatalog.rebuildScoped]] runs over the
    * pending record (day-pruned, non-destructive — unlike rotation it
    * belongs in a cron) and the summary gains an `index_healed` row
    * (frames rewritten); `index_stale` then reports what remains
    * PENDING after the heal — zero unless an upsert raced the tick, or
    * a non-canonical owned entry refused (the one case the heal
    * re-throws rather than silently skipping: the operator marked it,
    * the operator decides). Default false: alert-only, remedy on the
    * operator's terms.
    *
    * [[healthCheck]] is the one-frame alert composition;
    * [[IndexCatalog.freshness]] and [[describeDatabase]] the
    * companion readouts for what a tick does not touch. */
  def maintenanceTick(spark: SparkSession, dir: String,
      settledCutoffNs: Long, healIndexes: Boolean = false): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // a CORPUS STORE at the database's `corpus/` sub-directory (the
    // curation deployment layout) joins the tick: its heal is as
    // non-destructive as the scoped rebuild, and its standing alerts
    // belong in the same summary the cron watches
    val corpusDir = s"$dir/${CorpusSub}"
    val hasCorpus = graft.pipeline.CorpusStore.exists(spark, corpusDir)
    // the EMBEDDING store joins the tick the same way: heal applies
    // staged intents, and the drift alert triggers the recall-gated
    // refit ([[graft.pipeline.EmbeddingStore.maintain]] — the
    // alert→scoped-remedy loop the TSDB index family already has,
    // closed on the embedding half)
    val embDir = s"$dir/${EmbSub}"
    val hasEmb = graft.pipeline.EmbeddingStore.exists(spark, embDir)
    val rows = Tier.Facts.map(t => Row(s"compact_${t.batchSub}",
        compactL0(spark, dir, settledCutoffNs, t).toLong)) ++
      Seq(Row("fold_catalog", foldCatalogL0(spark, dir))) ++
      (if (healIndexes)
        Seq(Row("index_healed",
          IndexCatalog.rebuildScoped(spark, dir).toLong)) ++
          (if (hasCorpus)
            Seq(Row("corpus_healed",
              graft.pipeline.CorpusStore.heal(spark, corpusDir).toLong))
          else Nil) ++
          (if (hasEmb)
            graft.pipeline.EmbeddingStore.maintain(spark, embDir)
              .map { case (c, n) => Row(c, n) }
          else Nil)
      else Nil) ++
      Tier.Facts.map(t => Row(s"stragglers_${t.batchSub}",
        l0Stragglers(spark, dir, t).count())) ++
      Seq(Row("index_stale", indexDirtyPairs(spark, dir).size.toLong)) ++
      (if (hasCorpus)
        graft.pipeline.CorpusStore.health(spark, corpusDir)
          .map { case (c, n) => Row(c, n) }
      else Nil) ++
      (if (hasEmb)
        graft.pipeline.EmbeddingStore.health(spark, embDir)
          .map { case (c, n) => Row(c, n) }
      else Nil)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("step", StringType),
        StructField("n", LongType))))
  }

  /** ONE merged health readout — the single frame a deployment's cron
    * actually watches, composing every standing alert the lifecycle
    * defines: one `(component, status, n)` row each for
    *
    *   - `samples_stragglers` / `events_stragglers` — affected
    *     (metric, ts_day) partitions from each half's
    *     [[l0Stragglers]] (route through the upserts);
    *   - `catalog_unfolded` — stream registrations whose only copy
    *     lives in the catalog ingest root ([[foldCatalogL0]] is due
    *     before its rotation);
    *   - `index_stale` — upsert-touched partitions no owned index
    *     serves yet ([[IndexCatalog.rebuildScoped]] is due);
    *   - `index_lagging` (only when `nowNs` is given) — ADOPTED
    *     stream-maintained index entries whose maintainer's last
    *     committed bin ([[IndexCatalog.freshness]]) trails `nowNs` by
    *     more than `maxIndexLagNs` (a stalled maintainer; an index
    *     with no rows yet counts as maximally stale). Owned entries
    *     are save-time snapshots — their staleness is `index_stale`'s
    *     job, not a lag.
    *
    * `status` is `ok` when n = 0, `alert` otherwise; all-`ok` means
    * every queryable view is serving exactly what the contracts
    * promise. Each count is the alert's own (pruned, epoch-sized or
    * metadata-sized) read — composing them adds no new scan.
    * [[describeDatabase]] stays the drill-down view. */
  def healthCheck(spark: SparkSession, dir: String,
      nowNs: Option[Long] = None,
      maxIndexLagNs: Long = NsPerDay): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val counts = scala.collection.mutable.ListBuffer.from(
      Tier.Facts.map(t =>
        s"${t.batchSub}_stragglers" -> l0Stragglers(spark, dir, t).count()))
    counts ++= Seq(
      "catalog_unfolded" -> readCatalogL0(spark, dir).fold(0L)(cl0 =>
        cl0.select("series_id").distinct()
          .join(ParquetDirs.read(spark, s"$dir/series").select("series_id"),
            Seq("series_id"), "left_anti").count()),
      "index_stale" -> indexDirtyPairs(spark, dir).size.toLong)
    // the pipeline-index rows: a corpus store at `corpus/` has its own
    // staged-intent and index-coverage alerts (directory listings —
    // composing them adds no scan); `corpus_pending` = staged
    // accepts/takedowns no heal applied, `corpus_unbanded` = docs
    // batches the dedup index does not cover
    // ([[graft.pipeline.CorpusStore.health]])
    if (graft.pipeline.CorpusStore.exists(spark, s"$dir/$CorpusSub"))
      counts ++= graft.pipeline.CorpusStore.health(spark, s"$dir/$CorpusSub")
    // ...and the embedding store's: `emb_pending` staged intents,
    // `emb_drift` cells whose population share moved past the
    // threshold since the epoch build (the reading maintenanceTick's
    // recall-gated refit clears)
    if (graft.pipeline.EmbeddingStore.exists(spark, s"$dir/$EmbSub"))
      counts ++= graft.pipeline.EmbeddingStore.health(spark, s"$dir/$EmbSub")
    nowNs.foreach { now =>
      val lagging =
        if (!exists(hconf(spark),
            s"$dir/indexes/${IndexCatalog.ManifestName}")) 0L
        else IndexCatalog.freshness(spark, s"$dir/indexes",
            adoptedOnly = true)
          .count(_.lastNs.getOrElse(Long.MinValue) < now - maxIndexLagNs)
          .toLong
      counts += ("index_lagging" -> lagging)
    }
    val rows = counts.sortBy(_._1).map { case (c, n) =>
      Row(c, if (n == 0) "ok" else "alert", n)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(StructField("component", StringType),
        StructField("status", StringType), StructField("n", LongType))))
  }

  /** Below-watermark L0 content of the `tier` half (default the
    * samples; the events half compares (series_id, ts, body)) that its
    * batch tier does NOT hold — (metric, ts_day, n), one row per
    * affected partition. Compacted
    * days leave their files in the L0 root (the sink log pins them),
    * so "below the watermark" alone is residue, not a problem; a
    * PROBLEM row is one whose (series_id, ts, value) never reached the
    * batch tier: a late arrival routed through the stream instead of
    * [[upsertSamples]] (which [[openDatabase]] deliberately excludes —
    * its day is batch-owned), or an L0 copy a later correction
    * superseded. This is the alert a deployment polls; routing a
    * reported row through [[upsertSamples]] clears it. Exact-duplicate
    * multiplicities are not distinguished (an alert, not an audit).
    *
    * BEFORE the first compaction (no watermark) the two-tier reader
    * unions ALL of L0 with the batch layout, so the misuse to detect
    * is different: a (metric, day) present in BOTH tiers double-reads
    * until the first [[compactL0]]. In that window this alert reports
    * exactly those overlap partitions (their L0 row counts) — the
    * load-then-ingest flow keeps it empty, and the first compaction
    * replaces it with the straggler contract above.
    *
    * Scale shape: the below-watermark day set is collected first
    * (driver-sized — bounded by this sink root's compacted span,
    * which [[retireIngestRoot]] rotation keeps epoch-sized) and the
    * batch read is pruned to exactly those days before the anti-join;
    * never a full-history scan. Empty frame when the tier is absent
    * or nothing straggles. */
  def l0Stragglers(spark: SparkSession, dir: String,
      tier: FactTier = Samples): DataFrame =
    tierStragglers(spark, dir, tier)

  /** `l0Override`: restrict the check to ONE root's committed frame —
    * the per-epoch retire guard asks "does THIS root hold a row's only
    * copy", not "does any live root" (a sibling epoch's stragglers
    * must not block retiring a clean one). None = the whole tier. */
  private def tierStragglers(spark: SparkSession, dir: String,
      tier: FactTier, l0Override: Option[DataFrame] = None): DataFrame = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("metric",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts_day",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType))))
    def counted(df: DataFrame): DataFrame = df
      // partition-inferred ts_day reads as Int; pin the Long the
      // empty branch declares so pollers can append/union frames
      // across calls without a schema-merge surprise
      .groupBy(col("metric"), col("ts_day").cast("long").as("ts_day"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"))
    l0Override.orElse(readTierL0(spark, dir, tier)) match {
      case None => empty
      case Some(l0) =>
        val l0c = l0.select(tier.cols.map(col): _*)
        val batchRaw = ParquetDirs.read(spark, s"$dir/${tier.batchSub}")
        val batchLaid = batchRaw.columns.contains("ts_day")
        if (hasWatermark(spark, dir, tier)) {
          val below = l0c.where(col("ts_day") <
            l0Watermark(spark, dir, tier))
          val days = below.select("metric", "ts_day").distinct()
            .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue))
          if (days.isEmpty) return empty
          // the anti-join right side: day-pruned on a laid-out batch;
          // a FLAT batch (the empty-events write form) has no
          // partitions to prune but carries the row-key columns
          val batchRows =
            if (batchLaid) batchRaw.where(dayPred(days))
              .select(tier.rowKey.map(col): _*)
            else batchRaw.select(tier.rowKey.map(col): _*)
          counted(below.join(batchRows, tier.rowKey, "left_anti"))
        } else {
          // pre-first-compaction overlap detector: any (metric, day)
          // both tiers hold double-reads in the union until the first
          // compaction. Day-level on a laid-out batch; a flat batch
          // matches on the day number alone (conservative — it has no
          // metric column to compare).
          val days = l0c.select("metric", "ts_day").distinct()
            .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue))
          if (days.isEmpty) return empty
          val overlap: Seq[(String, Long)] =
            if (batchLaid) {
              val held = batchRaw.where(dayPred(days))
                .select("metric", "ts_day").distinct().collect()
                .map(r => (r.getString(0), r.getAs[Number](1).longValue)).toSet
              days.filter(held).toSeq
            } else {
              val dayNums = days.map(_._2).distinct
              val held = batchRaw.withColumn("ts_day",
                  graft.functions.VectorExpressions.longFloorDiv(col("ts"),
                    NsPerDay))
                .where(col("ts_day").isin(dayNums: _*))
                .select("ts_day").distinct().collect()
                .map(_.getAs[Number](0).longValue).toSet
              days.filter(d => held(d._2)).toSeq
            }
          if (overlap.isEmpty) empty
          else counted(l0c.where(dayPred(overlap)))
        }
    }
  }

  /** L0 → batch compaction: MOVE every settled ingest day (ts_day in
    * [watermark, cutoff)) from the stream-sink tier into the batch
    * layout, rewritten (series_id, ts)-sorted one file per partition —
    * restoring the row-group-stat tightness [[graft.streaming
    * .TsdbStream.layoutIngest]]'s unsorted micro-batch appends give up
    * (the LSM L0→L1 rule). Readers flip tiers through the watermark:
    * [[openDatabase]] serves compacted days from the batch layout and
    * newer days from L0, so answers never change — compaction reorders
    * bytes, never rows' visibility.
    *
    * Day exclusivity is REQUIRED and checked: the batch layout must
    * hold no rows in the days being claimed (normal operation — the
    * batch load ends before ingest begins), with ONE tolerated
    * exception: when the claimed days' batch content already EQUALS
    * the settled L0 slice (verified multiset-exactly, pruned to those
    * days), the run recognizes a prior overwrite that committed
    * without its watermark — the crash window — and recovers by
    * advancing the watermark alone. Anything else fails loudly rather
    * than double-writing a day. A crash between overwrite-commit and
    * watermark-advance therefore double-reads the slice only until
    * compactL0 re-runs; the re-run IS the recovery.
    *
    * Physical reclamation of compacted L0 files rides the sink's own
    * lifecycle: the file-sink transaction log pins them, so a
    * deployment rotates ingest roots per epoch — when every day this
    * root holds is compacted, [[retireIngestRoot]] verifies that and
    * drops the root (and optionally its checkpoint) whole, and the
    * next epoch's stream starts a fresh sink at the path.
    *
    * LATE DATA below the watermark must go through [[upsertSamples]]
    * / [[upsertEvents]], not the ingest stream: a stream row landing
    * in a claimed day is excluded by the reader (its day is
    * batch-owned). Poll [[l0Stragglers]] to catch and re-route any
    * that slipped through (spec-pinned end to end in StreamingSpec).
    *
    * `tier` picks the fact half (default the samples); each half has
    * its own watermark file. A batch directory still in the flat EMPTY
    * form (an events half written before any events arrived) is
    * replaced wholesale by the first compaction — the flat file would
    * otherwise make the root unreadable next to partition directories.
    *
    * @return number of (metric, day) partitions moved. */
  def compactL0(spark: SparkSession, dir: String, cutoffNs: Long,
      tier: FactTier = Samples): Int = {
    // an ABSENT ingest tier (no root at any epoch) is "this half has
    // no live tier", not "nothing settled": stamping a watermark here
    // would activate the L0-owned-day upsert guard (and the describe
    // watermark row) for a tier that never existed. A root that EXISTS
    // but shows no committed data is different — the tier is live,
    // nothing settled yet, and advancing the watermark legitimately
    // claims the days
    if (epochRoots(spark, dir, tier).isEmpty) return 0
    val cutoffDay = Math.floorDiv(cutoffNs, NsPerDay)
    val wm = l0Watermark(spark, dir, tier)
    if (cutoffDay <= wm) return 0
    val l0 = readTierL0(spark, dir, tier) match {
      case Some(f) => f
      case None => writeWatermark(spark, dir, tier, cutoffDay); return 0
    }
    val settled = l0
      .select(tier.cols.map(col): _*)
      .where(col("ts_day") >= wm && col("ts_day") < cutoffDay)
    // ts_day is a directory-inferred partition column (IntegerType on
    // read, LongType when carried through a write) — accept either
    val affected = settled.select("metric", "ts_day").distinct()
      .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue))
    if (affected.isEmpty) {
      writeWatermark(spark, dir, tier, cutoffDay); return 0
    }
    val batchPath = s"$dir/${tier.batchSub}"
    val batchRaw = ParquetDirs.read(spark, batchPath)
    if (!batchRaw.columns.contains("ts_day")) {
      // flat batch: only the EMPTY write form is compactable — the
      // whole-directory overwrite clears the flat file so partition
      // directories can take over; a flat NON-empty batch cannot join
      // the two-tier protocol (nothing recorded which days it owns)
      require(batchRaw.isEmpty,
        s"compact: batch tier at $batchPath is flat and non-empty — " +
          s"two-tier compaction needs the laid-out batch " +
          s"(rewrite it through the layout writer first)")
      sortedPartitionWrite(settled, batchPath, replaceOnlyWritten = false)
      writeWatermark(spark, dir, tier, cutoffDay)
      return affected.length
    }
    val alreadyThere = batchRaw
      .where(dayPred(affected)).select(tier.cols.map(col): _*)
    // PER-DAY split so recovery composes with a LATER cutoff (cutoffs
    // track wall clock; a re-run after a crash rarely replays the
    // crashed run's exact cutoff): days the batch already holds must
    // multiset-equal their settled slice — the recognized crash state,
    // nothing to rewrite — while days absent from the batch are the
    // new work. Any content mismatch on an occupied day stays loud.
    // One action decides equality (both exceptAll sides pruned to the
    // occupied days).
    val occupiedDays = alreadyThere.select("metric", "ts_day").distinct()
      .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue))
      .toSet
    if (occupiedDays.nonEmpty) {
      val settledOccupied = settled.where(dayPred(occupiedDays.toSeq))
      val equal = alreadyThere.exceptAll(settledOccupied)
        .union(settledOccupied.exceptAll(alreadyThere)).isEmpty
      require(equal,
        s"compact (${tier.batchSub}): batch layout already holds rows in " +
          s"claimed day(s) (${occupiedDays.take(5).mkString(", ")}…) that " +
          s"do not match the settled L0 slice — day ownership must be " +
          s"exclusive between tiers")
    }
    val toWrite = affected.filterNot(occupiedDays)
    if (toWrite.nonEmpty)
      sortedPartitionWrite(settled.where(dayPred(toWrite)),
        batchPath, replaceOnlyWritten = true)
    writeWatermark(spark, dir, tier, cutoffDay)
    affected.length
  }

  /** Retire a FULLY-COMPACTED ingest root of `tier` — the one
    * destructive step of the two-tier lifecycle, as an operator with
    * the checks a runbook would forget. `epoch = None` names the
    * un-numbered root (`samples_l0`), `Some(n)` one rotation epoch
    * (`samples_l0_e<n>`, see [[nextIngestRoot]]): the zero-downtime
    * rotation's destructive step, run while the next epoch's stream
    * keeps writing — THIS root must be drained (a sibling epoch's
    * state neither blocks nor excuses it). The catalog half's guard is
    * fold-completeness instead (see `retireCatalogRoot`).
    *
    * The streaming file sink's transaction log pins every file it
    * ever committed, so compacted days' bytes stay in the L0 root
    * until the whole root is dropped; this verifies the drop is safe
    * and performs it:
    *
    *   1. every day the root shows rows for lies BELOW the compaction
    *      watermark (fully claimed into the batch layout — readers
    *      already never look at this root); a pre-first-compaction
    *      root (no watermark) always refuses;
    *   2. [[l0Stragglers]] over THIS root is empty — a straggler
    *      row's ONLY copy lives in this root, and deleting it would
    *      destroy data the alert says to re-route first.
    *
    * Then the root directory (and, when given, the stream's
    * checkpoint directory — the next epoch's sink must start fresh,
    * or it would believe old batches committed) is deleted whole.
    * Refusals are loud; answers are unchanged by construction
    * (spec-pinned): the watermark file REMAINS, so the late-data
    * guard and the next epoch's union read keep working.
    *
    * A root that exists but shows NO committed data refuses too: it is
    * either the next epoch's just-started sink (whose live transaction
    * log this must not destroy — the duplicate-retire race) or an
    * abandoned empty one, and "fully compacted" describes neither;
    * an abandoned sink is a manual delete, not a lifecycle step.
    *
    * @return true when a root was deleted; false when no root exists
    *         (idempotent re-run — the checkpoint is left untouched in
    *         that case, there being nothing to verify it against). */
  def retireIngestRoot(spark: SparkSession, dir: String,
      tier: Tier = Samples, epoch: Option[Long] = None,
      checkpoint: Option[String] = None): Boolean = {
    val path = s"$dir/${tier.l0Sub}" + epoch.fold("")(e => s"_e$e")
    tier match {
      case t: FactTier => retireTier(spark, dir, t, path, checkpoint)
      case Catalog => retireCatalogRoot(spark, dir, path, checkpoint)
    }
  }

  private def retireTier(spark: SparkSession, dir: String, tier: FactTier,
      l0Path: String, checkpoint: Option[String]): Boolean =
    retireRoot(spark, l0Path, "ingest root", checkpoint) { l0 =>
      // no watermark ⇒ wm = Long.MinValue ⇒ every held day is "live"
      // and a non-empty root refuses — a pre-first-compaction root is
      // never safe to drop
      val wm = l0Watermark(spark, dir, tier)
      val live = l0.select("metric", "ts_day")
        .where(col("ts_day") >= wm).distinct().limit(6).collect()
        .map(_.getAs[Number](1).longValue).distinct
      require(live.isEmpty,
        s"retire: ingest root $l0Path still owns uncompacted day(s) " +
          s"${live.mkString(", ")} — run compaction with a cutoff past " +
          s"them first")
      // scoped to THIS root's content: a straggler row in a SIBLING
      // epoch must not block retiring a drained one (and vice versa —
      // this root's stragglers refuse even if the union looks healthy)
      val strag = tierStragglers(spark, dir, tier,
          l0Override = Some(l0.select(tier.cols.map(col): _*)))
        .select("ts_day").limit(6).collect()
        .map(_.getAs[Number](0).longValue).distinct
      require(strag.isEmpty,
        s"retire: ingest root $l0Path holds straggler rows in day(s) " +
          s"${strag.mkString(", ")} whose only copy lives here — " +
          s"re-route them (upsert / partition rewrite) before retiring")
    }
}
