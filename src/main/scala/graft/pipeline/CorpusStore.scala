package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{HadoopFiles, IndexCatalog, ParquetDirs}

/** Lifecycle-managed document corpus + its dedup index — the
  * LLM-pipeline half's answer to the TSDB database directory: one root
  * whose documents and whose exact/near-dup index can only move
  * together, so continuous curation never runs against an index that
  * silently stopped covering the corpus.
  *
  * Layout under one `dir`:
  * {{{
  *   docs/                       corpus parquet, partitioned by __batch
  *   indexes/catalog.json        IndexCatalog manifest: content_hashes +
  *                               lsh_bands entries carrying the recipe
  *                               (idCol, textCol, k, numPerm, bands)
  *   indexes/hashes/             (cid, th) md5 lookup, per-batch partitions
  *   indexes/bands/              (cid, band, band_key, cset) LSH band rows
  *                               carrying verification sets, per-batch
  *   pending/p_<seq>_<id>/       a STAGED accepted batch (docs parquet)
  *   pending/t_<seq>_<id>/       a STAGED takedown (ids parquet)
  *   takedowns/                  append-only tombstone log (id, seq, op)
  *                               — permanent; deleting it re-enables
  *                               redelivery resurrection of every
  *                               taken-down document
  * }}}
  *
  * The lifecycle discipline is the TSDB layout's, pointed at the
  * band/hash index:
  *
  *   - RECORD BEFORE MUTATE: accepting a batch or removing documents
  *     first stages the intent under `pending/` ([[stageBatch]] /
  *     [[stageTakedown]]); only [[heal]] mutates docs and index. A
  *     crash at any point leaves the staged record, the standing
  *     `corpus_pending` alert ([[health]], surfaced through
  *     [[graft.model.TsdbLayout.healthCheck]]) fires, and re-running
  *     [[heal]] IS the recovery.
  *   - IDEMPOTENT HEAL: a staged batch's identity is its pending
  *     directory name, which becomes its `__batch` partition value in
  *     docs, hashes and bands — re-running a crashed heal
  *     dynamic-overwrites the SAME partitions, never duplicates.
  *   - METADATA-ONLY STALENESS: `corpus_unbanded` = docs `__batch`
  *     partitions missing from the hashes or bands listings — a
  *     directory-listing diff, no file opened — which catches even
  *     out-of-band document writes that bypassed the staging
  *     discipline; [[heal]] re-derives exactly those batch partitions
  *     from their docs (batch-sized, partition-pruned).
  *   - RECIPE IN THE MANIFEST: the banding parameters live in the
  *     index-catalog registration ([[graft.model.IndexCatalog
  *     .saveCorpusManifest]]); every append and probe reads them from
  *     there, so a drifting caller cannot poison the index with
  *     incomparable band keys.
  *
  * The reference registers new series on the FIRST WRITE that names
  * them (/root/reference/stdb/core/standalone_database_session.cc:39-87)
  * and keeps index state current inside the write path
  * (stdb/storage/nbtree.h:457); this store is that register-on-write
  * contract for the corpus index, expressed as staged batches over
  * immutable-ish parquet.
  *
  * 100 TB notes: no operation here is corpus-TEXT-sized and nothing
  * shuffles the corpus. Accept cost is the staged batch's two in-row
  * projections ([[Dedup.corpusIndexFrames]]) plus ONE broadcast
  * id-probe of the hashes index (two skinny columns — the same cost
  * class as the dedup probe every arriving batch already pays; it is
  * what makes re-staging the same docs a no-op instead of a
  * duplication); probe cost is [[Dedup.dedupAgainstIndex]]'s
  * broadcast-probe of the index scan; takedown cost is one id-column
  * index scan plus rewrites of only the `__batch` partitions holding
  * the removed ids; staleness reads are directory listings.
  * Measured ([[graft.tools.Probe.corpus]], SCALING.md): corpus grown
  * 40x, accept ~flat, full index rewrite growing with the corpus —
  * the gap IS the reason the lifecycle append exists.
  */
object CorpusStore {

  val DocsSub = "docs"
  val IndexesSub = "indexes"
  val PendingSub = "pending"

  /** Per-batch partition column of docs/hashes/bands storage — the
    * batch's identity, what makes the heal idempotent and the
    * takedown rewrite partition-scoped. Storage detail: probe reads
    * ignore it, [[readDocs]] drops it on request. */
  val BatchCol = "__batch"

  /** The initial corpus batch id ([[create]]). */
  val InitBatch = "b00000_init"

  /** The registered recipe — one source of truth for every append and
    * probe, read from the manifest ([[recipe]]). */
  final case class Recipe(idCol: String, textCol: String,
      k: Int, numPerm: Int, bands: Int)

  // ------------------------------------------------------- filesystem

  // filesystem: [[graft.model.HadoopFiles]]; staging protocol shared
  // with the embedding store ([[StagedStore]] — one publish/ordering
  // discipline, never two)

  /** `__batch=` partition values of one storage side — a directory
    * listing, no file opened (the staleness read's whole cost). */
  private def batchesOf(spark: SparkSession, path: String): Set[String] =
    HadoopFiles.listDirs(spark.sparkContext.hadoopConfiguration, path,
        s"$BatchCol=").map { p =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(p.getName.stripPrefix(s"$BatchCol="))
    }.toSet

  private def docsPath(dir: String) = s"$dir/$DocsSub"
  private def hashesPath(dir: String) = s"$dir/$IndexesSub/hashes"
  private def bandsPath(dir: String) = s"$dir/$IndexesSub/bands"

  // ------------------------------------------------------------ reads

  /** The registered recipe, from the manifest — fails loudly when the
    * directory is not a corpus store or the two entries disagree. */
  def recipe(dir: String): Recipe = {
    val entries = IndexCatalog.describe(s"$dir/$IndexesSub")
    def one(kind: String) = entries.filter(_.kind == kind) match {
      case Seq(e) => e
      case es => throw new IllegalArgumentException(
        s"corpus store at $dir must register exactly one $kind entry, " +
          s"found ${es.size}")
    }
    val h = one("content_hashes"); val b = one("lsh_bands")
    require(h.idCol == b.idCol && h.textCol == b.textCol,
      s"corpus store at $dir: content_hashes and lsh_bands disagree on " +
        s"the document columns (${h.idCol}/${h.textCol} vs " +
        s"${b.idCol}/${b.textCol})")
    Recipe(b.idCol.get, b.textCol.get, b.k.get, b.numPerm.get, b.bands.get)
  }

  /** The corpus documents (every healed batch). `withBatch = true`
    * keeps the storage partition column. */
  def readDocs(spark: SparkSession, dir: String,
      withBatch: Boolean = false): DataFrame = {
    val d = ParquetDirs.read(spark, docsPath(dir))
    if (withBatch) d else d.drop(BatchCol)
  }

  // ------------------------------------------------------------ write

  /** One batch's docs + index partitions, dynamic-overwritten under its
    * `__batch` identity — THE mutation primitive every heal path
    * shares. Dynamic overwrite (per-write option, the
    * [[graft.model.IndexCatalog]] rule — never a session conf) makes a
    * crashed re-run replace its own half-written partition instead of
    * appending a duplicate. An empty batch writes nothing — consistent
    * absence on all three sides. */
  private def writeBatch(spark: SparkSession, dir: String, bid: String,
      docsBatch: DataFrame, r: Recipe, alsoDocs: Boolean): Unit = {
    // ONE batch computation for the three writes: without the cache,
    // each side's write job re-ran the whole admission lineage (staged
    // read, tombstone/dup anti-joins) from scratch — batch-sized by
    // the accept contract, so caching it is bounded by design
    val clean = docsBatch.drop(BatchCol).cache()
    try {
      val (hashes, bandRows) = Dedup.corpusIndexFrames(
        clean, r.idCol, r.textCol, r.k, r.numPerm, r.bands)
      def dyn(df: DataFrame, path: String): Unit =
        StagedStore.sizedForWrite(df.withColumn(BatchCol, lit(bid)))
          .write.option("partitionOverwriteMode", "dynamic")
          .partitionBy(BatchCol).mode("overwrite").parquet(path)
      if (alsoDocs) dyn(clean, docsPath(dir))
      dyn(hashes, hashesPath(dir))
      dyn(bandRows, bandsPath(dir))
    } finally clean.unpersist(false)
  }

  /** Create a corpus store at `dir` from its curation-time corpus:
    * docs + index written first (as batch [[InitBatch]]), the manifest
    * LAST — the save crash rule: a crash mid-create leaves no manifest
    * and therefore no store, never a registered store whose index is
    * half-written. */
  def create(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, k: Int = 3, numPerm: Int = 32,
      bands: Int = 8): Unit = {
    require(!exists(spark, dir), s"corpus store already exists at $dir")
    require(!docs.isEmpty,
      "create: an empty corpus would leave footer-less parquet roots — " +
        "create the store from its first real batch")
    writeBatch(spark, dir, InitBatch, docs,
      Recipe(idCol, textCol, k, numPerm, bands), alsoDocs = true)
    IndexCatalog.saveCorpusManifest(s"$dir/$IndexesSub",
      idCol, textCol, k, numPerm, bands)
  }

  // ---------------------------------------------------------- staging
  // publication and sequencing: [[StagedStore.stage]] (an accept
  // re-adding ids a prior takedown removed must land after it —
  // staging order; single-maintenance-writer discipline)

  /** Stage an ACCEPTED batch (the record half of [[acceptBatch]]) —
    * the docs enter the corpus and its index at the next [[heal]].
    * Returns the batch id (its `__batch` identity once healed). */
  def stageBatch(spark: SparkSession, dir: String,
      batch: DataFrame): String = {
    val r = recipe(dir)
    require(batch.columns.contains(r.idCol) &&
      batch.columns.contains(r.textCol),
      s"stageBatch: batch lacks the registered document columns " +
        s"(${r.idCol}, ${r.textCol})")
    StagedStore.stage(spark, dir, "p", batch)
  }

  /** Stage a TAKEDOWN (license revocation, removal request): the named
    * document ids leave the corpus AND its index at the next [[heal]].
    * The record is the intent — a crash after staging loses nothing.
    *
    * Would-empty validation happens HERE, before the record is
    * published: a takedown naming every current document refuses at
    * the caller ("drop the store" is a deliberate act, not a
    * takedown), so the refusal can never land as a staged record that
    * blocks every later intent mid-heal. [[applyTakedown]] re-checks
    * against the CORPUS AT APPLY TIME (earlier staged intents may have
    * shrunk it) and SKIPS — never throws — when the re-check trips. */
  def stageTakedown(spark: SparkSession, dir: String,
      ids: Seq[Long]): String = {
    require(ids.nonEmpty, "stageTakedown: empty id list")
    val r = recipe(dir)
    requireNotEmptying(spark, dir, r, ids.toSet, "stageTakedown")
    StagedStore.stage(spark, dir, "t",
      spark.createDataFrame(ids.map(Tuple1(_))).toDF(r.idCol))
  }

  /** True when removing `ids` would leave at least one document — an
    * id-column read of the docs parquet (column-pruned, never the
    * text). */
  private def wouldKeepSome(spark: SparkSession, dir: String,
      r: Recipe, ids: Set[Long]): Boolean =
    !ParquetDirs.read(spark, docsPath(dir)).select(col(r.idCol))
      .where(!col(r.idCol).isin(ids.toSeq: _*)).isEmpty

  private def requireNotEmptying(spark: SparkSession, dir: String,
      r: Recipe, ids: Set[Long], what: String): Unit =
    require(wouldKeepSome(spark, dir, r, ids),
      s"$what would empty the corpus at $dir — removing every " +
        s"document is \"drop the store\", a deliberate act")

  /** Stage a BATCH COMPACTION — the LSM discipline pointed at the
    * store: per-accept `__batch` partitions keep the append
    * batch-sized, and once they settle this merges every CURRENT
    * batch (on all three sides) into one consolidated batch at the
    * next [[heal]], reclaiming the small-partition listing/footer cost
    * a long accept history accumulates. Probe results are unchanged by
    * construction (the index rows are the same rows under one
    * partition value — spec-pinned). The record names the source
    * batches; intents staged AFTER it (new accepts) create batches the
    * record does not name and survive untouched. Returns None when
    * there is nothing to merge (fewer than two batches).
    *
    * Crash rule (the heal applies it idempotently): per side, the
    * consolidated target partition is built from the sources only
    * while it is ABSENT, and source partitions are deleted only after
    * ALL THREE sides' targets exist — so a re-run after any crash
    * either rebuilds from still-complete sources or just finishes the
    * deletes.
    *
    * @param maxBytes when set, only batches whose DOCS partition holds
    *   at most this many bytes are merged (a directory-listing size
    *   read) — the tiered-LSM policy that keeps a CRONNED compaction
    *   amortized: small per-accept batches fold together while large
    *   settled batches (including prior consolidation outputs, which
    *   grow past the threshold) are never rewritten again, so the
    *   total bytes a batch is rewritten over its lifetime stays
    *   O(log corpus), never O(compaction runs). None merges every
    *   batch — the deliberate full consolidation, corpus-sized by
    *   definition (run it like rotation: an operator's act, not a
    *   cron's). */
  def stageCompaction(spark: SparkSession, dir: String,
      maxBytes: Option[Long] = None): Option[String] = {
    recipe(dir) // loud not-a-store guard
    val all = batchesOf(spark, docsPath(dir))
    val batches = maxBytes match {
      case None => all
      case Some(b) =>
        val (f, _) = HadoopFiles.hfs(spark.sparkContext.hadoopConfiguration,
          docsPath(dir))
        all.filter { bid =>
          f.getContentSummary(new org.apache.hadoop.fs.Path(
            partitionDir(docsPath(dir), bid))).getLength <= b
        }
    }
    if (batches.size < 2) return None
    import spark.implicits._
    val name = StagedStore.stage(spark, dir, "c",
      batches.toSeq.sorted.toDF("src_batch"))
    Some(compactionTarget(name))
  }

  /** The consolidated batch id a compaction record produces — derived
    * from the record's own name, so a crashed re-run rebuilds the SAME
    * partition instead of a new one. */
  private def compactionTarget(recordName: String): String =
    "m" + recordName.stripPrefix("c")

  // ------------------------------------------------------------- heal

  /** Apply every staged intent and re-derive every unbanded batch —
    * the remedy behind both standing alerts, idempotent and
    * crash-recoverable (re-run IS the recovery). Order: unbanded
    * re-derivation first (so takedowns can find ids whose batch was
    * written out-of-band), then staged intents in staging order.
    * Returns the number of intents + batches healed. */
  def heal(spark: SparkSession, dir: String): Int = {
    val r = recipe(dir)
    var n = 0
    // 1. unbanded batches: docs partitions the index listings lack —
    //    re-derive exactly those partitions from their docs. An
    //    out-of-band write BYPASSED the staging discipline, so it gets
    //    the same admission rules a staged accept gets before it is
    //    indexed: tombstoned ids may not resurrect and ids the index
    //    already covers under another batch may not duplicate — and
    //    when either rule drops rows, the DOCS partition is rewritten
    //    to the admitted set too (an index that silently skipped rows
    //    still sitting in docs would leave the two permanently
    //    disagreeing about the corpus)
    unbandedBatches(spark, dir).toSeq.sorted.foreach { bid =>
      val docsB = ParquetDirs.read(spark, docsPath(dir))
        .where(col(BatchCol) === bid)
      // ONE existence probe decides the path: does the batch hold any
      // tombstoned or already-indexed id at all? The common case — a
      // genuinely new out-of-band batch — then re-derives with zero
      // extra jobs (no anti-joins, no lineage checkpoint), paying the
      // admission machinery only when something must actually drop
      val oobIds = docsB.select(col(r.idCol).as("cid")).distinct()
      val tomb = StagedStore.effectiveTombstones(spark, dir, r.idCol)
      val anyTomb = tomb.exists(t =>
        !t.join(broadcast(oobIds.select(col("cid").as(r.idCol))),
          Seq(r.idCol)).isEmpty)
      val dup = ParquetDirs.read(spark, hashesPath(dir))
        .where(col(BatchCol) =!= bid)
        .join(broadcast(oobIds), "cid")
        .select(col("cid").as(r.idCol)).distinct()
      val anyDup = !dup.isEmpty
      if (!anyTomb && !anyDup)
        writeBatch(spark, dir, bid, docsB, r, alsoDocs = false)
      else {
        val noTomb =
          if (!anyTomb) docsB
          else docsB.join(broadcast(tomb.get), Seq(r.idCol), "left_anti")
        val fresh = noTomb.join(broadcast(dup), Seq(r.idCol), "left_anti")
        // rows dropped → the docs partition itself is rewritten, so
        // sever the read-then-overwrite lineage on it first (the
        // upsert discipline, as in applyTakedown)
        val admitted = fresh.localCheckpoint()
        if (admitted.isEmpty) {
          // nothing admissible: consistent absence on all three sides
          HadoopFiles.deleteRecursive(spark.sparkContext.hadoopConfiguration,
            partitionDir(docsPath(dir), bid))
        } else writeBatch(spark, dir, bid, admitted, r, alsoDocs = true)
      }
      n += 1
    }
    // 2+3. stage-crash sweep, then staged intents in STAGING order
    //    ([[StagedStore.healStaged]] — the parsed sequence number,
    //    never the directory name: names sort p_* before t_*
    //    regardless of sequence, and applying an accept ahead of an
    //    earlier takedown of the same ids would silently drop the
    //    re-added docs). A REFUSED record (applyTakedown's would-empty
    //    re-check) stays staged instead of throwing: the standing
    //    `corpus_pending` alert reports it, LATER intents still apply
    //    (a throw here would permanently block them — the round-13
    //    crash-loop), and an operator resolves it by accepting docs
    //    first or dropping the record deliberately
    n += StagedStore.healStaged(spark, dir, (name, rows) =>
      if (name.startsWith("p_")) { applyAccept(spark, dir, name, rows, r); true }
      else if (name.startsWith("t_")) applyTakedown(spark, dir, rows, r)
      else if (name.startsWith("c_")) { applyCompaction(spark, dir, name, rows); true }
      else throw new IllegalArgumentException(
        s"heal: unknown staged record $name under $dir/$PendingSub"))
    n
  }

  /** One accepted batch lands: docs + index partitions under the
    * batch's identity ([[StagedStore.acceptBatchId]]), after the
    * tombstone prologue ([[StagedStore.admitted]]). Ids the index
    * already covers under ANOTHER batch drop first (an operator
    * staging the same docs twice must not duplicate the corpus) — a
    * crashed re-run of THIS batch keeps its own rows because the
    * filter excludes its own partition. */
  private def applyAccept(spark: SparkSession, dir: String, record: String,
      staged: DataFrame, r: Recipe): Unit = {
    val bid = StagedStore.acceptBatchId(record)
    val base = StagedStore.admitted(spark, dir, record, staged, r.idCol)
    // broadcast-probe the hashes index by id (index-sized scan of two
    // skinny columns, batch-bounded result) — never a corpus shuffle,
    // and never a driver-side id list: the dup frame is batch-bounded
    // by construction, so it broadcasts into an anti-join instead of
    // becoming a million-literal In expression on a full re-stage
    val stagedIds = base.select(col(r.idCol).as("cid")).distinct()
    val dup = ParquetDirs.read(spark, hashesPath(dir))
      .where(col(BatchCol) =!= bid)
      .join(broadcast(stagedIds), "cid")
      .select(col("cid").as(r.idCol)).distinct()
    val fresh = base.join(broadcast(dup), Seq(r.idCol), "left_anti")
    writeBatch(spark, dir, bid, fresh, r, alsoDocs = true)
  }

  /** One takedown lands: the `__batch` partitions holding the ids are
    * rewritten WITHOUT them — docs first, bands second, the hashes
    * LOOKUP last, so a crash between sides leaves the ids still
    * findable and the staged record still present: the re-run finds
    * and finishes them. Partitions left empty are deleted explicitly
    * (a dynamic overwrite cannot express "now empty" — the
    * rebuildScoped lesson); emptying the whole corpus SKIPS (returns
    * false — the record stays staged as a standing alert), like
    * retention refusing to empty a layout; the would-empty re-check
    * and the tombstone append come first ([[StagedStore
    * .tombstoneTakedown]]).
    *
    * @return true when applied (heal deletes the record), false when
    *   refused (heal keeps it staged and continues). */
  private def applyTakedown(spark: SparkSession, dir: String,
      staged: DataFrame, r: Recipe): Boolean = {
    val idSeq = StagedStore.tombstoneTakedown(spark, dir, staged, r.idCol)(
      wouldKeepSome(spark, dir, r, _)) match {
      case None => return false
      case Some(ids) => ids
    }
    if (idSeq.isEmpty) return true
    // affected batches via the hashes lookup (id-column index scan)
    val affected = ParquetDirs.read(spark, hashesPath(dir))
      .where(col("cid").isin(idSeq: _*))
      .select(BatchCol).distinct().collect().map(_.getString(0)).toSet
    if (affected.isEmpty) return true
    val affSeq = affected.toSeq
    def rewrite(path: String, idColName: String): Unit = {
      val slice = ParquetDirs.read(spark, path)
        .where(col(BatchCol).isin(affSeq: _*)) // partition-pruned
      // localCheckpoint severs the read-then-overwrite lineage on the
      // directory being rewritten (the upsert discipline); the write
      // sizing estimates from the PRE-checkpoint plan (the checkpoint's
      // own stats are the unknown default)
      val kept = slice.where(!col(idColName).isin(idSeq: _*))
      val remaining = kept.localCheckpoint()
      val keptBatches = remaining.select(BatchCol).distinct()
        .collect().map(_.getString(0)).toSet
      if (keptBatches.nonEmpty)
        StagedStore.sizedForWrite(remaining, sizeFrom = Some(kept))
          .write.option("partitionOverwriteMode", "dynamic")
          .partitionBy(BatchCol).mode("overwrite").parquet(path)
      (affected -- keptBatches).foreach { bid =>
        HadoopFiles.deleteRecursive(spark.sparkContext.hadoopConfiguration,
          partitionDir(path, bid))
      }
    }
    rewrite(docsPath(dir), r.idCol)
    rewrite(bandsPath(dir), "cid")
    rewrite(hashesPath(dir), "cid")
    true
  }

  /** The hidden commit marker inside a consolidated target partition:
    * directory PRESENCE is not write COMPLETION on filesystems without
    * atomic directory rename (S3A-style commits copy staged files one
    * by one), so a re-run must rebuild unless this marker — written
    * AFTER the partition job committed, itself one atomic small-file
    * create — exists. Underscore-prefixed: parquet readers ignore it. */
  private val CommitMarker = "_graft_compact_committed"

  private def partitionDir(path: String, bid: String): String =
    s"$path/$BatchCol=${org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(bid)}"

  /** One compaction record lands ([[stageCompaction]]'s crash rule):
    * per side, build the consolidated partition from the named source
    * partitions unless its COMMIT MARKER exists ([[CommitMarker]] —
    * a half-committed target rebuilds whole; the dynamic overwrite
    * replaces any partial content), index sides first and docs LAST,
    * then delete the docs sources FIRST — so the window in which
    * [[readDocs]] sees a compacted document twice is the minimum two
    * filesystem operations, and a crash inside it leaves the pending
    * record (the `corpus_pending` alert) whose re-run finishes the
    * deletes. Index-side duplication in the window is harmless by
    * construction: every probe reduction dedups on `cid`. Sources a
    * takedown emptied meanwhile simply contribute nothing (the
    * per-partition read skips absent directories); reading the source
    * DIRECTORIES directly keeps the read path disjoint from the
    * overwrite root — no lineage checkpoint, nothing corpus-sized in
    * executor storage. */
  private def applyCompaction(spark: SparkSession, dir: String,
      name: String, staged: DataFrame): Unit = {
    val sources = staged.collect().map(_.getString(0)).toSet
    if (sources.isEmpty) return
    val target = compactionTarget(name)
    // docs LAST: its duplication window is the one readers can observe
    val sides = Seq(hashesPath(dir), bandsPath(dir), docsPath(dir))
    sides.foreach { path =>
      val (f, _) = HadoopFiles.hfs(spark.sparkContext.hadoopConfiguration,
        path)
      val marker = new org.apache.hadoop.fs.Path(
        s"${partitionDir(path, target)}/$CommitMarker")
      if (!f.exists(marker)) {
        val present = sources.toSeq.sorted.map(partitionDir(path, _))
          .filter(p => f.exists(new org.apache.hadoop.fs.Path(p)))
        // no emptiness probe: a partitioned dynamic-overwrite write of
        // no rows commits no partition directory, which the marker
        // check below already reads as "nothing to mark"
        if (present.nonEmpty) {
          val merged = ParquetDirs.readPartitions(spark, path, present)
            .drop(BatchCol)
          StagedStore.sizedForWrite(merged.withColumn(BatchCol, lit(target)))
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy(BatchCol).mode("overwrite").parquet(path)
        }
        // marker AFTER the job committed, and only when it wrote the
        // target: from here the target is authoritative for this side
        val pd = new org.apache.hadoop.fs.Path(partitionDir(path, target))
        if (f.exists(pd)) f.create(marker, true).close()
      }
    }
    // all three targets committed — sources are redundant copies.
    // Docs sources first (closes the reader-visible duplication),
    // index sources after
    Seq(docsPath(dir), hashesPath(dir), bandsPath(dir)).foreach { path =>
      val (f, _) = HadoopFiles.hfs(spark.sparkContext.hadoopConfiguration,
        path)
      sources.foreach { bid =>
        f.delete(new org.apache.hadoop.fs.Path(partitionDir(path, bid)),
          true)
      }
    }
  }

  // --------------------------------------------------- alerts / probe

  /** Docs `__batch` partitions missing from the hashes OR bands
    * listings — the metadata-only staleness read. */
  private def unbandedBatches(spark: SparkSession, dir: String): Set[String] = {
    val docs = batchesOf(spark, docsPath(dir))
    (docs -- batchesOf(spark, hashesPath(dir))) ++
      (docs -- batchesOf(spark, bandsPath(dir)))
  }

  /** The standing alerts, as (component, n) — `corpus_pending` =
    * staged intents no heal has applied, `corpus_unbanded` = docs
    * batches the index does not cover. Directory listings only.
    * [[graft.model.TsdbLayout.healthCheck]] merges these rows when a
    * store sits at the database's `corpus/` sub-directory. */
  def health(spark: SparkSession, dir: String): Seq[(String, Long)] = Seq(
    "corpus_pending" -> StagedStore.pendingCount(spark, dir),
    "corpus_unbanded" -> unbandedBatches(spark, dir).size.toLong)

  /** Is there a corpus store at `dir`? (Manifest presence — the same
    * gate the TSDB health composition uses.) */
  def exists(spark: SparkSession, dir: String): Boolean =
    HadoopFiles.exists(spark.sparkContext.hadoopConfiguration,
      s"$dir/$IndexesSub/${IndexCatalog.ManifestName}")

  /** Incremental dedup of an arriving batch against the store —
    * [[Dedup.dedupAgainstIndex]] with the recipe read from the
    * manifest, so a probe can never run with parameters the index was
    * not built with. The corpus text is never read. */
  def probeBatch(spark: SparkSession, dir: String, batch: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val r = recipe(dir)
    Dedup.dedupAgainstIndex(
      ParquetDirs.read(spark, hashesPath(dir)),
      ParquetDirs.read(spark, bandsPath(dir)),
      batch, r.idCol, r.textCol, r.k, r.numPerm, r.bands, threshold)
  }

  /** Stage + heal in one call — the common operator flow. The staging
    * half is what makes it crash-safe; see [[stageBatch]]/[[heal]]. */
  def acceptBatch(spark: SparkSession, dir: String,
      batch: DataFrame): String = {
    val bid = stageBatch(spark, dir, batch)
    heal(spark, dir)
    bid
  }

  /** The STREAMING accept ([[graft.streaming.TsdbStream
    * .corpusStoreIngest]]'s per-trigger body): one micro-batch lands
    * as one accepted batch. Two identities are deliberately SPLIT:
    *
    *   - the staged RECORD gets a fresh sequence number like every
    *     other intent, so heal's staging order holds against
    *     interleaved operator records (a takedown staged while the
    *     stream was down applies BEFORE the restarted stream's first
    *     accept — sharing the micro-batch id as the sequence would tie
    *     at 0 and resurrect the round-13 ordering bug);
    *   - the landed `__batch` PARTITION identity derives from
    *     (streamTag, micro-batch id), so foreachBatch's at-least-once
    *     redelivery re-overwrites the SAME partitions — exactly-once
    *     at the store.
    *
    * `streamTag` is the Delta-txnAppId analog: ONE stable tag per
    * logical feed AND checkpoint lineage. Restarting from the same
    * checkpoint keeps the tag (micro-batch ids continue, redelivery
    * dedups); re-pointing the feed at a FRESH checkpoint must change
    * the tag, because the new query's micro-batch ids restart at 0 and
    * a kept tag would overwrite the old batches' partitions with the
    * new rows. A stream-fed store otherwise follows the same
    * single-maintenance-writer discipline as every lifecycle mutation.
    *
    * @return the landed batch id. */
  def acceptStreamBatch(spark: SparkSession, dir: String,
      batch: DataFrame, microBatchId: Long, streamTag: String): String = {
    val r = recipe(dir)
    require(batch.columns.contains(r.idCol) &&
      batch.columns.contains(r.textCol),
      s"acceptStreamBatch: batch lacks the registered document columns " +
        s"(${r.idCol}, ${r.textCol})")
    val bid = StagedStore.publishStreamAccept(spark, dir, batch,
      microBatchId, streamTag)
    heal(spark, dir)
    bid
  }

  /** Stage + heal a takedown — see [[stageTakedown]]/[[heal]]. */
  def removeDocuments(spark: SparkSession, dir: String,
      ids: Seq[Long]): Unit = {
    stageTakedown(spark, dir, ids)
    heal(spark, dir)
  }
}
