package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ScopedCache
import graft.model.{HadoopFiles, IndexCatalog, ParquetDirs}

/** Lifecycle-managed, CELL-PARTITIONED embedding index — the
  * [[CorpusStore]] pattern pointed at the embedding half: one store
  * directory whose vectors live physically partitioned by their IVF
  * cell, so a kNN statement reads ONLY the `nprobe` probed cell
  * partitions (partition-pruned at planning) instead of re-assigning
  * the whole corpus to cells per query. The reference's R-tree answers
  * kNN from an index, never by scanning all points
  * (/root/reference/stdb/index/rtree.h:631, best-first KnnQuery) —
  * this store is that index-answers-kNN contract for embedding
  * vectors, expressed as partitioned parquet plus a manifest.
  *
  * Layout under one `dir`:
  * {{{
  *   indexes/catalog.json    ONE ivf_cells entry: recipe (idCol,
  *                           embCol, nlist, iters, optional PQ m/ksub)
  *                           and the CURRENT EPOCH path — the manifest
  *                           IS the epoch pointer
  *   cells_e<N>/codebook/    (cell, center) — the epoch's fitted
  *                           deterministic-Lloyd codebook
  *   cells_e<N>/pq/          (sub, cell, cv) — PQ sub-codebooks, when
  *                           the recipe carries m/ksub
  *   cells_e<N>/data/        (id, embedding[, pq_codes]) partitioned
  *                           by cell=<c>/__batch=<b> — the assignment
  *                           the queries prune into
  *   cells_e<N>/stats/       (cell, n, sumd) per-batch drift stats,
  *                           partitioned by __batch
  *   cells_e<N>/baseline/    the epoch's frozen (cell, n, sumd)
  *                           drift baseline
  *   pending/                staged accepts (p_...) and takedowns
  *                           (t_...); [[heal]] applies them in
  *                           staging order
  *   takedowns/              append-only tombstone log (id, seq, op)
  *                           — permanent; stream accepts filter
  *                           against it so redelivery cannot
  *                           resurrect a removed vector
  * }}}
  *
  * Lifecycle discipline (the CorpusStore rules, unchanged):
  * record-before-mutate staging, idempotent heal keyed by the
  * `__batch` partition identity, would-empty takedowns refused at
  * stage time and SKIPPED (standing alert) at apply time, staleness
  * reads that are listings/counts only. The refit remedy is
  * EPOCH-FLIPPED: [[refit]] writes a whole new `cells_e<N+1>` (refit
  * codebook, reassigned data, fresh drift baseline) and commits it
  * with ONE atomic manifest rewrite ([[IndexCatalog
  * .setEmbeddingEpoch]]) only when the recall gate passes
  * ([[Similarity.refitCodebook]]'s integer gate) — a crash anywhere
  * before the flip leaves the old epoch serving, and the NEXT refit
  * reclaims any crashed attempt's debris (it is the single epoch
  * writer; heal deliberately never touches epoch directories, so it
  * stays safe to run at any time).
  *
  * 100 TB notes: a QUERY touches the codebook (nlist rows, driver) and
  * the probed cell partitions — ~nprobe/nlist of the index, column-
  * pruned to what the score needs (the PQ path never reads the float
  * vectors at all). Nothing per-query is corpus-sized; the corpus-
  * sized passes (Lloyd fit, assignment) happen once per epoch at
  * build/refit time, and accepts/takedowns are batch-sized
  * (assignment of the batch + a skinny id-column dup probe; takedowns
  * rewrite only the (cell, batch) partitions holding the ids).
  */
object EmbeddingStore {

  val PendingSub = "pending"
  val IndexesSub = "indexes"

  /** Cell partition column — the pruning key of every query. */
  val CellCol = "cell"

  /** Per-accept partition column under each cell — the batch identity
    * that makes heal idempotent and takedowns partition-scoped. */
  val BatchCol = "__batch"

  /** PQ code column of the stored assignment: element s = the
    * vector's sub-centroid id in subspace s ([[Similarity.pqCodes]]
    * pivoted to an array). */
  val PqCol = "pq_codes"

  val InitBatch = "b00000_init"

  /** The registered recipe + current epoch, from the manifest. */
  final case class Recipe(idCol: String, embCol: String, nlist: Int,
      iters: Int, m: Option[Int], ksub: Option[Int], epoch: String)

  // ------------------------------------------------------- filesystem

  // filesystem: [[graft.model.HadoopFiles]]; staging protocol shared
  // with the corpus store ([[StagedStore]] — one publish/ordering
  // discipline, never two)

  private def epochDir(dir: String, r: Recipe) = s"$dir/${r.epoch}"
  private def dataPath(dir: String, r: Recipe) = s"${epochDir(dir, r)}/data"
  private def codebookPath(dir: String, r: Recipe) =
    s"${epochDir(dir, r)}/codebook"
  private def pqPath(dir: String, r: Recipe) = s"${epochDir(dir, r)}/pq"

  /** Per-batch drift statistics, `(cell, n, sumd)` rows partitioned by
    * `__batch` — each batch's member count and summed squared-L2
    * quantization error per cell, written WITH the batch (batch-sized
    * to maintain, idempotent under the same partition identity), so
    * the drift reading never scans the vectors: it aggregates this
    * codebook-sized side table. */
  private def statsPath(dir: String, r: Recipe) =
    s"${epochDir(dir, r)}/stats"

  /** The epoch's FROZEN drift baseline: `(cell, n, sumd)` aggregated
    * from [[statsPath]] at build/refit time. */
  private def baselinePath(dir: String, r: Recipe) =
    s"${epochDir(dir, r)}/baseline"

  // ------------------------------------------------------------ reads

  /** The registered recipe + epoch pointer — fails loudly when the
    * directory is not an embedding store. */
  def recipe(dir: String): Recipe = {
    val entries = IndexCatalog.describe(s"$dir/$IndexesSub")
      .filter(_.kind == "ivf_cells")
    entries match {
      case Seq(e) => Recipe(e.idCol.get, e.embCol.get, e.nlist.get,
        e.iters.get, e.m, e.ksub, e.path)
      case es => throw new IllegalArgumentException(
        s"embedding store at $dir must register exactly one ivf_cells " +
          s"entry, found ${es.size}")
    }
  }

  /** Is there an embedding store at `dir`? (Manifest presence.) */
  def exists(spark: SparkSession, dir: String): Boolean =
    HadoopFiles.exists(spark.sparkContext.hadoopConfiguration,
      s"$dir/$IndexesSub/${IndexCatalog.ManifestName}")

  /** The epoch's codebook, cell-sorted ([[Similarity.readCodebook]]). */
  def readCenters(spark: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    Similarity.readCodebook(spark, codebookPath(dir, recipe(dir)))

  /** The stored PQ sub-codebooks, [[Similarity.fitPqCodebooks]] shape. */
  private def readPqBooks(spark: SparkSession, dir: String,
      r: Recipe): Seq[(Int, Seq[(Int, Seq[Double])])] =
    ParquetDirs.read(spark, pqPath(dir, r)).collect()
      .map(row => (row.getInt(0), row.getInt(1), row.getSeq[Double](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (s, rows) =>
        s -> rows.map(x => (x._2, x._3)).sortBy(_._1).toSeq }

  /** The stored vectors as a plain (idCol, embCol) frame — what a
    * refit reassigns and what recall evals read. */
  def readVectors(spark: SparkSession, dir: String): DataFrame = {
    val r = recipe(dir)
    ParquetDirs.read(spark, dataPath(dir, r)).select(col(r.idCol), col(r.embCol))
  }

  // ------------------------------------------------------------ build

  /** One batch's assignment rows under its `__batch` identity,
    * dynamic-overwritten — THE mutation primitive create/heal share.
    * Assignment is [[Similarity.assignCells]] (the canonical rule
    * every query path uses) against the CURRENT epoch's codebook;
    * when the recipe carries PQ, the batch's codes are computed from
    * the stored sub-codebooks and ride as the [[PqCol]] array. An
    * empty batch writes nothing. */
  private def writeBatch(spark: SparkSession, dir: String, r: Recipe,
      bid: String, batch: DataFrame): Unit = {
    val centers = Similarity.readCodebook(spark, codebookPath(dir, r))
    val clean = batch.select(col(r.idCol), col(r.embCol))
    // cached for the two consumers (data rows, drift stats): the
    // assignment is batch-sized by the accept contract
    val asg = ScopedCache.cache(
      Similarity.assignCellsWithDist(centers, clean, r.idCol, r.embCol))
    val rows =
      if (r.m.isEmpty) asg.drop("__d")
      else {
        // the codes ride IN-ROW ([[Similarity.pqCodesArray]]) — no
        // encode-explode-regroup-join round trip per accepted batch
        val books = readPqBooks(spark, dir, r)
        asg.drop("__d").withColumn(PqCol,
          Similarity.pqCodesArray(books, col(r.embCol)))
      }
    // sized write: an unsized batch write fanned one near-empty file
    // per (input partition × cell) leaf — the small-file storm every
    // later probe/listing paid for
    StagedStore.sizedForWrite(rows.withColumn(BatchCol, lit(bid)),
        sizeFrom = Some(clean))
      .write.option("partitionOverwriteMode", "dynamic")
      .partitionBy(CellCol, BatchCol).mode("overwrite")
      .parquet(dataPath(dir, r))
    writeStats(spark, dir, r, bid,
      asg.select(col(CellCol), col("__d")))
    ScopedCache.release()
  }

  /** One batch's drift-stat rows under its partition identity —
    * idempotent like the data write it accompanies. `assigned` =
    * (cell, __d) rows of the batch. */
  private def writeStats(spark: SparkSession, dir: String, r: Recipe,
      bid: String, assigned: DataFrame): Unit =
    assigned.groupBy(col(CellCol))
      .agg(count(lit(1)).as("n"), sum(col("__d")).as("sumd"))
      .withColumn(BatchCol, lit(bid))
      .coalesce(1) // codebook-sized by construction (≤ nlist rows)
      .write.option("partitionOverwriteMode", "dynamic")
      .partitionBy(BatchCol).mode("overwrite")
      .parquet(statsPath(dir, r))

  /** Freeze the epoch's drift BASELINE: the per-cell (n, sumd)
    * aggregate of every batch's stats at build/refit time. */
  private def writeBaseline(spark: SparkSession, dir: String,
      r: Recipe): Unit =
    ParquetDirs.read(spark, statsPath(dir, r))
      .groupBy(col(CellCol))
      .agg(sum(col("n")).as("n"), sum(col("sumd")).as("sumd"))
      .coalesce(1).write.mode("overwrite").parquet(baselinePath(dir, r))

  /** Create an embedding store at `dir`: fit the deterministic-Lloyd
    * codebook (and PQ sub-codebooks when `pq = Some((m, ksub))`) over
    * the corpus, write epoch `cells_e0` whole (codebook, pq, the
    * cell-partitioned assignment, the drift baseline), the manifest
    * LAST — a crash mid-create leaves no manifest and therefore no
    * store. The fit and the one assignment pass are the index-build
    * cost, paid once; every query after prunes into the result. */
  def create(spark: SparkSession, dir: String, embeddings: DataFrame,
      idCol: String = "id", embCol: String = "embedding",
      nlist: Int = 16, iters: Int = 2,
      pq: Option[(Int, Int)] = None): Unit = {
    require(!exists(spark, dir), s"embedding store already exists at $dir")
    require(!embeddings.isEmpty,
      "create: an empty vector set fits no codebook — create the store " +
        "from its first real corpus")
    val epoch = "cells_e0"
    requireNoNulls(embeddings,
      Recipe(idCol, embCol, nlist, iters, None, None, epoch), "create")
    val r = Recipe(idCol, embCol, nlist, iters, pq.map(_._1), pq.map(_._2),
      epoch)
    Similarity.writeCodebook(spark,
      Similarity.fitCodebook(embeddings, nlist, iters, idCol, embCol),
      codebookPath(dir, r))
    pq.foreach { case (m, ksub) =>
      val dim = embeddings.select(size(col(embCol))).head().getInt(0)
      val books = Similarity.fitPqCodebooks(embeddings, dim, m, ksub,
        iters, idCol, embCol)
      writePqBooks(spark, books, pqPath(dir, r))
    }
    writeBatch(spark, dir, r, InitBatch, embeddings)
    writeBaseline(spark, dir, r)
    IndexCatalog.saveEmbeddingManifest(s"$dir/$IndexesSub", epoch,
      idCol, embCol, nlist, iters, pq.map(_._1), pq.map(_._2))
  }

  private def writePqBooks(spark: SparkSession,
      books: Seq[(Int, Seq[(Int, Seq[Double])])], path: String): Unit = {
    val flat = for ((s, cs) <- books; (cell, cv) <- cs) yield (s, cell, cv)
    spark.createDataFrame(flat).toDF("sub", "cell", "cv")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  // ------------------------------------------------------------ serve

  /** kNN served FROM THE INDEX: the query batch's probe cells come
    * from the in-row literal-centers assignment ([[Similarity
    * .probeCellsInRow]] — no shuffle carries a query vector), the
    * data read is PRUNED to exactly those cell partitions (the
    * partition filter is a driver-collected, query-batch-sized cell
    * list), and scoring is the same broadcast cell join + cosine
    * top-k as [[Similarity.knnIvfWith]] — whose answers this serves
    * bit-for-bit (one assignment rule, one tie-break, spec-pinned).
    * Per query the index contributes ~nprobe/nlist of its partitions
    * and nothing else. */
  def knn(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
      nprobe: Int = 2, qidCol: String = "qid",
      embCol: String = "embedding"): DataFrame = {
    val r = recipe(dir)
    val centers = readCenters(spark, dir)
    val q = ScopedCache.cache(
      Similarity.probeCellsInRow(centers, queries, qidCol, embCol, nprobe))
    val probed = q.select(CellCol).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val data = ParquetDirs.read(spark, dataPath(dir, r))
      .where(col(CellCol).isin(probed: _*)) // partition-pruned
      .select(col(r.idCol).as("id"), col(r.embCol).as("ce"), col(CellCol))
    Similarity.topK(data.join(broadcast(q), Seq(CellCol))
      .where(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        Similarity.cosine(col("qe"), col("ce")).as("cos")), k)
  }

  /** IVF-PQ kNN served from the index — [[Similarity.knnIvfPq]]'s
    * answers from STORED artifacts: probe cells in-row, candidates
    * from the pruned partitions' (id, cell) columns, ADC over the
    * stored [[PqCol]] codes ([[Similarity.pqAdcOverCodes]]). The
    * float vectors are never read: column pruning keeps the scan to
    * (id, pq_codes) of the probed partitions — the 100 TB serving
    * shape where a query touches a few kilobytes per candidate. */
  def knnPq(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
      nprobe: Int = 2, qidCol: String = "qid",
      embCol: String = "embedding"): DataFrame = {
    val r = recipe(dir)
    require(r.m.isDefined,
      s"embedding store at $dir was created without PQ codes — " +
        s"create(pq = Some((m, ksub))) enables knnPq")
    val centers = readCenters(spark, dir)
    val books = readPqBooks(spark, dir, r)
    val q = ScopedCache.cache(
      Similarity.probeCellsInRow(centers, queries, qidCol, embCol, nprobe))
    val probed = q.select(CellCol).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // two consumers (candidates, codes) = two scans, both partition-
    // pruned AND column-pruned to (id, cell, pq_codes) — deliberately
    // not cached: the scans must stay visible to the planner (and the
    // plan pins), and two pruned skinny scans beat materializing at
    // index scale
    val data = ParquetDirs.read(spark, dataPath(dir, r))
      .where(col(CellCol).isin(probed: _*)) // partition-pruned
      .select(col(r.idCol).as("id"), col(CellCol), col(PqCol))
    val cand = data.select(col("id"), col(CellCol))
      .join(broadcast(q.select(col("qid"), col(CellCol))), CellCol)
      .where(col("id") =!= col("qid"))
      .select("qid", "id").distinct()
    val codes = data
      .select(col("id"), posexplode(col(PqCol)).as(Seq("sub", "cell")))
    Similarity.pqAdcOverCodes(codes,
      queries.select(col(qidCol).as("qid"), col(embCol)),
      books, k, Some(cand), "qid", embCol)
  }

  // ---------------------------------------------------------- staging
  // publication and sequencing: [[StagedStore.stage]] — the protocol
  // is the corpus store's, verbatim

  /** Stage an ACCEPTED vector batch — enters the index (assigned to
    * the CURRENT epoch's cells, PQ-encoded when the recipe says so) at
    * the next [[heal]]. */
  def stageBatch(spark: SparkSession, dir: String,
      batch: DataFrame): String = {
    val r = recipe(dir)
    require(batch.columns.contains(r.idCol) &&
      batch.columns.contains(r.embCol),
      s"stageBatch: batch lacks the registered columns " +
        s"(${r.idCol}, ${r.embCol})")
    requireNoNulls(batch, r, "stageBatch")
    StagedStore.stage(spark, dir, "p", batch)
  }

  /** A NULL id or embedding refuses at ADMISSION: a null vector would
    * win the nulls-first assignment window, poison the drift stats
    * (sum over nulls) and crash every later health read — the loud
    * boundary is here, not an NPE in the alert loop. */
  private def requireNoNulls(batch: DataFrame, r: Recipe,
      what: String): Unit =
    require(batch.where(col(r.idCol).isNull || col(r.embCol).isNull)
      .isEmpty,
      s"$what: batch contains NULL ${r.idCol}/${r.embCol} rows — " +
        s"filter them before staging (a null vector has no cell)")

  /** Stage a TAKEDOWN: the named vector ids leave the index at the
    * next [[heal]]. Would-empty refuses HERE ([[CorpusStore
    * .stageTakedown]]'s rule); the apply re-checks and SKIPS. */
  def stageTakedown(spark: SparkSession, dir: String,
      ids: Seq[Long]): String = {
    require(ids.nonEmpty, "stageTakedown: empty id list")
    val r = recipe(dir)
    require(wouldKeepSome(spark, dir, r, ids.toSet),
      s"stageTakedown would empty the embedding index at $dir — " +
        s"removing every vector is \"drop the store\", a deliberate act")
    StagedStore.stage(spark, dir, "t",
      spark.createDataFrame(ids.map(Tuple1(_))).toDF(r.idCol))
  }

  private def wouldKeepSome(spark: SparkSession, dir: String, r: Recipe,
      ids: Set[Long]): Boolean =
    !ParquetDirs.read(spark, dataPath(dir, r)).select(col(r.idCol))
      .where(!col(r.idCol).isin(ids.toSeq: _*)).isEmpty

  // ------------------------------------------------------------- heal

  /** Apply every staged intent in staging order ([[StagedStore
    * .healStaged]] — sweep, sequence, refuse-keeps-the-record) —
    * idempotent, crash-recoverable, the re-run IS the recovery.
    * Crashed-refit epoch debris is deliberately NOT swept here: heal
    * must stay safe to run at ANY time, including while a refit is
    * building its next epoch; [[refit]] reclaims debris itself (it is
    * the single epoch writer). Returns intents applied. */
  def heal(spark: SparkSession, dir: String): Int = {
    val r = recipe(dir)
    StagedStore.healStaged(spark, dir, (name, rows) =>
      if (name.startsWith("p_")) { applyAccept(spark, dir, r, name, rows); true }
      else if (name.startsWith("t_")) applyTakedown(spark, dir, r, rows)
      else throw new IllegalArgumentException(
        s"heal: unknown staged record $name under $dir/$PendingSub"))
  }

  /** One accepted batch lands under its landed identity
    * ([[StagedStore.acceptBatchId]] — stream records land under their
    * (streamTag, micro-batch) partition, so redelivery re-overwrites
    * itself); ids the index already covers under ANOTHER batch drop
    * first (re-staging must not duplicate), via a skinny id-column
    * probe of the index, after the tombstone prologue
    * ([[StagedStore.admitted]]). */
  private def applyAccept(spark: SparkSession, dir: String, r: Recipe,
      record: String, staged: DataFrame): Unit = {
    val bid = StagedStore.acceptBatchId(record)
    val base = StagedStore.admitted(spark, dir, record, staged, r.idCol)
    val stagedIds = base.select(col(r.idCol)).distinct()
    val dup = ParquetDirs.read(spark, dataPath(dir, r))
      .where(col(BatchCol) =!= bid)
      .join(broadcast(stagedIds), r.idCol)
      .select(col(r.idCol)).distinct()
    // no isEmpty pre-check: writeBatch's dynamic-overwrite write of an
    // empty frame touches no partition (the documented empty-batch
    // no-op), so probing first just re-runs the anti-join
    writeBatch(spark, dir, r, bid,
      base.join(broadcast(dup), Seq(r.idCol), "left_anti"))
  }

  /** The STREAMING accept ([[graft.streaming.TsdbStream
    * .embeddingStoreIngest]]'s per-trigger body) — [[CorpusStore
    * .acceptStreamBatch]]'s two split identities on the embedding
    * half: the staged RECORD takes a fresh staging sequence (heal's
    * ordering holds against interleaved operator takedowns) while the
    * landed partition identity derives from (streamTag, micro-batch
    * id), so foreachBatch's at-least-once redelivery re-overwrites
    * its own partitions — exactly-once at the index. `streamTag` is
    * the Delta-txnAppId analog: one stable tag per feed AND
    * checkpoint lineage. A stream-fed store otherwise follows the
    * same single-maintenance-writer discipline as every lifecycle
    * mutation: the tombstone guarantee covers the crash-redelivery
    * race under SERIALIZED heals, not wall-clock-concurrent operator
    * takedowns against a live stream — pause the feed (or route the
    * takedown through the same maintenance writer) as with every
    * other store mutation. */
  def acceptStreamBatch(spark: SparkSession, dir: String,
      batch: DataFrame, microBatchId: Long, streamTag: String): String = {
    val r = recipe(dir)
    require(batch.columns.contains(r.idCol) &&
      batch.columns.contains(r.embCol),
      s"acceptStreamBatch: batch lacks the registered columns " +
        s"(${r.idCol}, ${r.embCol})")
    requireNoNulls(batch, r, "acceptStreamBatch")
    val bid = StagedStore.publishStreamAccept(spark, dir, batch,
      microBatchId, streamTag)
    heal(spark, dir)
    bid
  }

  /** One takedown lands: only the (cell, batch) partitions holding the
    * ids are rewritten without them; emptied leaves are deleted whole.
    * Would-empty SKIPS (record stays staged — the standing alert);
    * the tombstone lands before any rewrite ([[StagedStore
    * .tombstoneTakedown]]; serialized-heal contract — see
    * acceptStreamBatch). */
  private def applyTakedown(spark: SparkSession, dir: String, r: Recipe,
      staged: DataFrame): Boolean = {
    val idSeq = StagedStore.tombstoneTakedown(spark, dir, staged, r.idCol)(
      wouldKeepSome(spark, dir, r, _)) match {
      case None => return false
      case Some(ids) => ids
    }
    if (idSeq.isEmpty) return true
    val data = ParquetDirs.read(spark, dataPath(dir, r))
    val affected = data.where(col(r.idCol).isin(idSeq: _*))
      .select(col(CellCol), col(BatchCol)).distinct()
      .collect().map(row => (row.getInt(0), row.getString(1))).toSet
    if (affected.isEmpty) return true
    // partition-pruned slice: exact (cell, batch) leaf disjunction —
    // takedown-request-sized, like CorpusStore's isin contract
    val slicePred = affected.toSeq.map { case (c, b) =>
      col(CellCol) === c && col(BatchCol) === b
    }.reduce(_ || _)
    val keptRows = data.where(slicePred)
      .where(!col(r.idCol).isin(idSeq: _*))
    // sever the read-then-overwrite lineage; size from the
    // pre-checkpoint plan (the checkpoint's stats are the default)
    val remaining = keptRows.localCheckpoint()
    val kept = remaining.select(col(CellCol), col(BatchCol)).distinct()
      .collect().map(row => (row.getInt(0), row.getString(1))).toSet
    if (kept.nonEmpty)
      StagedStore.sizedForWrite(remaining, sizeFrom = Some(keptRows))
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(CellCol, BatchCol).mode("overwrite")
        .parquet(dataPath(dir, r))
    (affected -- kept).foreach { case (c, b) =>
      HadoopFiles.deleteRecursive(spark.sparkContext.hadoopConfiguration,
        s"${dataPath(dir, r)}/$CellCol=$c/$BatchCol=" +
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName(b))
    }
    // refresh the affected batches' drift stats from the post-rewrite
    // data (batch-pruned read over ALL their cells — a batch's
    // untouched cells keep contributing): the stats table must track
    // what the index holds or every later drift reading lies
    val affBatches = affected.map(_._2)
    val centers = Similarity.readCodebook(spark, codebookPath(dir, r))
    val centersDf = spark.createDataFrame(centers).toDF(CellCol, "center")
    val d2 = {
      val a = col(r.embCol).cast("array<double>"); val b = col("center")
      Similarity.dot(a, a) + Similarity.dot(b, b) -
        lit(2.0) * Similarity.dot(a, b)
    }
    val postStats = ParquetDirs.read(spark, dataPath(dir, r))
      .where(col(BatchCol).isin(affBatches.toSeq: _*))
      .select(col(BatchCol), col(CellCol), col(r.embCol))
      .join(broadcast(centersDf), CellCol)
      .groupBy(col(BatchCol), col(CellCol))
      .agg(count(lit(1)).as("n"), sum(d2).as("sumd"))
      .select(col(CellCol), col("n"), col("sumd"), col(BatchCol))
      .localCheckpoint()
    val still = postStats.select(BatchCol).distinct()
      .collect().map(_.getString(0)).toSet
    if (still.nonEmpty)
      postStats.coalesce(1) // (batch × cell)-sized: ≤ batches · nlist rows
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(BatchCol).mode("overwrite")
        .parquet(statsPath(dir, r))
    (affBatches -- still).foreach { b =>
      HadoopFiles.deleteRecursive(spark.sparkContext.hadoopConfiguration,
        s"${statsPath(dir, r)}/$BatchCol=" +
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName(b))
    }
    true
  }

  /** Stage + heal in one call — the operator accept flow. */
  def acceptBatch(spark: SparkSession, dir: String,
      batch: DataFrame): String = {
    val bid = stageBatch(spark, dir, batch)
    heal(spark, dir)
    bid
  }

  /** Stage + heal a takedown. */
  def removeVectors(spark: SparkSession, dir: String,
      ids: Seq[Long]): Unit = {
    stageTakedown(spark, dir, ids)
    heal(spark, dir)
  }

  // --------------------------------------------------- alerts / refit

  /** Per-cell (build n, build sumd, current n, current sumd) — the
    * drift reading's inputs: the epoch's frozen baseline vs the
    * aggregated per-batch stats table. Codebook-sized; no vector is
    * ever read for a drift reading. */
  private def cellStats(spark: SparkSession, dir: String,
      r: Recipe): Seq[(Int, Long, Double, Long, Double)] = {
    def readAgg(path: String): Map[Int, (Long, Double)] =
      ParquetDirs.read(spark, path)
        .groupBy(col(CellCol))
        .agg(sum(col("n")).as("n"), sum(col("sumd")).as("sumd"))
        .collect()
        .map(row => row.getInt(0) -> (row.getLong(1), row.getDouble(2)))
        .toMap
    val build = readAgg(baselinePath(dir, r))
    val now = readAgg(statsPath(dir, r))
    (build.keySet ++ now.keySet).toSeq.sorted.map { c =>
      val (bn, bd) = build.getOrElse(c, (0L, 0.0))
      val (nn, nd) = now.getOrElse(c, (0L, 0.0))
      (c, bn, bd, nn, nd)
    }
  }

  /** Cells that DRIFTED since the epoch's build — either kind:
    *
    *   - SHARE drift: the cell's population share moved more than
    *     `shareTol` (a concentrated new mode crowding one cell);
    *   - QUANTIZATION drift: the cell's mean squared-L2 error to its
    *     centroid inflated by more than `distTol` relative (a DISPERSE
    *     new mode scattering across cells — shares barely move, but
    *     the codebook demonstrably stopped describing the data; this
    *     is the regime [[refit]] actually fixes), or members arrived
    *     in a cell the build left empty.
    *
    * Baseline and current both come from the per-batch stats table —
    * accepts and takedowns included, vectors never read. */
  def driftedCells(spark: SparkSession, dir: String,
      shareTol: Double = 0.05, distTol: Double = 0.2): Seq[Int] =
    driftedFrom(cellStats(spark, dir, recipe(dir)), shareTol, distTol)

  /** [[driftedCells]] over an already-read stats table — [[maintain]]
    * reads the (codebook-sized) stats once and derives the alert AND
    * the query sample from the same read. */
  private def driftedFrom(stats: Seq[(Int, Long, Double, Long, Double)],
      shareTol: Double, distTol: Double): Seq[Int] = {
    val totB = stats.map(_._2).sum.toDouble
    val totN = stats.map(_._4).sum.toDouble
    if (totB == 0 || totN == 0) Nil
    else stats.collect {
      case (c, bn, bd, nn, nd)
        if math.abs(nn / totN - bn / totB) > shareTol ||
          (bn > 0 && nn > 0 && nd / nn > (bd / bn) * (1.0 + distTol)) ||
          (bn == 0 && nn > 0) => c
    }
  }

  /** The standing alerts, as (component, n) — `emb_pending` = staged
    * intents no heal applied, `emb_drift` = cells whose share drifted
    * past the threshold since the epoch build. [[graft.model
    * .TsdbLayout.healthCheck]] merges these rows when a store sits at
    * the database's `emb/` sub-directory. */
  def health(spark: SparkSession, dir: String,
      shareTol: Double = 0.05, distTol: Double = 0.2): Seq[(String, Long)] = Seq(
    "emb_pending" -> StagedStore.pendingCount(spark, dir),
    "emb_drift" -> driftedCells(spark, dir, shareTol, distTol).size.toLong)

  /** Deterministic refit-gate queries sampled from WHERE THE DRIFT
    * LANDED: the `n` hash-minimal vectors of the drifted cells
    * (falling back to all cells when nothing reads as drifted) —
    * recall on the old modes alone cannot see a new one ([[Similarity
    * .refitCodebook]]'s scaladoc), and hash-minimal ≡ a uniform draw
    * any replay reproduces. */
  def driftQueries(spark: SparkSession, dir: String, n: Int,
      shareTol: Double = 0.05, distTol: Double = 0.2): DataFrame = {
    val r = recipe(dir)
    driftQueriesFrom(spark, dir, r, cellStats(spark, dir, r), n,
      shareTol, distTol)
  }

  private def driftQueriesFrom(spark: SparkSession, dir: String,
      r: Recipe, stats: Seq[(Int, Long, Double, Long, Double)], n: Int,
      shareTol: Double, distTol: Double): DataFrame = {
    // only cells with CURRENT members can contribute queries — a cell
    // drifted by emptying (takedowns) has nothing to probe from, and
    // sampling it forever would hand refit zero queries (a gate that
    // can never pass)
    val populated = stats.collect { case (c, _, _, nn, _) if nn > 0 => c }.toSet
    val cells = driftedFrom(stats, shareTol, distTol)
      .filter(populated) match {
      case Nil => populated.toSeq.sorted
      case d => d
    }
    ParquetDirs.read(spark, dataPath(dir, r))
      .where(col(CellCol).isin(cells: _*))
      .select(col(r.idCol).as("qid"), col(r.embCol),
        Dedup.hash60(col(r.idCol).cast("string")).as("__h"))
      .orderBy(col("__h"), col("qid")).limit(n)
      .drop("__h") // shape: (qid, <recipe embCol>) — what [[refit]] takes
  }

  /** The recall-gated REFIT — [[Similarity.refitCodebook]] epoch-
    * flipped: refit over the stored vectors, measure stale-vs-refit
    * IVF recall on `queries` against one brute exact frame, and when
    * the integer gate passes, build `cells_e<N+1>` WHOLE (refit
    * codebook; PQ books and codes carry over — they quantize fixed
    * subspaces independently of the coarse cells; the coarse
    * assignment alone is re-derived) and commit it with one atomic
    * manifest rewrite. A crash
    * anywhere before the flip leaves the old epoch serving; [[heal]]
    * sweeps the debris. Returns the refit readout (healed = 1 exactly
    * when the flip happened). */
  def refit(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nprobe: Int = 2): DataFrame = {
    val r = recipe(dir)
    // reclaim crashed-refit debris: unreferenced epoch directories
    // belong to THIS operation's lineage (single epoch writer) — heal
    // never touches them, so an always-safe heal cannot destroy an
    // epoch a refit is mid-building
    val conf = spark.sparkContext.hadoopConfiguration
    HadoopFiles.listDirs(conf, dir, "cells_e")
      .filter(_.getName != r.epoch)
      .foreach(p => HadoopFiles.deleteRecursive(conf, p.toString))
    val epochN = r.epoch.stripPrefix("cells_e").toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"embedding store at $dir has unparseable epoch '${r.epoch}'"))
    val next = s"cells_e${epochN + 1}"
    val corpus = readVectors(spark, dir).localCheckpoint()
    val readout = Similarity.refitCodebook(spark, codebookPath(dir, r),
      corpus, queries, k, r.nlist, nprobe, r.iters, r.idCol, "qid",
      r.embCol, writeTo = Some(s"$dir/$next/codebook"))
    val gate = readout.agg(max(col("healed"))).head()
    val healed = !gate.isNullAt(0) && gate.getInt(0) == 1
    if (healed) {
      val nr = r.copy(epoch = next)
      if (r.m.isDefined) {
        // PQ sub-codebooks quantize fixed subspaces independently of
        // the coarse cells — they carry over unchanged; only the
        // coarse assignment is re-derived
        writePqBooks(spark, readPqBooks(spark, dir, r), pqPath(dir, nr))
      }
      // reassign the stored rows (vectors + codes) under the refit
      // codebook — reads the OLD epoch, writes the NEW directory: no
      // read-then-overwrite lineage, and the old epoch serves until
      // the manifest flip below. The cell is re-derived IN PLACE over
      // the stored row ([[Similarity.reassignCellsKeepAll]]) — no
      // assign-then-self-join by id, which shuffled the whole index
      // twice per pass
      val centers = Similarity.readCodebook(spark,
        codebookPath(dir, nr))
      StagedStore.sizedForWrite(Similarity
          .reassignCellsKeepAll(centers,
            ParquetDirs.read(spark, dataPath(dir, r)).drop(CellCol),
            r.idCol, r.embCol)
          .drop("__d"))
        .write.partitionBy(CellCol, BatchCol).mode("overwrite")
        .parquet(dataPath(dir, nr))
      // the epoch's stats derive from the WRITTEN new-epoch data: the
      // cell is already assigned there, so only the distance to the
      // assigned centroid is recomputed (the x·x + c·c − 2·x·c
      // expansion — the kernel's own __d sequence; [[applyTakedown]]'s
      // stats refresh already relies on this equivalence, and
      // VectorKernelSpec pins it). This replaces a SECOND full argmin
      // pass over the index per refit with a broadcast-join distance
      // over the columnar read-back — cheaper at any size, and the
      // index is still never pinned in executor memory (r15)
      val centersDf = spark.createDataFrame(centers)
        .toDF(CellCol, "center")
      val d2 = {
        val a = col(r.embCol).cast("array<double>"); val b = col("center")
        Similarity.dot(a, a) + Similarity.dot(b, b) -
          lit(2.0) * Similarity.dot(a, b)
      }
      ParquetDirs.read(spark, dataPath(dir, nr))
        .select(col(BatchCol), col(CellCol), col(r.embCol))
        .join(broadcast(centersDf), CellCol)
        .groupBy(col(BatchCol), col(CellCol))
        .agg(count(lit(1)).as("n"), sum(d2).as("sumd"))
        .select(col(CellCol), col("n"), col("sumd"), col(BatchCol))
        .coalesce(1) // (batch × cell)-sized
        .write.partitionBy(BatchCol).mode("overwrite")
        .parquet(statsPath(dir, nr))
      writeBaseline(spark, dir, nr)
      // THE commit point: one atomic manifest rewrite
      IndexCatalog.setEmbeddingEpoch(s"$dir/$IndexesSub", next)
      HadoopFiles.deleteRecursive(conf, epochDir(dir, r))
    }
    readout
  }

  /** The cron body ([[graft.model.TsdbLayout.maintenanceTick]]'s
    * embedding rows): heal staged intents, read the drift alert, and
    * when it fires run the recall-gated [[refit]] with
    * [[driftQueries]] sampled from the drifted cells — the TSDB
    * index family's alert→scoped-remedy loop on the embedding half.
    * Returns (step, n) rows: `emb_healed` (intents applied),
    * `emb_drift_seen` (the alert reading that TRIGGERED the refit —
    * deliberately not named `emb_drift`, which is [[health]]'s
    * standing-alert row reporting the post-remedy state), and
    * `emb_refit_healed` (1 = the recall gate passed and the epoch
    * flipped). */
  def maintain(spark: SparkSession, dir: String,
      shareTol: Double = 0.05, distTol: Double = 0.2, k: Int = 10,
      nprobe: Int = 2, sampleN: Int = 32): Seq[(String, Long)] = {
    val healed = heal(spark, dir).toLong
    // one stats read serves both the alert and the query sample
    val r = recipe(dir)
    val stats = cellStats(spark, dir, r)
    val drift = driftedFrom(stats, shareTol, distTol).size.toLong
    val refitHealed =
      if (drift == 0L) 0L
      else {
        val q = driftQueriesFrom(spark, dir, r, stats, sampleN,
            shareTol, distTol)
          .localCheckpoint() // pinned: refit reads it against both codebooks
        if (q.isEmpty) 0L // no evidence, no corpus-sized refit attempt
        else {
          val gate = refit(spark, dir, q, k, nprobe)
            .agg(max(col("healed"))).head()
          if (!gate.isNullAt(0) && gate.getInt(0) == 1) 1L else 0L
        }
      }
    Seq("emb_healed" -> healed, "emb_drift_seen" -> drift,
      "emb_refit_healed" -> refitHealed)
  }
}
