package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.model.{HadoopFiles, ParquetDirs}

/** The ONE staged record-before-mutate protocol both lifecycle stores
  * share ([[CorpusStore]], [[EmbeddingStore]]) — extracted so a fix to
  * the publish or ordering rules can never apply to one store and
  * silently miss the other (the round-13 staging-order bug had to be
  * reasoned about per store; this is the structural remedy):
  *
  *   - [[stage]] publishes a record by parquet-writing INTO a temp
  *     name and then ONE atomic-enough directory rename — a heal never
  *     sees a half-staged record, and [[sweepTmp]] reclaims the crash
  *     leftovers (a `.tmp_` directory was never visible, so deleting
  *     it loses nothing: the caller's stage() failed and they retry);
  *   - records carry a monotonic STAGING SEQUENCE in their name
  *     ([[nextSeq]]) and [[healStaged]] applies them in that order —
  *     the parsed number, never the directory name (names sort `p_*`
  *     before `t_*` regardless of sequence);
  *   - an apply callback may REFUSE a record (return false): it stays
  *     staged as a standing pending alert and LATER intents still
  *     apply — never a mid-heal throw that blocks everything behind it
  *     (the round-13 would-empty crash-loop).
  */
private[pipeline] object StagedStore {

  val PendingSub = "pending"

  /** Target bytes per output file of a store write: 128 MB, inside the
    * usual 128 MB-1 GB parquet output-file band; it keeps every
    * benchmark-sized write one file. */
  private val TargetFileBytes = 128L << 20

  /** Right-size a batch/index-sized frame for a parquet write: coalesce
    * to ceil(estimated bytes / target), so a KB-sized index/stats write
    * lands as ONE file instead of fanning one near-empty file per input
    * partition (the local[32] small-file storm: every store mutation
    * paid listing+footer overhead on ~32 files per partition
    * directory). Scale-adaptive, never a constant: the estimate is the
    * optimizer's plan statistic, the target a fixed file size, and an
    * unknown/huge estimate (e.g. a checkpoint-backed plan with default
    * stats — pass `sizeFrom` with the pre-checkpoint plan instead)
    * leaves the frame untouched rather than forcing a corpus-sized
    * write through few tasks. `coalesce` is a NARROW dependency, so it
    * does not only narrow the final write: it merges the whole narrow
    * chain back to the previous exchange (or the scan) into the chosen
    * task count. Exchanges upstream of that keep their parallelism. */
  def sizedForWrite(df: DataFrame, sizeFrom: Option[DataFrame] = None)
      : DataFrame =
    graft.PlanSize.estimate(sizeFrom.getOrElse(df)).fold(df)(est =>
      df.coalesce((((est + TargetFileBytes - 1) / TargetFileBytes)
        min 4096 max 1).toInt))

  private def pendingDirs(spark: SparkSession, dir: String,
      prefix: String): Seq[org.apache.hadoop.fs.Path] =
    HadoopFiles.listDirs(spark.sparkContext.hadoopConfiguration,
      s"$dir/$PendingSub", prefix)

  /** Next staged sequence number — heal applies staged intents in
    * staging order; single-maintenance-writer discipline. */
  def nextSeq(spark: SparkSession, dir: String): Int =
    pendingDirs(spark, dir, "")
      .flatMap(_.getName.split("_").lift(1)).flatMap(_.toIntOption)
      .maxOption.getOrElse(-1) + 1

  /** Publish a staged record under an exact name (the streaming accept
    * passes a name carrying its micro-batch identity). */
  def publish(spark: SparkSession, dir: String, name: String,
      payload: DataFrame): String = {
    val tmp = s"$dir/$PendingSub/.tmp_$name"
    sizedForWrite(payload).write.mode("overwrite").parquet(tmp)
    val (f, _) = HadoopFiles.hfs(spark.sparkContext.hadoopConfiguration, tmp)
    require(f.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$dir/$PendingSub/$name")),
      s"stage: rename failed for $name")
    name
  }

  /** Stage one record: `<prefix>_<seq>_<uuid8>`. */
  def stage(spark: SparkSession, dir: String, prefix: String,
      payload: DataFrame): String =
    publish(spark, dir,
      f"${prefix}_${nextSeq(spark, dir)}%05d_" +
        java.util.UUID.randomUUID().toString.take(8),
      payload)

  /** Sweep `.tmp_` stage-crash leftovers. */
  def sweepTmp(spark: SparkSession, dir: String): Unit =
    pendingDirs(spark, dir, ".tmp_").foreach(p =>
      HadoopFiles.deleteRecursive(spark.sparkContext.hadoopConfiguration,
        p.toString))

  /** The staged records pending no heal has applied (the standing
    * `*_pending` alert's count). */
  def pendingCount(spark: SparkSession, dir: String): Long =
    pendingDirs(spark, dir, "")
      .count(p => !p.getName.startsWith(".")).toLong

  // ------------------------------------------------------- tombstones

  /** The permanent takedown record both stores keep — an APPEND-ONLY
    * `(idCol, seq, op)` log, never rewritten in place (an in-place
    * clear would be the one non-crash-safe mutation in stores whose
    * whole contract is record-before-mutate). Takedowns append `add`
    * rows BEFORE their rewrites; deliberate operator accepts append
    * `clear` rows for ids they re-admit. `seq` is the LOG's own
    * monotonic counter — deliberately NOT the staging sequence, which
    * resets when pending drains and would let an old `add` outrank a
    * later `clear`. Heal applies records in staging order and appends
    * in apply order, so log order IS causal order, and the effective
    * set is "ids whose latest op is add"; a crashed re-run re-appends
    * the same op at a higher seq, which changes nothing. STREAM
    * accepts filter against it so an at-least-once redelivery cannot
    * resurrect an id removed while the stream was down (a license
    * revocation must survive the crash-redelivery race; re-adding
    * after takedown stays an operator's call) — under the stores'
    * single-maintenance-writer discipline (heals are serialized; the
    * log's read-max-then-append is not a concurrent structure).
    * Takedown-history-sized: legal/ops events, orders of magnitude
    * rarer than accepts. */
  def tombstonesPath(dir: String): String = s"$dir/takedowns"

  def appendTombstoneOps(spark: SparkSession, dir: String,
      idCol: String, ids: Seq[Long], op: String): Unit = {
    import spark.implicits._
    val seq =
      if (!HadoopFiles.exists(spark.sparkContext.hadoopConfiguration,
          tombstonesPath(dir))) 0L
      else {
        val row = ParquetDirs.read(spark, tombstonesPath(dir))
          .agg(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.col("seq"))).head()
        if (row.isNullAt(0)) 0L else row.getLong(0) + 1L
      }
    ids.map(i => (i, seq, op)).toDF(idCol, "seq", "op")
      .coalesce(1).write.mode("append").parquet(tombstonesPath(dir))
  }

  /** The currently-tombstoned ids (latest op per id is `add`), or None
    * when no takedown ever ran. */
  def effectiveTombstones(spark: SparkSession, dir: String,
      idCol: String): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, max_by}
    if (!HadoopFiles.exists(spark.sparkContext.hadoopConfiguration,
        tombstonesPath(dir))) None
    else Some(ParquetDirs.read(spark, tombstonesPath(dir))
      .groupBy(col(idCol))
      .agg(max_by(col("op"), col("seq")).as("__latest"))
      .where(col("__latest") === "add")
      .select(col(idCol)))
  }

  /** An accept's admission prologue, the same for both stores: a
    * STREAM record drops its TOMBSTONED ids (broadcast: the set is
    * takedown-history-sized, and the stream hot path must stay
    * shuffle-free), while a DELIBERATE operator record re-admits its
    * tombstoned ids with an append-only `clear` op at this record's
    * sequence (never an in-place rewrite) — routine accepts with no
    * tombstoned id skip the log entirely. Returns the rows to admit;
    * each store then drops the ids it already holds under another
    * batch and writes. */
  def admitted(spark: SparkSession, dir: String, record: String,
      staged: DataFrame, idCol: String): DataFrame =
    effectiveTombstones(spark, dir, idCol) match {
      case Some(t) if record.contains("_sb_") =>
        staged.join(broadcast(t), Seq(idCol), "left_anti")
      case Some(t) =>
        val revived = t
          .join(broadcast(staged.select(col(idCol)).distinct()), Seq(idCol))
          .collect().map(_.getLong(0)).toSeq
        if (revived.nonEmpty) appendTombstoneOps(spark, dir, idCol, revived, "clear")
        staged
      case None => staged
    }

  /** A takedown's prologue, the same for both stores: collect the
    * staged ids (request-sized), re-check would-empty against the store
    * AT APPLY TIME (staging validated too, but earlier-staged takedowns
    * may have shrunk it since), then append their `add` tombstone ops
    * BEFORE any rewrite (record-before-mutate), so a stream redelivery
    * racing the takedown cannot resurrect them. The would-empty check
    * runs BEFORE the append: a refused takedown leaves the log
    * untouched (an append-then-refuse would re-append the same ops on
    * every heal retry, growing the log unboundedly while blocking every
    * later-staged intent — the round-13 ADVICE finding).
    *
    * @return None when refused (heal keeps the record staged), else the
    *   ids to rewrite away (empty: nothing to take down). */
  def tombstoneTakedown(spark: SparkSession, dir: String, staged: DataFrame,
      idCol: String)(keepsSome: Set[Long] => Boolean): Option[Seq[Long]] = {
    val ids = staged.select(col(idCol)).distinct()
      .collect().map(_.getLong(0)).toSet
    if (ids.isEmpty) Some(Nil)
    else if (!keepsSome(ids)) None
    else {
      appendTombstoneOps(spark, dir, idCol, ids.toSeq.sorted, "add")
      Some(ids.toSeq)
    }
  }

  /** A staged accept's LANDED batch identity: stream records
    * (`..._sb_<tag>_<microBatchId>`) strip their (fresh,
    * ordering-only) staging sequence so a redelivered micro-batch
    * lands on the SAME partitions; operator records keep the whole
    * record name (each staging is a distinct batch). */
  def acceptBatchId(recordName: String): String = {
    val i = recordName.indexOf("_sb_")
    if (i >= 0) recordName.substring(i + 1) else recordName
  }

  /** Publish a STREAM accept record: fresh staging sequence (heal's
    * ordering holds against interleaved operator records) + the
    * (streamTag, microBatchId) landed identity in the name. */
  def publishStreamAccept(spark: SparkSession, dir: String,
      batch: DataFrame, microBatchId: Long, streamTag: String): String = {
    require(microBatchId >= 0, s"negative micro-batch id $microBatchId")
    require(streamTag.nonEmpty && streamTag.forall(c =>
        c.isLetterOrDigit || c == '-'),
      s"streamTag must be non-empty alphanumeric/dash (got '$streamTag')")
    publish(spark, dir,
      f"p_${nextSeq(spark, dir)}%05d_sb_${streamTag}_$microBatchId", batch)
    s"sb_${streamTag}_$microBatchId"
  }

  /** Apply every staged intent in STAGING order: `apply(name, rows)`
    * returns true to consume the record (deleted), false to refuse it
    * (kept staged — the standing alert; later intents still apply).
    * Returns the number of records consumed. */
  def healStaged(spark: SparkSession, dir: String,
      apply: (String, DataFrame) => Boolean): Int = {
    sweepTmp(spark, dir)
    var n = 0
    val staged = pendingDirs(spark, dir, "")
      .filterNot(_.getName.startsWith("."))
      .map { p =>
        val seq = p.getName.split("_").lift(1).flatMap(_.toIntOption)
          .getOrElse(throw new IllegalArgumentException(
            s"heal: unparseable staged record name ${p.getName} under " +
              s"$dir/$PendingSub"))
        (seq, p)
      }.sortBy(_._1)
    staged.foreach { case (_, p) =>
      if (apply(p.getName, ParquetDirs.read(spark, p.toString))) {
        HadoopFiles.deleteRecursive(spark.sparkContext.hadoopConfiguration,
          p.toString)
        n += 1
      }
    }
    n
  }
}
