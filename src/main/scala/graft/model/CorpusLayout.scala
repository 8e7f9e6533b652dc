package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout of a curated document corpus — the write side of the
  * training-data pipeline (the corpus counterpart of [[TsdbLayout]]).
  *
  *   - directory partitioning by (split, source): a training reader opens
  *     only its split's directories (Catalyst partition pruning), and
  *     per-source mixture adjustments touch only that source's files;
  *   - files sorted by doc_id within partitions: a stable shard order, so
  *     downstream sequence packing ([[graft.pipeline.TextOps.packSequences]])
  *     is reproducible from the layout alone;
  *   - a manifest (per-partition doc/token counts) computed from the same
  *     frame, so the data recipe ships with the data.
  *
  * At 100 TB the partition columns bound every job's input: no job ever
  * lists, let alone reads, splits or sources it does not consume.
  */
object CorpusLayout {

  /** Write documents (must carry `split` and `source` columns — compose
    * with TextOps.assignSplits) as a partitioned, sorted corpus.
    *
    * `tasksPerPartition` salts the shuffle so one (split, source)
    * combination spreads over that many write tasks — repartitioning on
    * the directory columns alone would collapse each combination (at
    * corpus scale, terabytes) into a single task while the cluster
    * idles. Files stay doc_id-sorted within each task's output. */
  def writeDocuments(docs: DataFrame, path: String,
      tasksPerPartition: Int = 16): Unit = {
    require(tasksPerPartition > 0, "tasksPerPartition must be positive")
    docs
      .repartition(col("split"), col("source"),
        pmod(hash(col("doc_id")), lit(tasksPerPartition)))
      .sortWithinPartitions(col("split"), col("source"), col("doc_id"))
      .write.partitionBy("split", "source").mode("overwrite").parquet(path)
  }

  /** Compact a corpus's small files: rewrite `srcPath` to `dstPath` with
    * each (split, source) partition bin-packed toward `targetBytes` per
    * output file — the OPTIMIZE step every long-lived 100 TB corpus
    * needs, because incremental appends and salted writes accumulate
    * files whose open/footer overhead eventually dominates scans.
    *
    * The packing plan comes from one driver-side file listing (one
    * FileStatus per data file — metadata-bounded, the same cost a table
    * format's OPTIMIZE pays) and broadcasts onto the rows; each
    * partition then spreads over ceil(partitionBytes / targetBytes)
    * write tasks via a doc_id-hash salt, so compaction of a skewed
    * source engages the whole cluster instead of one task. Output files
    * stay doc_id-sorted within partitions ([[writeDocuments]]'s
    * contract, which keeps sequence packing reproducible post-compact).
    *
    * Writes to a DESTINATION path rather than in place: self-overwrite
    * of a path being read is undefined in Spark; callers swap the
    * directories (or flip a symlink/table pointer) once the write
    * commits — the same publish step every compaction pipeline has.
    *
    * @return the packing plan (split, source, n_bytes, n_files_target)
    *         for observability / the compaction log. */
  def compact(spark: SparkSession, srcPath: String, dstPath: String,
      targetBytes: Long = 512L << 20): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    import org.apache.hadoop.fs.Path
    val src = new Path(srcPath)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // directory names carry Hive-ESCAPED partition values (":" →
    // "%3A"...) while the scanned rows carry the decoded ones — the plan
    // keys must be decoded or the join drops those partitions entirely.
    // Null partition values (__HIVE_DEFAULT_PARTITION__) can't join
    // back; refuse loudly rather than silently losing the directory.
    def partVal(name: String): String = {
      val raw = name.substring(name.indexOf('=') + 1)
      require(raw != "__HIVE_DEFAULT_PARTITION__",
        s"compact requires non-null split/source values (found $name)")
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(raw)
    }
    val bytesPerDir: Seq[(String, String, Long)] =
      fs.globStatus(new Path(src, "split=*/source=*/part-*"))
        .toSeq
        .map { st =>
          val sourceDir = st.getPath.getParent
          (partVal(sourceDir.getParent.getName), partVal(sourceDir.getName),
            st.getLen)
        }
        .groupBy { case (sp, so, _) => (sp, so) }
        .map { case ((sp, so), files) => (sp, so, files.map(_._3).sum) }
        .toSeq
    val plan = bytesPerDir.map { case (sp, so, bytes) =>
      (sp, so, bytes, math.max(1L, (bytes + targetBytes - 1) / targetBytes))
    }
    val planDf = spark.createDataFrame(plan)
      .toDF("split", "source", "n_bytes", "n_files_target")
    ParquetDirs.read(spark, srcPath)
      .join(broadcast(planDf.select(col("split"), col("source"),
        col("n_files_target").as("__files"))), Seq("split", "source"))
      .repartition(col("split"), col("source"),
        pmod(hash(col("doc_id")).cast("long"), col("__files")))
      .sortWithinPartitions(col("split"), col("source"), col("doc_id"))
      .drop("__files")
      .write.partitionBy("split", "source").mode("overwrite").parquet(dstPath)
    planDf
  }

  /** Per-(split, source) doc and token counts — token definition shared
    * with the curation operators (TextOps.tokenCountWs), so the shipped
    * recipe numbers agree with what the pipeline reports. */
  def manifest(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.pipeline.TextOps.tokenCountWs(col(textCol))).as("n_tokens"))
}
