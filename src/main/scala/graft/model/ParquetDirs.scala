package graft.model

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.ParquetFooters
import org.apache.spark.sql.types.StructType

/** The ONE reader of Parquet directories the program wrote itself.
  *
  * `spark.read.parquet(dir)` infers the data schema by running a
  * one-task Spark job that reads a footer before any data is touched;
  * on the lifecycle paths (opening a database, upserts, compaction,
  * the pipeline stores' probes) those jobs were about a quarter of
  * every op's jobs. Here the same footer is read on the driver and
  * handed to `spark.read.schema(…).parquet(dir)`:
  *
  *  - the file is the one Spark's inference would pick: the first data
  *    file by path, listing the way Spark lists (names starting with
  *    `_` or `.` are hidden unless they hold a `=`, empty files are
  *    skipped), or, for a streaming sink root, the first file its
  *    `_spark_metadata` log has committed, so a stray uncommitted file
  *    never decides the schema. The program writes no Parquet summary
  *    files, so the summary-first rule of inference never applies;
  *  - the footer converts through Spark's own converter under the
  *    session conf ([[ParquetFooters.schemaOf]]);
  *  - partition columns stay inferred from the paths, so `ts_day`
  *    keeps its directory-inferred type and the frame keeps the
  *    inferred column order.
  *
  * A directory with no data file (absent, empty, or a sink root with
  * nothing committed yet) falls through to Spark's own read and its
  * own error ("Unable to infer schema", "path does not exist"). A
  * caller for which "no data file yet" is a normal state (an ingest
  * sink root before its first commit) asks [[schemaOf]] instead, which
  * answers None without a Spark job.
  *
  * Input the caller supplies (test data, user tables) still reads
  * through `spark.read.parquet`; this helper is for directories whose
  * writer is this program. */
private[graft] object ParquetDirs {

  def read(spark: SparkSession, dir: String): DataFrame =
    readFrom(spark, spark.read, Seq(dir))

  /** Some partition directories of the layout at `base`, read as one
    * frame that keeps `base`'s partition columns (Spark's `basePath`
    * option); the schema comes from the first data file across them,
    * as inference would pick it. */
  def readPartitions(spark: SparkSession, base: String,
      dirs: Seq[String]): DataFrame =
    readFrom(spark, spark.read.option("basePath", base), dirs)

  /** The data schema Spark would infer for `dirs`, resolved on the
    * driver; None when there is no data file to read it from. */
  def schemaOf(spark: SparkSession, dirs: String*): Option[StructType] =
    dirs.flatMap(schemaFile(spark, _)).minByOption(_.getPath.toString)
      .flatMap(ParquetFooters.schemaOf(spark, _))

  private def readFrom(spark: SparkSession, reader: DataFrameReader,
      dirs: Seq[String]): DataFrame =
    schemaOf(spark, dirs: _*) match {
      case Some(s) => reader.schema(s).parquet(dirs: _*)
      case None => reader.parquet(dirs: _*)
    }

  private def schemaFile(spark: SparkSession,
      dir: String): Option[FileStatus] =
    if (ParquetFooters.isSinkRoot(spark, dir))
      ParquetFooters.committedFiles(spark, dir).filter(_.getLen > 0)
        .sortBy(_.getPath.toString).headOption
    else {
      val (fs, p) = HadoopFiles.hfs(spark.sparkContext.hadoopConfiguration, dir)
      if (!fs.exists(p)) None
      else {
        val st = fs.getFileStatus(p)
        if (st.isDirectory) firstDataFile(fs, p)
        else Some(st).filter(_.getLen > 0)
      }
    }

  /** Depth-first in full-path order: a directory sorts as its name
    * plus "/", which orders every child exactly as the sorted list of
    * complete paths would, so the walk stops at the first data file
    * instead of listing the whole tree. */
  private def firstDataFile(fs: FileSystem, dir: Path): Option[FileStatus] =
    fs.listStatus(dir).toSeq
      .filterNot(st => hidden(st.getPath.getName))
      .sortBy(st =>
        st.getPath.getName + (if (st.isDirectory) "/" else ""))
      .iterator
      .flatMap { st =>
        if (st.isDirectory) firstDataFile(fs, st.getPath)
        else Some(st).filter(_.getLen > 0)
      }
      .nextOption()

  /** Spark's listing filter (`InMemoryFileIndex.shouldFilterOutPathName`)
    * with the summary files counted as hidden too. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
}
