package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader}
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink,
  FileStreamSinkLog}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Driver-side Parquet footer bridge for [[graft.model.ParquetDirs]].
  *
  * Spark's footer-to-schema conversion (`ParquetFileFormat.readSchema`)
  * is `private[parquet]`, and the streaming sink log it would consult
  * for a sink root lives behind the session's internals. This one-file
  * subpackage re-exports the three calls a driver-side schema
  * resolution needs, the same trick as `org.apache.spark.sql.graftbridge`.
  * No Spark internals are modified. */
object ParquetFooters {

  /** One file's Spark schema, read from its footer on the driver and
    * converted exactly as schema inference converts it: the Spark
    * schema the writer stored, else the Parquet schema through the
    * session's converter flags (`spark.sql.legacy.parquet.nanosAsLong`
    * among them). */
  def schemaOf(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.NO_FILTER)
    SQLConf.withExistingConf(spark.sessionState.conf) {
      ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark)
    }
  }

  /** True when `dir` is a streaming file sink's root, i.e. Spark reads
    * it through its `_spark_metadata` log instead of a listing. */
  def isSinkRoot(spark: SparkSession, dir: String): Boolean =
    FileStreamSink.hasMetadata(Seq(dir), spark.sessionState.newHadoopConf(),
      spark.sessionState.conf)

  /** The data files a sink root's `_spark_metadata` log has committed,
    * the same set Spark's `MetadataLogFileIndex` serves. */
  def committedFiles(spark: SparkSession, dir: String): Seq[FileStatus] =
    new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
      new Path(dir, FileStreamSink.metadataDir).toString, None)
      .allFiles().toSeq.map(_.toFileStatus).filterNot(_.isDirectory)
}
