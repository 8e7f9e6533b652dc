package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, In, InSet}
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.model.TsdbContext

object SparkTestBase {
  lazy val spark: SparkSession = TsdbContext.configure(
    SparkSession.builder().master("local[4]").appName("graft-test"), cpus = 4)
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.functions.GraftExtensions)
    .getOrCreate()

  /** The smallest scale of the oracle testdata. */
  val Sf0001 = "/root/testdata/sf0.001"
}

trait SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Reference column_store_test fixture (cc:116-131): series `test tag=T<i>`
    * for i in ids, one sample per integer tick in [begin, end),
    * value = 0.1 * ts. Timestamps are plain Longs (ns). */
  def rampContext(ids: Seq[Int], begin: Long, end: Long,
      value: Long => Double = ts => 0.1 * ts): TsdbContext = {
    val rows = for (i <- ids; ts <- begin until end)
      yield (s"T$i", ts, value(ts))
    import spark.implicits._
    val wide = rows.toDF("tag", "ts", "value")
      .withColumn("metric", org.apache.spark.sql.functions.lit("test"))
    TsdbContext.fromWide(spark, wide, "metric", Seq("tag"), "ts", "value")
  }

  def collectSeries(df: DataFrame): Seq[(String, Long, Double)] =
    df.collect().toSeq.map(r => (
      r.getString(r.fieldIndex("series")),
      r.getLong(r.fieldIndex("ts")),
      r.getDouble(r.fieldIndex("value"))))

  /** Spark jobs `body` submits, counted between two listener-bus
    * drains: events still queued from earlier work are delivered before
    * counting starts, and every event `body` caused is delivered before
    * the count is read, so the count holds exactly its own jobs. */
  def jobsOf(body: => Any): Long = {
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def drain(): Unit = org.apache.spark.sql.graftbridge.Bridge
      .drainListenerBus(spark.sparkContext)
    drain()
    spark.sparkContext.addSparkListener(listener)
    try { body; drain() }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  /** Run `body` with one session setting changed, restoring (or
    * unsetting) it afterwards. */
  def withSessionConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Spark's one-task read size: answers estimated at or below it sort
    * in one task (`Engine`'s ordering gate). */
  val MaxPartitionBytes = "spark.sql.files.maxPartitionBytes"

  /** The file scans of a frame's pre-AQE physical plan. */
  def fileScans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }

  /** Whether a scan hands the reader an IN list on `series_id` — the
    * inline resolution regime's pushed filter. */
  def filtersSeriesIds(f: FileSourceScanExec): Boolean =
    f.dataFilters.exists(_.exists {
      case In(a: Attribute, _) => a.name == "series_id"
      case InSet(a: Attribute, _) => a.name == "series_id"
      case _ => false
    }) && f.metadata("PushedFilters").contains("In(series_id")

  /** The partition columns a scan prunes directories on. */
  def prunedPartitionCols(f: FileSourceScanExec): Set[String] =
    f.partitionFilters.flatMap(_.references.map(_.name)).toSet
}
