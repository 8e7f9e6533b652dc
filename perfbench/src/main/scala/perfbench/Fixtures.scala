package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.{TsdbContext, TsdbLayout}

/** Session and on-disk fixtures. */
object Fixtures {
  val Cores = 4

  def session(workDir: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // without it, generated code asks the driver's class server for
      // names it cannot resolve, over a socket; where loopback is down
      // that fails the job
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/ckpt-default")
    val spark = TsdbContext.configure(b, Cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The TSDB context of `gen` as the program registers it on write:
    * catalog from (metric, dc, host), events keyed by name. */
  def context(spark: SparkSession, gen: Tsdb): TsdbContext = {
    val base = TsdbContext.fromWide(spark, gen.rowsDF(spark), "metric",
      Seq("dc", "host"), "ts", "value")
    val ev = gen.eventsDF(spark).withColumn("series_id", xxhash64(col("name")))
    val evCatalog = ev.select("series_id", "name").distinct()
      .withColumn("metric", lit("!log"))
      .withColumn("tags", graft.streaming.TsdbStream.tagsFromName)
      .withColumn("lon", lit(null).cast("float"))
      .withColumn("lat", lit(null).cast("float"))
    base.copy(series = base.series.unionByName(evCatalog),
      events = ev.select("series_id", "ts", "body"))
  }

  /** Write `gen` as a database with an hourly rollup and an hourly
    * histogram index registered, the layout the read workloads open. */
  def writeIndexedDatabase(spark: SparkSession, gen: Tsdb, dir: String): Unit = {
    val ctx = context(spark, gen)
    val staged = s"$dir.staged"
    // the facts are materialized once so the index builds do not
    // regenerate them
    ctx.samples.write.parquet(staged)
    val samples = spark.read.parquet(staged)
    val ctx2 = ctx.copy(samples = samples)
    val hour = Gen.NsPerHour
    val rollup = graft.engine.Rollup.build(samples, hour)
    val hist = graft.ops.HistQuantiles.histogram(
      samples.withColumn("win", col("ts") - pmod(col("ts"), lit(hour))),
      Seq("series_id", "win"))
    TsdbLayout.writeDatabase(
      ctx2.copy(rollups = Seq(hour -> rollup), histograms = Seq(hour -> hist)), dir)
    deleteTree(new File(staged).toPath)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  /** (path, size, mtime) of every regular file under `root`, Hadoop's
    * checksum side files excluded. */
  def listing(root: String): Map[String, (Long, Long)] = {
    val p = new File(root).toPath
    if (!Files.exists(p)) return Map.empty
    val s = Files.walk(p)
    try s.iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
      .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis))
      .toMap
    finally s.close()
  }

  def diskBytes(root: String): Long = listing(root).values.map(_._1).sum

  /** Files new or changed between two listings, and their bytes. */
  def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): (Long, Long) = {
    val w = after.filter { case (k, v) => !before.get(k).contains(v) }
    (w.size.toLong, w.values.map(_._1).sum)
  }
}

/** A fixed plain-Spark job, none of the program's code in it, timed
  * between ops. It measures how fast the host runs Spark work at that
  * moment, so op latencies can also be stated in its units: on a shared
  * host that drifts between runs, the ratio moves only with the program.
  * It reads, aggregates and writes parquet: a read-only job did not
  * follow the host's drift, which moved the file system apart from the
  * processors. */
final class Reference(spark: SparkSession, dir: String) {
  spark.range(0, 50000, 1, 4).selectExpr("id % 101 AS k", "id AS v")
    .write.parquet(s"$dir/in")
  private var runs = 0

  def runMs(): Double = {
    val out = s"$dir/out$runs"
    runs += 1
    val t0 = System.nanoTime()
    spark.read.parquet(s"$dir/in").where("v % 3 = 0").groupBy("k").agg(sum("v"))
      .write.parquet(out)
    val ms = (System.nanoTime() - t0) / 1e6
    Fixtures.deleteTree(new File(out).toPath)
    ms
  }
}
