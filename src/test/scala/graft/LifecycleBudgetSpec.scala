package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.model.{TsdbContext, TsdbLayout}
import graft.pipeline.CorpusStore
import graft.streaming.TsdbStream

/** Counter budgets of the lifecycle ops: an upper bound on the Spark
  * jobs each op submits on a tiny fixture. Job counts are noise-free,
  * so a change that makes an op re-derive what it already holds fails
  * here instead of hiding in wall-clock noise. Each bound is the count
  * measured when it was set; raise one only with a CHANGES.md note. */
class LifecycleBudgetSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val h = 3600L * 1000000000L
  private val day = 24 * h

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def text(i: Long): String =
    (0 until 20).map(w => s"w${(i * 13 + w * 7) % 101}_${w % 5}").mkString(" ")

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, text(i))).toDF("id", "text")

  /** A database with one day of batch history (hosts a-c) and one
    * streamed day in its ingest tier (hosts a-d; d is new). */
  private def liveDatabase(): String = {
    val db = tmp("graft_budget_db")
    val history = for (host <- Seq("a", "b", "c"); i <- 0 until 24)
      yield (host, i * h, i / 4.0)
    TsdbLayout.writeDatabase(TsdbContext.fromWide(spark,
      history.toDF("host", "ts", "value").withColumn("metric", lit("cpu")),
      "metric", Seq("host"), "ts", "value"), db)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val named = in.toDF().toDF("name", "ts", "value")
    val qF = TsdbStream.namedLayoutIngest(named, s"$db/samples_l0", s"$db/f_ckpt")
    val qC = TsdbStream.catalogIngest(named, s"$db/catalog_l0", s"$db/c_ckpt")
    try {
      in.addData(for (host <- Seq("a", "b", "c", "d"); i <- 24 until 48)
        yield (s"cpu host=$host", i * h, i / 4.0))
      qF.processAllAvailable(); qC.processAllAvailable()
    } finally { qF.stop(); qC.stop() }
    db
  }

  test("budget: CorpusStore.acceptBatch admits its batch once (at most 7 jobs)") {
    val dir = tmp("graft_budget_accept")
    CorpusStore.create(spark, dir, docs(1L to 30L), "id", "text")
    // ids 25-30 are already held: they drop, the other 10 land
    val jobs = jobsOf(CorpusStore.acceptBatch(spark, dir, docs(25L to 40L)))
    assert(jobs <= 7L, s"acceptBatch ran $jobs jobs")
    assert(CorpusStore.readDocs(spark, dir).count() === 40L)
  }

  test("budget: CorpusStore.probeBatch(...).collect() (at most 8 jobs)") {
    val dir = tmp("graft_budget_probe")
    CorpusStore.create(spark, dir, docs(1L to 30L), "id", "text")
    val batch = docs(Seq(3L, 4L, 50L)).unionByName(
      Seq((51L, text(5L).replace("w", "v"))).toDF("id", "text"))
    var rows = 0
    val jobs = jobsOf {
      rows = CorpusStore.probeBatch(spark, dir, batch).collect().length
    }
    ScopedCache.release()
    assert(jobs <= 8L, s"probeBatch ran $jobs jobs")
    assert(rows === 4)
  }

  test("budget: TsdbLayout.upsertSamples derives its late batch once (at most 8 jobs)") {
    val db = tmp("graft_budget_upsert")
    val rows = for (host <- Seq("a", "b"); i <- 0 until 48)
      yield (host, i * h, i.toDouble)
    val ctx = TsdbContext.fromWide(spark,
      rows.toDF("host", "ts", "value").withColumn("metric", lit("cpu")),
      "metric", Seq("host"), "ts", "value")
    TsdbLayout.writeSamples(ctx, s"$db/samples")
    val ids = ctx.series.select("series_id").as[Long].collect().sorted
    // a duplicated late key resolves by max value
    val late = Seq((ids(0), 3 * h, 100.0), (ids(0), 3 * h, 200.0),
      (ids(1), 30 * h, 300.0)).toDF("series_id", "ts", "value")
    var n = 0
    val jobs = jobsOf {
      n = TsdbLayout.upsertSamples(spark, s"$db/samples", late, ctx.series)
    }
    assert(jobs <= 8L, s"upsertSamples ran $jobs jobs")
    assert(n === 2, "two (metric, day) partitions rewritten")
    val got = TsdbLayout.readSamples(spark, s"$db/samples")
      .where(col("series_id") === ids(0) && col("ts") === 3 * h)
      .select("value").as[Double].collect().toSeq
    assert(got === Seq(200.0))
  }

  test("budget: maintenanceTick after the day's compaction (at most 9 jobs), and Engine.open plus its first select (at most 4)") {
    val db = liveDatabase()
    TsdbLayout.compactL0(spark, db, 2 * day)
    var summary: Map[String, Long] = Map.empty
    val tickJobs = jobsOf {
      summary = TsdbLayout.maintenanceTick(spark, db, 2 * day).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(tickJobs <= 9L, s"maintenanceTick ran $tickJobs jobs")
    assert(summary("fold_catalog") === 1L, "host d registered")
    assert(summary("stragglers_samples") === 0L &&
      summary("stragglers_events") === 0L)

    var n = 0
    val openJobs = jobsOf {
      n = Engine.open(spark, db).execute(
        """{"select": "cpu", "range": {"from": "19700102T000000",
           "to": "19700103T000000"}}""").collect().length
    }
    assert(openJobs <= 4L, s"Engine.open plus a select ran $openJobs jobs")
    assert(n === 4 * 24)
  }
}
