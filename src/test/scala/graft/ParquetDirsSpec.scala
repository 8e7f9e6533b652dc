package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.engine.Rollup
import graft.model.{IndexCatalog, ParquetDirs, TsdbContext, TsdbLayout}
import graft.pipeline.CorpusStore
import graft.streaming.TsdbStream

/** Driver-side schema resolution ([[graft.model.ParquetDirs]]): every
  * directory form the program writes reads with exactly the schema
  * Spark's own inference gives it, and opening a database or building
  * a store probe submits no Spark job. */
class ParquetDirsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private val h = 3600L * 1000000000L

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The helper's frame has Spark's inferred schema: names, types,
    * nullability and column order, partition columns included. */
  private def assertSameSchema(dir: String): Unit =
    assert(ParquetDirs.read(spark, dir).schema ===
      spark.read.parquet(dir).schema, dir)

  private def ctxOf(rows: Seq[(String, Long, Double)]): TsdbContext =
    TsdbContext.fromWide(spark,
      rows.toDF("user", "ts", "value").withColumn("metric", lit("m")),
      "metric", Seq("user"), "ts", "value")

  /** A two-tier database: a batch tier for days 0-1 and live samples
    * and catalog sink roots holding days 2-3, series y only streamed. */
  private def liveDatabase(): String = {
    val db = tmp("graft_pqdirs_live")
    TsdbLayout.writeDatabase(
      ctxOf((0 until 48).map(i => ("x", i * h, i / 3.0))), db)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val named = in.toDF().toDF("name", "ts", "value")
    val qF = TsdbStream.namedLayoutIngest(named, s"$db/samples_l0", s"$db/f_ckpt")
    val qC = TsdbStream.catalogIngest(named, s"$db/catalog_l0", s"$db/c_ckpt")
    try {
      in.addData((48 until 96).flatMap(i =>
        Seq(("m user=x", i * h, i / 3.0), ("m user=y", i * h, 2.0 * i))): _*)
      qF.processAllAvailable(); qC.processAllAvailable()
    } finally { qF.stop(); qC.stop() }
    db
  }

  test("every database directory form reads with Spark's inferred schema; ts_day stays path-inferred") {
    val full = TsdbContext.fromTestdata(spark, SparkTestBase.Sf0001)
    val db = tmp("graft_pqdirs_db")
    TsdbLayout.writeDatabase(full.copy(
      rollups = Seq(h -> Rollup.build(full.samples, h))), db)
    assertSameSchema(s"$db/samples") // laid-out samples batch
    assertSameSchema(s"$db/events") // laid-out events batch
    assertSameSchema(s"$db/series") // the catalog
    // one index frame, through the manifest's own path
    val idx = IndexCatalog.describe(s"$db/indexes").head
    assertSameSchema(s"$db/indexes/${idx.path}")
    assert(ParquetDirs.read(spark, s"$db/samples").schema("ts_day").dataType
      === IntegerType, "ts_day keeps its directory-inferred type")

    // the events batch in its flat EMPTY form
    val flat = tmp("graft_pqdirs_flat")
    TsdbLayout.writeDatabase(full.copy(events = full.events.limit(0)), flat)
    assert(!spark.read.parquet(s"$flat/events").columns.contains("ts_day"))
    assertSameSchema(s"$flat/events")
  }

  test("sink roots: the committed files decide the schema; no commit stays Spark's 'Unable to infer schema'") {
    val db = liveDatabase()
    assertSameSchema(s"$db/samples_l0")
    assertSameSchema(s"$db/catalog_l0")

    // a stray uncommitted file with another schema, sorting before
    // every committed one: Spark reads the root through its log, so
    // the stray file must not decide the schema either
    val stray = tmp("graft_pqdirs_stray")
    Seq(1L).toDF("stray").coalesce(1).write.mode("overwrite").parquet(stray)
    val part = new java.io.File(stray).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(db, "samples_l0", "a_stray.parquet"))
    assertSameSchema(s"$db/samples_l0")
    assert(!ParquetDirs.read(spark, s"$db/samples_l0").columns
      .contains("stray"))

    // a root with only its _spark_metadata log: no schema, and the
    // read fails exactly as Spark's own does, so the two-tier read
    // still sees "no tier"
    val empty = tmp("graft_pqdirs_empty_sink")
    new java.io.File(s"$empty/_spark_metadata").mkdirs()
    assert(ParquetDirs.schemaOf(spark, empty).isEmpty)
    val e = intercept[AnalysisException](ParquetDirs.read(spark, empty))
    assert(e.getMessage.contains("Unable to infer schema"), e.getMessage)
    val db2 = tmp("graft_pqdirs_db2")
    val rows = (0 until 24).map(i => ("x", i * h, i.toDouble))
    TsdbLayout.writeDatabase(ctxOf(rows), db2)
    new java.io.File(s"$db2/samples_l0/_spark_metadata").mkdirs()
    assert(TsdbLayout.openDatabase(spark, db2).samples.count() === 24L)
  }

  test("pipeline store directories: __batch partitions and staged p/t/c records read with Spark's inferred schema") {
    val dir = tmp("graft_pqdirs_corpus")
    def docs(ids: Seq[Long]) =
      ids.map(i => (i, s"w$i w${i % 3} w${i % 5} w${i % 7}")).toDF("doc_id", "text")
    CorpusStore.create(spark, dir, docs(1L to 20L), "doc_id", "text")
    CorpusStore.acceptBatch(spark, dir, docs(21L to 30L))
    Seq("docs", "indexes/hashes", "indexes/bands")
      .foreach(s => assertSameSchema(s"$dir/$s"))
    CorpusStore.stageBatch(spark, dir, docs(31L to 35L))
    CorpusStore.stageTakedown(spark, dir, Seq(3L))
    CorpusStore.stageCompaction(spark, dir)
    val staged = new java.io.File(s"$dir/${CorpusStore.PendingSub}")
      .listFiles().filter(_.isDirectory).map(_.getName)
      .filterNot(_.startsWith(".")).sortBy(_.split("_")(1)).toSeq
    assert(staged.map(_.take(2)) === Seq("p_", "t_", "c_"))
    staged.foreach(n => assertSameSchema(s"$dir/${CorpusStore.PendingSub}/$n"))
  }

  test("job budget: opening a live two-tier database and building a store probe submit no Spark job") {
    val db = liveDatabase()
    var opened: TsdbContext = null
    assert(jobsOf { opened = TsdbLayout.openDatabase(spark, db) } === 0L)
    assert(opened.series.count() === 2L, "the stream-registered series is in")

    // sink roots that hold only their _spark_metadata log (a sink
    // started, nothing committed): the open decides "no tier" from the
    // log on the driver and returns the batch-tier view
    val uncommitted = tmp("graft_pqdirs_uncommitted")
    TsdbLayout.writeDatabase(
      ctxOf((0 until 24).map(i => ("x", i * h, i.toDouble))), uncommitted)
    Seq("samples_l0", "catalog_l0").foreach(root =>
      new java.io.File(s"$uncommitted/$root/_spark_metadata").mkdirs())
    assert(jobsOf {
      opened = TsdbLayout.openDatabase(spark, uncommitted)
    } === 0L)
    assert(opened.samples.count() === 24L && opened.series.count() === 1L,
      "the batch tier alone")

    val dir = tmp("graft_pqdirs_probe")
    val docs = (1L to 20L).map(i => (i, s"w$i w${i % 3} w${i % 5}"))
      .toDF("doc_id", "text")
    CorpusStore.create(spark, dir, docs, "doc_id", "text")
    assert(jobsOf {
      CorpusStore.probeBatch(spark, dir, docs.limit(3))
    } === 0L)
  }
}
