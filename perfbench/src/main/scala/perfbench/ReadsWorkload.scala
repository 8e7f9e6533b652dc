package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.engine.Engine
import graft.model.TsdbLayout
import graft.query.QueryParser

/** `reads`: JSON statements against one indexed database, one
  * closed-loop caller, in whole passes of a fixed mix of kinds. Every
  * other op is a dashboard statement (a few hosts, minute-offset ranges
  * of 1 h to 2 days: the six reference kinds, an apply chain and
  * quantile); the rest are fleet-wide, whole-history analytics
  * statements (group-by-tag, group-aggregate-join, quantile, correlate,
  * gaps, anomaly; half day-aligned so the registered rollup or
  * histogram can serve) and a brute `{"knn"}` over a registered
  * embeddings table. No warm-up: each timed statement runs for the
  * first time, as a new dashboard statement does. */
final class ReadsWorkload(spark: SparkSession, seed: Long, runDir: String)
    extends Workload {
  val gen = Tsdb(seed, hosts = ReadsWorkload.Hosts, days = ReadsWorkload.Days,
    stepMin = ReadsWorkload.StepMin)
  val vecs = Vectors(seed, ReadsWorkload.VectorCount)
  private def dbDir(rep: Int) = s"$runDir/db$rep"
  private def vecDir(rep: Int) = s"$runDir/vectors$rep"
  private var vecBytes = 1L
  private var engine: Engine = _
  private var db: String = _
  private lazy val rows: DataFrame = gen.rowsDF(spark).cache()
  private var cycle: Seq[Stmt] = Nil
  /** Per traced op: the executed plan's scan roots, files and rows out. */
  private val scans = scala.collection.mutable.Map.empty[String, (Boolean, Long, Long)]

  def setup(rep: Int): Unit = {
    import spark.implicits._
    cycle = new Reads(gen, seed).cycle(rows, vecs)
    Fixtures.writeIndexedDatabase(spark, gen, dbDir(rep))
    // the embeddings table the knn statements search: stored vectors
    // and the query vectors planted next to them
    ((0 until vecs.n).map(i => (i.toLong, vecs.stored(i).toSeq)) ++
      (0 until vecs.n).map(q => (Vectors.QueryBase + q, vecs.query(q).toSeq)))
      .toDF("id", "embedding").coalesce(1).write.parquet(vecDir(rep))
    db = dbDir(rep)
    vecBytes = Fixtures.diskBytes(vecDir(rep))
    engine = new Engine(TsdbLayout.openDatabase(spark, db).copy(
      embeddings = Some(spark.read.parquet(vecDir(rep)))))
  }
  // a repetition costs about 8 s here; a third would make a run of this
  // workload about 15 % longer
  def setupReps: Int = 2
  def discard(rep: Int): Unit = Seq(dbDir(rep), vecDir(rep))
    .foreach(d => Fixtures.deleteTree(new java.io.File(d).toPath))

  def cycleLen: Int = cycle.size

  def op(i: Int, group: String, tracer: Option[Tracer]): OpRecord = {
    val s = cycle(math.floorMod(i, cycle.size))
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val got = tracer match {
      case None => Groups.tagged(sc, group)(engine.execute(s.json).collect())
      case Some(tr) => tr.span(s"op.${s.cls}") {
        val q = tr.span("query.parse")(QueryParser.parse(s.json))
        val df = Groups.tagged(sc, s"$group.build")(tr.span("engine.build")(engine.run(q)))
        tr.span("engine.plan")(df.queryExecution.executedPlan)
        val out = Groups.tagged(sc, s"$group.exec")(tr.span("engine.exec")(df.collect()))
        tr.span("bench.trace")(scans(group) = ReadsWorkload.scanFacts(df, out.length.toLong))
        out
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    OpRecord(s.kind, s.cls, ms, group, () => s.check(got))
  }

  def finalChecks(): Seq[Option[String]] = Nil

  def extraMetrics(records: Seq[OpRecord], timedS: Double,
      bytesWritten: Long): Seq[(String, Double, String)] =
    Seq("dashboard", "analytics", "pipeline").flatMap { c =>
      val ms = records.filter(_.cls == c).map(_.ms)
      if (ms.isEmpty) Nil
      else Seq((s"${c}_p50_ms", Pct.median(ms), "ms"), (s"${c}_ops", ms.size.toDouble, "count"))
    }

  def perLayer(ctx: LayerCtx): Map[String, Double] = {
    val traced = ctx.records
    val l = ctx.listener
    val byName = ctx.spans.groupBy(_.name)
    def selfMs(name: String) = byName.getOrElse(name, Nil).map(s => ctx.self(s.id) / 1e6)
    def medianMs(name: String) = { val xs = selfMs(name); if (xs.isEmpty) 0.0 else Pct.median(xs) }
    val n = traced.size.toDouble
    val build = l.sum(g => traced.exists(r => g == s"${GroupListener.TagPrefix}${r.group}.build"))
    val exec = l.sum(g => traced.exists(r => g == s"${GroupListener.TagPrefix}${r.group}.exec"))
    val execWallNs = byName.getOrElse("engine.exec", Nil).map(_.durNs).sum.toDouble
    val sc = traced.flatMap(r => scans.get(r.group))
    val rowsOut = sc.map(_._3).sum.toDouble
    val knn = traced.filter(_.kind == "knn")
    val knnIn = l.sum(g => knn.exists(r => g.startsWith(s"${GroupListener.TagPrefix}${r.group}."))).inBytes
    Map(
      "query.parse_ms" -> medianMs("query.parse"),
      "engine.build_ms" -> medianMs("engine.build"),
      "engine.build_jobs" -> build.jobs / n,
      "engine.plan_ms" -> medianMs("engine.plan"),
      "engine.exec_ms" -> medianMs("engine.exec"),
      "engine.jobs" -> exec.jobs / n,
      "engine.stages" -> exec.stages / n,
      "engine.tasks" -> exec.tasks / n,
      "engine.idle_frac" -> (1.0 - exec.runNs / (execWallNs * Fixtures.Cores)),
      "engine.input_bytes" -> (build.inBytes + exec.inBytes) / n,
      "engine.files_read" -> sc.map(_._2).sum / n,
      "engine.rows_in_per_row_out" -> (build.inRecords + exec.inRecords) / math.max(1.0, rowsOut),
      "engine.shuffle_read_bytes" -> (build.shuffleRead + exec.shuffleRead) / n,
      "engine.shuffle_write_bytes" -> (build.shuffleWrite + exec.shuffleWrite) / n,
      "engine.spill_bytes" -> (build.spill + exec.spill) / n,
      "engine.index_served_frac" -> sc.count(_._1) / n,
      "pipeline.knn_ms" -> (if (knn.isEmpty) 0.0 else Pct.median(knn.map(_.ms))),
      "pipeline.knn_read_frac" -> (if (knn.isEmpty) 0.0 else knnIn.toDouble / knn.size / vecBytes))
  }

  def spaceAmp(): Double = Fixtures.diskBytes(db).toDouble / gen.userBytes

  def close(): Unit = ()
}

object ReadsWorkload extends AdaptiveSparkPlanHelper {
  val Hosts = 24
  val Days = 7
  val StepMin = 15
  val VectorCount = 1000

  /** (reads an index, files read, rows out) from a collected frame's
    * executed plan: an op is index-served when some scan reads the
    * database's index catalog instead of the fact layout. */
  def scanFacts(df: DataFrame, rowsOut: Long): (Boolean, Long, Long) = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    val files = scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    (roots.exists(_.contains("/indexes/")), files, rowsOut)
  }
}
