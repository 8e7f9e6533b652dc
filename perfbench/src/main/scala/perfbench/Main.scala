package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed call of a workload's mix. `check` runs after the timed
  * phase and returns a mismatch, if any. */
final case class OpRecord(kind: String, cls: String, ms: Double,
    group: String, check: () => Option[String])

/** What a workload hands the runner. */
trait Workload {
  /** Builds every input and fixture, in a fresh directory per call. */
  def setup(rep: Int): Unit
  /** Set-up repetitions per run; `setup_s` is their median. */
  def setupReps: Int
  /** Drops the fixture of an earlier set-up repetition. */
  def discard(rep: Int): Unit
  /** Runs the `i`-th op; `group` tags its Spark jobs. */
  def op(i: Int, group: String, tracer: Option[Tracer]): OpRecord
  /** End-of-run checks that are not tied to one op. */
  def finalChecks(): Seq[Option[String]]
  /** Ops per pass over the workload's mix. */
  def cycleLen: Int
  /** Metrics only this workload has, as (name, value, unit);
    * `bytesWritten` is what Spark tasks wrote during the timed phase. */
  def extraMetrics(records: Seq[OpRecord], timedS: Double,
      bytesWritten: Long): Seq[(String, Double, String)]
  def perLayer(ctx: LayerCtx): Map[String, Double]
  def spaceAmp(): Double
  def close(): Unit
}

/** What the per-layer computation of a traced run sees. */
final case class LayerCtx(records: Seq[OpRecord], spans: Seq[Span],
    self: Map[Int, Long], listener: GroupListener)

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, runDir: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("run-dir"))
  }

  /** Reference runs before timing, so the first one timed is warm. */
  val ReferenceWarmup = 3

  def main(argv: Array[String]): Unit = {
    val processStart = System.nanoTime()
    val args = parse(argv)
    val runDir = args.runDir
    new File(runDir).mkdirs()
    val spark = Fixtures.session(runDir)
    val listener = GroupListener.install(spark.sparkContext)
    val wl: Workload = args.workload match {
      case "reads" => new ReadsWorkload(spark, args.seed, runDir)
      case "lifecycle" => new LifecycleWorkload(spark, args.seed, runDir)
      case other => sys.error(s"unknown workload $other")
    }
    try run(spark, listener, wl, args, runDir, processStart)
    finally { wl.close(); spark.stop() }
  }

  private def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.toDouble).sum

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(spark: SparkSession, listener: GroupListener, wl: Workload,
      args: Args, runDir: String, processStart: Long): Unit = {
    val sparkStartS = (System.nanoTime() - processStart) / 1e9
    // set-up, repeated: each repetition builds every input and fixture
    // from scratch in its own directory
    val reps = (0 until wl.setupReps).map { rep =>
      if (rep > 0) wl.discard(rep - 1)
      val t0 = System.nanoTime()
      Groups.tagged(spark.sparkContext, s"setup$rep")(wl.setup(rep))
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = Pct.median(reps)
    val reference = Groups.tagged(spark.sparkContext, "reference") {
      new Reference(spark, s"$runDir/reference")
    }
    def runReference(): Double =
      Groups.tagged(spark.sparkContext, "reference")(reference.runMs())

    // timed phase: one closed-loop caller until the deadline, and on to
    // the end of the pass, so every run times whole passes of the mix;
    // the reference job runs before the first op and after every op
    val tracer = if (args.trace) Some(new Tracer) else None
    val records = ArrayBuffer.empty[OpRecord]
    val refMs = ArrayBuffer.empty[Double]
    (1 until ReferenceWarmup).foreach(_ => runReference())
    val refBefore = runReference()
    GroupListener.drain(spark.sparkContext)
    val out0 = listener.sum(_ => true).outBytes
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || i % wl.cycleLen != 0) {
      val t = System.nanoTime()
      records += (try wl.op(i, s"op$i", tracer) catch {
        case e: Exception =>
          OpRecord("threw", "", (System.nanoTime() - t) / 1e6, s"op$i",
            () => Some(e.toString))
      })
      refMs += runReference()
      i += 1
    }
    // the reference jobs run between ops; their time is not the ops'
    val timedS = (System.nanoTime() - t0) / 1e9 - refMs.sum / 1e3
    val gcTimed = gcMs() - gc0
    GroupListener.drain(spark.sparkContext)
    val outTimed = listener.sum(_ => true).outBytes - out0

    val c0 = System.nanoTime()
    val finals = wl.finalChecks()
    val problems = records.map(r => r.check().map(m => s"${r.kind}#${r.group}: $m")) ++ finals
    val checkMs = (System.nanoTime() - c0) / 1e6
    val failures = problems.flatten
    failures.take(10).foreach(f => System.err.println(s"CHECK FAILED $f"))

    val lat = records.map(_.ms).toSeq
    val n = lat.size
    val facts = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "master" -> spark.sparkContext.master,
      "spark.default.parallelism" -> spark.sparkContext.defaultParallelism.toString,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "seed" -> args.seed.toString,
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "source_sha256" -> sys.env.getOrElse("PERFBENCH_SOURCE", "unknown"))
    val refP50 = Pct.median(refMs.toSeq)
    // the gated end-to-end metrics (BENCHMARK.json); latency is gated in
    // units of the reference job, which a host's drift moves equally:
    // each op against the mean of the reference runs just before and
    // just after it, then the geometric mean over the ops, so that no
    // single op kind outweighs the rest
    val refAround = (refBefore +: refMs).sliding(2).map(w => (w(0) + w(1)) / 2).toSeq
    val opRef = lat.zip(refAround).map { case (ms, ref) => ms / ref }
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_gmean_ref", math.exp(opRef.map(math.log).sum / n), "ref"),
      ("space_amp", wl.spaceAmp(), "ratio"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    val extra = Seq(
      ("ops_per_s", n / timedS, "1/s"),
      ("op_p50_ms", Pct.median(lat), "ms"),
      ("op_p90_ms", Pct.of(lat, 0.9), "ms"),
      ("op_p90_beyond", Pct.beyond(lat, 0.9).toDouble, "count"),
      ("op_mean_ms", lat.sum / n, "ms"),
      ("op_mean_ref", lat.sum / n / refP50, "ref"),
      ("op_p50_ref", Pct.median(lat) / refP50, "ref"),
      ("ref_ms", refP50, "ms"),
      ("error_rate", failures.size.toDouble / (n + finals.size), "ratio"),
      ("ops_timed", n.toDouble, "count"),
      ("spark_start_s", sparkStartS, "s"),
      ("timed_s", timedS, "s")) ++
      reps.zipWithIndex.map { case (s, k) => (s"setup_rep${k}_s", s, "s") } ++
      records.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
        (s"$k.p50_ms", Pct.median(rs.map(_.ms).toSeq), "ms") } ++
      wl.extraMetrics(records.toSeq, timedS, outTimed)

    val spans = tracer.map(_.all).getOrElse(Nil)
    val self = Tracer.selfTimes(spans)
    val pw = new PrintWriter(s"$runDir/spans.jsonl")
    try spans.foreach(s => pw.println(Tracer.toJson(s, self(s.id)))) finally pw.close()

    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def metricJson(ms: Seq[(String, Double, String)]) = ms.map { case (k, v, u) =>
      s"${js(k)}: {${js("value")}: $v, ${js("unit")}: ${js(u)}}" }.mkString("{", ", ", "}")
    val report = s"""{"workload": ${js(args.workload)}, "host": ${facts.map { case (k, v) => s"${js(k)}: ${js(v)}" }.mkString("{", ", ", "}")}, "end_to_end": ${metricJson(e2e ++ extra)}}"""
    println(s"REPORT $report")
    val metrics =
      if (!args.trace) e2e
      else {
        val layer = wl.perLayer(LayerCtx(records.toSeq, spans, self, listener)) ++ Map(
          "jvm.gc_ms" -> gcTimed,
          "bench.check_ms" -> checkMs,
          "bench.trace_overhead_frac" -> traceOverhead(spans))
        Main.PerLayer.map(k => (k._1, layer.getOrElse(k._1, 0.0), k._2))
      }
    println(s"""{"correct": ${failures.isEmpty}, "attempted": ${records.size}, "failed": ${failures.size}, "metrics": ${metricJson(metrics)}}""")
  }

  /** The share of traced op time spent in the benchmark's own tracing
    * work (file listings, plan walks, progress reads), which runs inside
    * `bench.trace` spans. */
  def traceOverhead(spans: Seq[Span]): Double = {
    val ops = spans.filter(_.parent == -1).map(_.durNs).sum
    if (ops == 0) 0.0
    else spans.filter(_.name == "bench.trace").map(_.durNs).sum.toDouble / ops
  }

  /** Every per-layer metric, with its unit, in report order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "query.parse_ms" -> "ms", "engine.build_ms" -> "ms", "engine.build_jobs" -> "count",
    "engine.plan_ms" -> "ms", "engine.exec_ms" -> "ms", "engine.jobs" -> "count",
    "engine.stages" -> "count", "engine.tasks" -> "count", "engine.idle_frac" -> "ratio",
    "engine.input_bytes" -> "bytes", "engine.files_read" -> "count",
    "engine.rows_in_per_row_out" -> "ratio", "engine.shuffle_read_bytes" -> "bytes",
    "engine.shuffle_write_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
    "engine.index_served_frac" -> "ratio",
    "model.open_ms" -> "ms", "model.compact_ms" -> "ms", "model.tick_ms" -> "ms",
    "model.upsert_ms" -> "ms", "model.jobs" -> "count", "model.files_written" -> "count",
    "model.bytes_written" -> "bytes", "model.partitions_rewritten" -> "count",
    "streaming.trigger_ms" -> "ms", "streaming.rows_per_trigger" -> "count",
    "streaming.files_per_trigger" -> "count",
    "pipeline.accept_ms" -> "ms", "pipeline.maintain_ms" -> "ms", "pipeline.jobs" -> "count",
    "pipeline.files_written" -> "count", "pipeline.bytes_written" -> "bytes",
    "pipeline.dedup_ms" -> "ms", "pipeline.knn_ms" -> "ms", "pipeline.knn_read_frac" -> "ratio",
    "jvm.gc_ms" -> "ms", "bench.check_ms" -> "ms", "bench.trace_overhead_frac" -> "ratio")
}
