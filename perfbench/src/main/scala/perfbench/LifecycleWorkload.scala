package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.Engine
import graft.model.{TsdbContext, TsdbLayout}
import graft.pipeline.CorpusStore
import graft.sources.OpenTsdb
import graft.streaming.TsdbStream

import Gen._

/** `lifecycle`: writes beside reads, through the program's storage
  * lifecycle. A fixed cycle of ops repeats, in whole passes:
  *
  *   - ingest: one day of OpenTSDB `put` lines handed to a stream
  *     (`OpenTsdb.parseLines` into `TsdbStream.namedLayoutIngest`, with
  *     `catalogIngest` beside it registering a trickle of never-seen
  *     hosts), then a fresh read (`Engine.open` plus a select over the
  *     batch's range) that must return every row of it;
  *   - at each day boundary, `compactL0` of the settled day and a
  *     `maintenanceTick` (which folds the catalog);
  *   - late corrections through `upsertSamples`;
  *   - curation: `{"dedup"}` statements served from a `CorpusStore`,
  *     an accepted document batch, and a store compaction.
  *
  * There is no warm-up: every op advances the stream or the store, and
  * the timed pass is each op kind's first use in the process. */
final class LifecycleWorkload(spark: SparkSession, seed: Long, runDir: String)
    extends Workload {
  import LifecycleWorkload._
  import spark.implicits._

  /** History written as the batch database; the stream continues it. */
  private val history = Tsdb(seed, Hosts, HistoryDays, StepMin, Metrics)
  private val stream = Tsdb(seed, Hosts, HistoryDays + 60, StepMin, Metrics)
  private val docs = Docs(seed, CorpusDocs)

  private final class State(val rep: Int) {
    val dir = s"$runDir/lc$rep"
    val db = s"$dir/db"
    val corpus = s"$dir/corpus"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    var queries: Seq[StreamingQuery] = Nil
    var curation: Engine = _
    var batches = 0
    var corrections = 0
    var docBatches = 0
    var dedupOps = 0
    val corrected = mutable.Map.empty[(Int, Long), Double]
    def stop(): Unit = queries.foreach(_.stop())
  }
  private var st: State = _

  def setup(rep: Int): Unit = {
    val s = new State(rep)
    // batch history (metrics only: this workload streams no events)
    TsdbLayout.writeDatabase(TsdbContext.fromWide(spark, history.rowsDF(spark),
      "metric", Seq("dc", "host"), "ts", "value"), s.db)
    // live ingest: the parsed put-line stream feeds the fact sink and
    // the registration sink
    val named = OpenTsdb.parseLines(s.input.toDF()).select("name", "ts", "value")
    s.queries = Seq(
      TsdbStream.namedLayoutIngest(named, s"${s.db}/samples_l0", s"${s.dir}/ckpt_facts"),
      TsdbStream.catalogIngest(named, s"${s.db}/catalog_l0", s"${s.dir}/ckpt_catalog"))
    // the curation store, and the candidate documents its dedup
    // statements probe
    CorpusStore.create(spark, s.corpus,
      (0 until CorpusDocs).map(i => (i.toLong, docs.corpusText(i))).toDF("id", "text"),
      "id", "text", k = 3, numPerm = 32, bands = 8)
    val candidates = (0 until Candidates).map(c =>
      (Docs.CandBase + c, docs.candText(c))).toDF("id", "text")
    s.curation = new Engine(TsdbLayout.openDatabase(spark, s.db).copy(
      documents = Some(candidates), corpusStore = Some(s.corpus)))
    st = s
  }

  def setupReps: Int = 3

  def discard(rep: Int): Unit = {
    st.stop()
    Fixtures.deleteTree(new java.io.File(st.dir).toPath)
  }

  def cycleLen: Int = Cycle.size

  // ---------------------------------------------------------------- ops

  private def batchRange(b: Int): (Long, Long) = {
    val from = T0 + HistoryDays * NsPerDay + b * BatchNs
    (from, from + BatchNs)
  }
  /** Never-seen hosts of batch `b`: registered only through the stream. */
  private def newHosts(b: Int): Seq[Int] = Seq(1000 + 2 * b, 1001 + 2 * b)
  private def newHostValue(h: Int, t: Long): Double =
    math.round(unit(Gen.hash(seed, 40, h, t)) * 100000.0) / 1000.0

  private def putLines(b: Int): Seq[String] = {
    val (from, to) = batchRange(b)
    val fleet = for (sd <- stream.series; (t, v) <- stream.samples(sd.idx, from, to))
      yield s"put ${sd.metric} ${t / 1000000000L} $v dc=dc${sd.dc} host=h${sd.host}"
    val fresh = for (h <- newHosts(b); t <- from until to by 3 * NsPerHour)
      yield s"put cpu ${t / 1000000000L} ${newHostValue(h, t)} dc=dc9 host=h$h"
    fleet ++ fresh
  }

  /** Every cpu row of batch `b`, as the fresh read must return them. */
  private def expectedCpu(b: Int): Seq[Vector[Any]] = {
    val (from, to) = batchRange(b)
    val fleet = for (h <- 0 until Hosts; sd = stream.seriesOf("cpu", h);
                     (t, v) <- stream.samples(sd.idx, from, to)) yield Vector[Any](sd.name, t, v)
    val fresh = for (h <- newHosts(b); t <- from until to by 3 * NsPerHour)
      yield Vector[Any](s"cpu dc=dc9 host=h$h", t, newHostValue(h, t))
    fleet ++ fresh
  }

  private def fsWritten[A](root: String, tr: Option[Tracer], name: String)(body: => A): A =
    tr match {
      case None => body
      case Some(t) =>
        val before = t.span("bench.trace")(Fixtures.listing(root))
        val out = body
        t.span("bench.trace") {
          val (f, b) = Fixtures.written(before, Fixtures.listing(root))
          val (n, ff, bb) = writes.getOrElse(name, (0L, 0L, 0L))
          writes(name) = (n + 1, ff + f, bb + b)
        }
        out
    }
  /** Per traced op class: (ops, files written, bytes written). */
  private val writes = mutable.Map.empty[String, (Long, Long, Long)]
  private val partitions = mutable.Map.empty[String, Long]
  private val triggerRows = mutable.ArrayBuffer.empty[Long]

  def op(i: Int, group: String, tracer: Option[Tracer]): OpRecord = {
    val s = st
    val kind = Cycle(math.floorMod(i, Cycle.size))
    val sc = spark.sparkContext
    def span[A](name: String)(a: => A): A = tracer.fold(a)(_.span(name)(a))
    def timed(cls: String)(body: => () => Option[String]): OpRecord = {
      val t0 = System.nanoTime()
      val check = Groups.tagged(sc, group)(span(s"op.$cls")(body))
      OpRecord(kind, cls, (System.nanoTime() - t0) / 1e6, group, check)
    }
    kind match {
      case "ingest" =>
        val b = s.batches; s.batches += 1
        val lines = putLines(b)
        submit(lines.size * 24L)
        timed("streaming") {
          def inputRows = span("bench.trace")(s.queries.head.recentProgress.map(_.numInputRows).sum)
          val rows0 = if (tracer.nonEmpty) inputRows else 0L
          fsWritten(s"${s.db}/samples_l0", tracer, "ingest") {
            span("streaming.trigger") {
              s.input.addData(lines)
              s.queries.foreach(_.processAllAvailable())
            }
          }
          if (tracer.nonEmpty) triggerRows += inputRows - rows0
          () => None
        }
      case "fresh" =>
        // a newly opened engine must serve the whole of the last batch
        val b = s.batches - 1
        val (from, to) = batchRange(b)
        timed("read") {
          val got = span("model.open")(Engine.open(spark, s.db))
          val rows = span("engine.exec")(got.execute(
            s"""{"select": "cpu", "range": {"from": "${iso(from)}", "to": "${iso(to)}"}}""").collect())
          () => Compare.rows(rows.toSeq.map(Compare.cells), expectedCpu(b))
        }
      case "compact" =>
        // every day the stream has delivered is settled
        val cutoff = batchRange(s.batches)._1
        timed("model") {
          val n = fsWritten(s.db, tracer, "model")(span("model.compact")(
            TsdbLayout.compactL0(spark, s.db, cutoff)))
          partitions("model") = partitions.getOrElse("model", 0L) + n
          () => None
        }
      case "tick" =>
        val cutoff = batchRange(s.batches)._1
        timed("model") {
          val rows = fsWritten(s.db, tracer, "model")(span("model.tick")(
            TsdbLayout.maintenanceTick(spark, s.db, cutoff).collect()))
          val m = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          () => if (m.getOrElse("stragglers_samples", 0L) != 0L)
            Some(s"tick reports stragglers: $m") else None
        }
      case "upsert" =>
        val c = s.corrections; s.corrections += 1
        val rng = new Rng(seed, 200 + c)
        val fixes = (0 until 20).map { _ =>
          val sd = history.series(rng.int(history.series.size))
          val t = T0 + rng.int((HistoryDays * NsPerDay / history.stepNs).toInt) * history.stepNs
          (sd.idx, t, 5000.0 + c + rng.int(1000) / 8.0)
        }.groupBy(x => (x._1, x._2)).values.map(_.head).toSeq
        fixes.foreach { case (sidx, t, v) => s.corrected((sidx, t)) = v }
        submit(fixes.size * 24L)
        val late = fixes.map { case (sidx, t, v) =>
          (xxhash(history.series(sidx).name), t, v) }.toDF("series_id", "ts", "value")
        timed("model") {
          val n = fsWritten(s.db, tracer, "model")(span("model.upsert")(
            TsdbLayout.upsertSamples(spark, s"${s.db}/samples", late,
              s.curation.ctx.series)))
          partitions("model") = partitions.getOrElse("model", 0L) + n
          () => None
        }
      case "dedup" =>
        val from = (s.dedupOps * DedupBatch) % Candidates; s.dedupOps += 1
        timed("pipeline") {
          val rows = span("pipeline.dedup")(s.curation.execute(
            s"""{"dedup": {"batch": "id >= ${Docs.CandBase + from} AND id < ${Docs.CandBase + from + DedupBatch}", "threshold": 0.8, "k": 3, "num-perm": 32, "bands": 8}}""").collect())
          () => checkDedup(rows, from)
        }
      case "accept-docs" =>
        val b = s.docBatches; s.docBatches += 1
        val batch = (0 until DocBatch).map(j =>
          (Docs.AcceptBase + b * DocBatch + j, docs.acceptText(b, j)))
        submit(batch.map(8L + _._2.length).sum)
        timed("pipeline") {
          fsWritten(s.corpus, tracer, "pipeline")(span("pipeline.accept")(
            CorpusStore.acceptBatch(spark, s.corpus, batch.toDF("id", "text"))))
          () => None
        }
      case "store-compact" =>
        timed("pipeline") {
          fsWritten(s.corpus, tracer, "pipeline")(span("pipeline.maintain") {
            CorpusStore.stageCompaction(spark, s.corpus)
            CorpusStore.heal(spark, s.corpus)
          })
          () => None
        }
    }
  }

  private def xxhash(name: String): Long =
    Seq(name).toDF("n").select(xxhash64(col("n"))).head().getLong(0)

  private def checkDedup(rows: Array[Row], from: Int): Option[String] = {
    val got = rows.map(r => r.getAs[Long]("id") -> r).toMap
    (from until from + DedupBatch).collectFirst(Function.unlift { c =>
      val id = Docs.CandBase + c
      got.get(id) match {
        case None => Some(s"dedup: no row for $id")
        case Some(r) =>
          val status = r.getAs[String]("status")
          val src = docs.candSource(c)
          docs.candKind(c) match {
            case 0 if status != "exact" || r.getAs[Any]("exact_dup_of") != src =>
              Some(s"dedup: $id is an exact copy of $src, got $r")
            case 1 if status != "near" || r.getAs[Any]("near_dup_of") != src =>
              Some(s"dedup: $id is a near copy of $src, got $r")
            case 2 if status != "new" => Some(s"dedup: $id is new, got $r")
            case _ => None
          }
      }
    }).orElse(if (got.size != DedupBatch) Some(s"dedup: ${got.size} rows for $DedupBatch docs") else None)
  }

  def finalChecks(): Seq[Option[String]] = {
    val s = st
    val engine = Engine.open(spark, s.db)
    // every streamed batch landed exactly once, across compaction
    val (from, _) = batchRange(0)
    val (_, to) = batchRange(s.batches - 1)
    val streamed = engine.ctx.samples.where(col("ts") >= from && col("ts") < to)
    val n = streamed.count()
    val distinct = streamed.select("series_id", "ts").distinct().count()
    val want = (0 until s.batches).map(b => putLines(b).size.toLong).sum
    val landed = if (n != want || distinct != n)
      Some(s"streamed rows: $n ($distinct distinct), expected $want") else None
    // corrections replaced exactly the named samples
    val fixedSeries = s.corrected.keys.map(_._1).toSeq.distinct
    val upserts = if (fixedSeries.isEmpty) None else {
      val names = fixedSeries.map(history.series(_).name).toSet
      val got = engine.ctx.samples.where(col("ts") < T0 + HistoryDays * NsPerDay)
        .join(engine.ctx.series.where(col("name").isin(names.toSeq: _*)), "series_id")
        .select("name", "ts", "value").collect().toSeq.map(Compare.cells)
      val want = for (sidx <- fixedSeries; sd = history.series(sidx);
                      (t, v) <- history.samples(sidx, T0, T0 + HistoryDays * NsPerDay))
        yield Vector[Any](sd.name, t, s.corrected.getOrElse((sidx, t), v))
      Compare.rows(got, want).map("upserted series: " + _)
    }
    val docsN = CorpusStore.readDocs(spark, s.corpus).count()
    Seq(landed, upserts,
      if (docsN != CorpusDocs + s.docBatches * DocBatch) Some(s"corpus holds $docsN docs") else None)
  }

  def extraMetrics(records: Seq[OpRecord], timedS: Double,
      bytesWritten: Long): Seq[(String, Double, String)] = {
    val ingest = records.filter(_.kind == "ingest")
    // freshness: from handing a batch to the stream until the read over
    // its range has returned every row (the ingest op plus the fresh read)
    val fresh = records.sliding(2).collect {
      case Seq(a, b) if a.kind == "ingest" && b.kind == "fresh" => a.ms + b.ms
    }.toSeq
    Seq(
      ("ingest_rows_per_s", ingest.size * putLines(0).size / timedS, "rows/s"),
      ("fresh_p50_ms", if (fresh.isEmpty) 0.0 else Pct.median(fresh), "ms"),
      ("write_amp", bytesWritten / math.max(1.0, submitted.toDouble), "ratio"))
  }
  /** Logical bytes of user data handed to the program by timed ops. */
  private var submitted = 0L
  private def submit(bytes: Long): Unit = submitted += bytes

  def perLayer(ctx: LayerCtx): Map[String, Double] = {
    val traced = ctx.records
    val byName = ctx.spans.groupBy(_.name)
    def medianMs(name: String) = {
      val xs = byName.getOrElse(name, Nil).map(sp => ctx.self(sp.id) / 1e6)
      if (xs.isEmpty) 0.0 else Pct.median(xs)
    }
    def jobsPer(cls: String) = {
      val rs = traced.filter(_.cls == cls)
      if (rs.isEmpty) 0.0
      else ctx.listener.sum(g => rs.exists(r => g == GroupListener.TagPrefix + r.group)).jobs / rs.size.toDouble
    }
    def perOp(k: String, f: ((Long, Long, Long)) => Long) =
      writes.get(k).map(w => f(w).toDouble / w._1).getOrElse(0.0)
    val ingestFiles = perOp("ingest", _._2)
    Map(
      "engine.exec_ms" -> medianMs("engine.exec"),
      "model.open_ms" -> medianMs("model.open"),
      "model.compact_ms" -> medianMs("model.compact"),
      "model.tick_ms" -> medianMs("model.tick"),
      "model.upsert_ms" -> medianMs("model.upsert"),
      "model.jobs" -> jobsPer("model"),
      "model.files_written" -> perOp("model", _._2),
      "model.bytes_written" -> perOp("model", _._3),
      "model.partitions_rewritten" -> partitions.getOrElse("model", 0L).toDouble /
        math.max(1, traced.count(_.cls == "model")),
      "streaming.trigger_ms" -> medianMs("streaming.trigger"),
      "streaming.rows_per_trigger" -> (if (triggerRows.isEmpty) 0.0 else triggerRows.sum.toDouble / triggerRows.size),
      "streaming.files_per_trigger" -> ingestFiles,
      "pipeline.accept_ms" -> medianMs("pipeline.accept"),
      "pipeline.maintain_ms" -> medianMs("pipeline.maintain"),
      "pipeline.jobs" -> jobsPer("pipeline"),
      "pipeline.files_written" -> perOp("pipeline", _._2),
      "pipeline.bytes_written" -> perOp("pipeline", _._3),
      "pipeline.dedup_ms" -> medianMs("pipeline.dedup"))
  }

  def spaceAmp(): Double = {
    val user = (history.sampleCount + st.batches * putLines(0).size) * 24.0 +
      (CorpusDocs + st.docBatches * DocBatch) * (8.0 + docs.words * 6)
    (Fixtures.diskBytes(st.db) + Fixtures.diskBytes(st.corpus)) / user
  }

  def close(): Unit = if (st != null) st.stop()
}

object LifecycleWorkload {
  val Hosts = 12
  val HistoryDays = 1
  val StepMin = 10
  val Metrics: Seq[String] = Seq("cpu", "mem", "temp")
  /** One stream batch is one day, so every pass settles a day. */
  val BatchNs: Long = NsPerDay
  val CorpusDocs = 300
  val Candidates = 120
  val DedupBatch = 30
  val DocBatch = 40

  /** One pass: a day of stream with its fresh read, corrections, the
    * day-boundary maintenance, and the curation work. */
  val Cycle: Seq[String] = Seq(
    "ingest", "fresh", "dedup", "upsert", "accept-docs", "compact", "tick",
    "store-compact")
}
