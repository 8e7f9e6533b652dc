package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measure the L0/compaction lifecycle's scaling in DAYS HELD, the
  * axis the series-replica probe (ScaleReplica events mode) does not
  * grow: compactL0's claimed-day list, its per-day recovery equality
  * check, l0Stragglers' day-pruned anti-join and the two-tier union
  * read all carry per-day driver lists and (metric, day) predicate
  * disjuncts, so a superlinearity in day count would hide from a
  * probe that only multiplies series.
  *
  * Per requested day count D, this builds a fresh database whose batch
  * tier owns day 0 and whose L0 tier holds days 1..D-1 delivered
  * through a REAL layoutIngest stream (rows per day constant across D
  * — testdata's January replicated with k·30-day time shifts), then
  * walls the lifecycle: compact HALF the days, poll l0Stragglers over
  * the compacted residue (the standing alert's steady-state cost),
  * compact the REST, and run one ranged select straddling the tier
  * boundary through openDatabase. Emits one PROBE line per step.
  *
  * `--events` probes the LOG half instead: the identical walls over
  * eventsIngest / compactL0 / l0Stragglers (events tier) /
  * select-events — the shared tier protocol carries the WIDE `props`
  * body through every rewrite there, so the day axis must be measured
  * on both halves, not inferred from one.
  *
  * Usage: runMain graft.tools.L0DayProbe <sfDir> [--events] <days> ...
  * (dev tool; /tmp scratch, read-only source untouched)
  */
object L0DayProbe {

  private val DayNs = graft.time.TimeUtil.NsPerDay

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val eventsMode = args.contains("--events")
    val dayCounts = args.drop(1).filterNot(_.startsWith("--"))
      .map(_.toInt).toSeq
    require(dayCounts.nonEmpty, "give at least one day count")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.model.TsdbContext.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sEnc: org.apache.spark.sql.Encoder[(Long, Long, Double, String)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, Double, String)]
    implicit val eEnc: org.apache.spark.sql.Encoder[(Long, Long, String, String)] =
      org.apache.spark.sql.Encoders.product[(Long, Long, String, String)]
    implicit val sqlCtx = spark.sqlContext

    val ctx = graft.model.TsdbContext.fromTestdata(spark, sfDir)
    val half = if (eventsMode) "events" else "samples"
    // one January of keyed rows of the probed half, rebased so day
    // numbering starts at 0 (events carry the wide props body — the
    // log half's distinguishing per-row cost)
    val facts = if (eventsMode) ctx.events else ctx.samples
    val payload = if (eventsMode) "body" else "value"
    val base = facts
      .join(ctx.series.select(col("series_id"), col("metric")), "series_id")
      .select(col("series_id"),
        (col("ts") - lit(graft.entries.EntryUtil.FromNs)).as("ts"),
        col(payload), col("metric"))
      .where(col("ts") >= 0 && col("ts") < 30 * DayNs)
      .cache()
    val perDay = base.count() / 30

    def wall[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    for (days <- dayCounts) {
      val copies = (days + 29) / 30
      val extended = (0 until copies).map { k =>
        base.withColumn("ts", col("ts") + lit(k.toLong * 30 * DayNs))
      }.reduce(_ unionByName _)
        .where(col("ts") < days.toLong * DayNs)
      val db = java.nio.file.Files
        .createTempDirectory(s"graft_l0probe_${half}_$days").toString
      // batch tier owns day 0; L0 gets days 1..D-1 through a real sink
      val day0 = extended.where(col("ts") < DayNs)
        .select("series_id", "ts", payload)
      graft.model.TsdbLayout.writeDatabase(
        if (eventsMode) ctx.copy(events = day0,
          samples = ctx.samples.where(
            col("ts") < graft.entries.EntryUtil.FromNs + DayNs))
        else ctx.copy(samples = day0), db)
      val liveRows = extended.where(col("ts") >= DayNs)
        .orderBy("ts", "series_id").collect()
      val nLive = liveRows.length
      val (_, tIngest) =
        if (eventsMode) {
          val rows = liveRows
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
            .toSeq
          val in = MemoryStream[(Long, Long, String, String)]
          val q = graft.streaming.TsdbStream.eventsIngest(
            in.toDF().toDF("series_id", "ts", "body", "metric"),
            s"$db/events_l0", s"$db/ev_ingest_ckpt")
          wall {
            try rows.grouped(math.max(1, rows.length / 5 + 1)).foreach { c =>
              in.addData(c); q.processAllAvailable()
            } finally q.stop()
          }
        } else {
          val rows = liveRows
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
            .toSeq
          val in = MemoryStream[(Long, Long, Double, String)]
          val q = graft.streaming.TsdbStream.layoutIngest(
            in.toDF().toDF("series_id", "ts", "value", "metric"),
            s"$db/samples_l0", s"$db/ingest_ckpt")
          wall {
            try rows.grouped(math.max(1, rows.length / 5 + 1)).foreach { c =>
              in.addData(c); q.processAllAvailable()
            } finally q.stop()
          }
        }
      val tier =
        if (eventsMode) graft.model.TsdbLayout.Tier.Events
        else graft.model.TsdbLayout.Tier.Samples
      def compact(cutDays: Long) =
        graft.model.TsdbLayout.compactL0(spark, db, cutDays * DayNs, tier)
      val (moved1, tHalf) = wall(compact(days / 2))
      // the standing alert over the compacted residue: every below-
      // watermark L0 row anti-joins against its day's batch slice
      val (strag, tStrag) = wall(
        graft.model.TsdbLayout.l0Stragglers(spark, db, tier).count())
      val (moved2, tRest) = wall(compact(days))
      // a ranged select straddling the (now-final) tier boundary
      val stmt =
        if (eventsMode)
          s"""{"select-events": "!log",
               "range": {"from": 0, "to": ${days.toLong * DayNs}}}"""
        else s"""{"select": "purchase",
                  "range": {"from": 0, "to": ${days.toLong * DayNs}}}"""
      val (served, tOpen) = wall {
        new graft.engine.Engine(
          graft.model.TsdbLayout.openDatabase(spark, db))
          .execute(stmt).count()
      }
      println(f"PROBE half=$half%s days=$days%d rows=${nLive + perDay}%d " +
        f"ingest=$tIngest%.2f compact_half=$tHalf%.2f (moved=$moved1) " +
        f"stragglers=$tStrag%.2f (n=$strag) compact_rest=$tRest%.2f " +
        f"(moved=$moved2) open_select=$tOpen%.2f (rows=$served)")
    }
    spark.stop()
  }
}
