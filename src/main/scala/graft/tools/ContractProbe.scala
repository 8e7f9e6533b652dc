package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.engine.Engine
import graft.model.TsdbContext

/** Throwaway driver-contract probe (removed before round end):
  * entry smoke + hostile inputs at the library boundary. */
object ContractProbe {
  def main(args: Array[String]): Unit = {
    val spark = TsdbContext.configure(
      SparkSession.builder().master("local[4]"), 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val n = SparkEntry.entry(spark).count()
    println(s"PROBE entry rows=$n (smoke wants >0)")

    val e = new Engine(TsdbContext.fromTestdata(spark, "/root/testdata/sf0.001"))
    // null- and empty-message safe: the reporter itself must never
    // throw inside a catch block (a bare NPE would otherwise abort the
    // whole probe run instead of printing the refusal)
    def describeEx(ex: Throwable): String = {
      val msg = Option(ex.getMessage)
        .flatMap(_.linesIterator.find(_ => true)).getOrElse(ex.toString)
      s"${ex.getClass.getSimpleName}: $msg"
    }
    def tryQ(tag: String, json: String): Unit =
      try {
        val c = e.execute(json).count()
        println(s"PROBE $tag -> $c rows")
      } catch {
        case ex: Throwable => println(s"PROBE $tag -> ${describeEx(ex)}")
      }

    tryQ("malformed-json", """{"select": "purchase", "range"""")
    tryQ("unknown-metric", """{"select": "no_such_metric"}""")
    tryQ("unknown-metric-ranged", """{"select": "no_such_metric", "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("where-no-match-ranged", """{"select": "purchase", "range": {"from": "20240101T000000", "to": "20240401T000000"}, "where": {"user_id": ["999999"]}}""")
    tryQ("two-kinds", """{"select": "purchase", "aggregate": {"purchase": "sum"}}""")
    tryQ("bad-func", """{"aggregate": {"purchase": "sigmoid"}}""")
    tryQ("from-after-to-backward",
      """{"select": "purchase",
          "range": {"from": "20240401T000000", "to": "20240101T000000"}}""")
    tryQ("where-no-match",
      """{"select": "purchase", "where": {"user_id": ["999999"]}}""")
    tryQ("events-with-apply",
      """{"select-events": "!log",
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "apply": [{"name": "cusum"}]}""")
    tryQ("asof-self-join",
      """{"asof-join": {"left": "click", "right": "click"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("asof-bad-tolerance",
      """{"asof-join": {"left": "click", "right": "view", "tolerance": "soon"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("quantile-bad-p",
      """{"quantile": {"metric": "purchase", "p": [2.0]},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("quantile-no-p",
      """{"quantile": {"metric": "purchase"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("quantile-with-apply",
      """{"quantile": {"metric": "purchase", "p": [0.5]},
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "apply": [{"name": "abs"}]}""")
    tryQ("quantile-bad-step",
      """{"quantile": {"metric": "purchase", "p": [0.5], "step": "later"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("quantile-unknown-metric",
      """{"quantile": {"metric": "no_such_metric", "p": [0.5]},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("correlate-one-metric",
      """{"correlate": {"metric": ["click"], "step": "1h"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("correlate-ragged-lag",
      """{"correlate": {"metric": ["click", "view"], "step": "1h",
                        "lag": "90m"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("correlate-unknown-metric",
      """{"correlate": {"metric": ["click", "no_such_metric"], "step": "1h"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("correlate-with-limit",
      """{"correlate": {"metric": ["click", "view"], "step": "1h"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "limit": 5}""")
    tryQ("autocorr-no-lags",
      """{"autocorr": {"metric": ["click"], "step": "1h"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("autocorr-ragged-lag",
      """{"autocorr": {"metric": ["click"], "step": "1h", "lags": ["90m"]},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("autocorr-zero-lag",
      """{"autocorr": {"metric": ["click"], "step": "1h", "lags": ["0s"]},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("autocorr-unknown-metric",
      """{"autocorr": {"metric": ["no_such_metric"], "step": "1h",
                       "lags": ["1h"]},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("active-no-metric",
      """{"active": {"metric": []},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("active-bad-step",
      """{"active": {"metric": ["click"], "step": "whenever"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("active-with-output",
      """{"active": {"metric": ["click"]},
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "output": {"format": "csv"}}""")
    tryQ("distinct-no-tag",
      """{"distinct": {"metric": ["click"]},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("distinct-k-too-small",
      """{"distinct": {"metric": ["click"], "tag": "user", "k": 1},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("distinct-fractional-k",
      """{"distinct": {"metric": ["click"], "tag": "user", "k": 2.5},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("distinct-unknown-tag", // parses fine: no series carries it -> 0 rows
      """{"distinct": {"metric": ["click"], "tag": "no_such_tag"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("sessions-no-gap",
      """{"sessions": {"metric": "click"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("sessions-zero-gap",
      """{"sessions": {"metric": "click", "gap": "0s"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("changepoints-no-threshold",
      """{"changepoints": {"metric": ["click"], "step": "1d"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("changepoints-zero-window",
      """{"changepoints": {"metric": ["click"], "step": "1d", "window": 0,
                           "min-shift": 1.0},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("trend-sub-us-step",
      """{"trend": {"metric": ["click"], "step": "500n"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("trend-ragged-horizon",
      """{"trend": {"metric": ["click"], "step": "1d", "horizon": "36h"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("gaps-both-thresholds",
      """{"gaps": {"metric": "click", "min-gap": "1h", "factor": 3.0},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("gaps-zero-threshold",
      """{"gaps": {"metric": "click", "min-gap": "0s"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("stale-backward-range",
      """{"stale": {"metric": "click", "older-than": "12h"},
          "range": {"from": "20240401T000000", "to": "20240101T000000"}}""")
    tryQ("anomaly-bad-rate",
      """{"anomaly": {"metric": "click", "rate": 2.0},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("anomaly-unknown-metric",
      """{"anomaly": {"metric": "no_such_metric"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("group-aggregate-zero-step",
      """{"group-aggregate": {"metric": "purchase", "func": "mean",
                              "step": "0s"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("fill-bad-step",
      """{"select": "purchase",
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "apply": [{"name": "fill", "step": "sideways"}]}""")
    tryQ("fill-bad-method",
      """{"select": "purchase",
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "apply": [{"name": "fill", "step": "1d", "method": "cubic"}]}""")
    tryQ("location-empty-box",
      """{"select": "purchase",
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "where-location": {"box": {"lon": [179, 180], "lat": [89, 90]}}}""")
    tryQ("location-box-and-knn",
      """{"select": "purchase",
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "where-location": {"box": {"lon": [0, 1], "lat": [0, 1]},
                             "knn": {"lon": 0, "lat": 0, "k": 1}}}""")
    tryQ("location-bad-k",
      """{"select": "purchase",
          "range": {"from": "20240101T000000", "to": "20240401T000000"},
          "where-location": {"knn": {"lon": 0, "lat": 0, "k": -3}}}""")
    tryQ("location-on-suggest",
      """{"select": "metric-names",
          "where-location": {"knn": {"lon": 0, "lat": 0, "k": 1}}}""")

    // the pipeline statements at the same boundary: a TSDB-only
    // context refuses them loudly, and every misuse is BadQuery
    tryQ("knn-no-tables",
      """{"knn": {"queries": "id < 10", "k": 3, "index": "brute"}}""")
    tryQ("dedup-no-tables",
      """{"dedup": {"batch": "id % 5 = 0", "threshold": 0.8}}""")
    tryQ("knn-bad-index",
      """{"knn": {"queries": "id < 10", "k": 3, "index": "hnsw"}}""")
    tryQ("knn-nprobe-over-nlist",
      """{"knn": {"queries": "id < 10", "k": 3, "index": "ivf",
           "nlist": 2, "nprobe": 5}}""")
    tryQ("knn-with-range",
      """{"knn": {"queries": "id < 10", "k": 3, "index": "brute"},
          "range": {"from": "20240101T000000", "to": "20240401T000000"}}""")
    tryQ("dedup-bad-threshold",
      """{"dedup": {"batch": "id % 5 = 0", "threshold": 1.5}}""")
    tryQ("dedup-ragged-bands",
      """{"dedup": {"batch": "id % 5 = 0", "threshold": 0.8,
           "num-perm": 30, "bands": 8}}""")
    tryQ("dedup-malformed-predicate",
      """{"dedup": {"batch": "id %%% 5", "threshold": 0.8}}""")

    def tryRendered(tag: String, json: String): Unit =
      try {
        val c = e.executeRendered(json).count()
        println(s"PROBE $tag -> $c lines")
      } catch {
        case ex: Throwable =>
          println(s"PROBE $tag -> ${describeEx(ex)}")
      }
    tryRendered("output-csv",
      """{"select": "purchase",
          "range": {"from": "20240101T000000", "to": "20240102T000000"},
          "output": {"format": "csv", "timestamp": "iso"}}""")
    tryRendered("output-bad-format",
      """{"select": "purchase",
          "range": {"from": "20240101T000000", "to": "20240102T000000"},
          "output": {"format": "xml"}}""")

    // ---- lifecycle guards: the loud-refusal surface of the living DB
    def tryOp(tag: String)(op: => Any): Unit =
      try println(s"PROBE $tag -> ${op}")
      catch {
        case ex: Throwable =>
          println(s"PROBE $tag -> ${describeEx(ex)}")
      }
    import org.apache.spark.sql.functions.{col, expr, lit}
    val db = java.nio.file.Files.createTempDirectory("graft_probe_db").toString
    val h = 3600L * 1000000000L
    val ctx = TsdbContext.fromWide(spark,
      spark.range(0, 48).selectExpr("'x' AS user", s"id * ${h}L AS ts",
        "cast(id AS double) AS value", "'m' AS metric"),
      "metric", Seq("user"), "ts", "value")
    graft.model.TsdbLayout.writeDatabase(
      ctx.copy(samples = ctx.samples.where(col("ts") < 24 * h)), db)
    // an uncompacted L0 day and an unfolded registration
    ctx.samples.where(col("ts") >= 24 * h)
      .withColumn("metric", lit("m"))
      .withColumn("ts_day", expr(s"ts div ${24 * h}L"))
      .write.partitionBy("metric", "ts_day").parquet(s"$db/samples_l0")
    spark.sql("""SELECT 999L AS series_id, 'm user=z' AS name, 'm' AS metric,
                   map('user', 'z') AS tags, CAST(NULL AS FLOAT) AS lon,
                   CAST(NULL AS FLOAT) AS lat""")
      .write.parquet(s"$db/catalog_l0")
    tryOp("retire-live-ingest-root") {
      graft.model.TsdbLayout.retireIngestRoot(spark, db)
    }
    tryOp("retire-unfolded-catalog-root") {
      graft.model.TsdbLayout.retireIngestRoot(spark, db,
        graft.model.TsdbLayout.Tier.Catalog)
    }
    tryOp("maintenance-tick") {
      graft.model.TsdbLayout.maintenanceTick(spark, db, 48 * h)
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    }
    tryOp("retire-after-tick") {
      graft.model.TsdbLayout.retireIngestRoot(spark, db) &&
        graft.model.TsdbLayout.retireIngestRoot(spark, db,
          graft.model.TsdbLayout.Tier.Catalog)
    }

    // ---- round-12 guards: staleness loop, canonical marker, retention
    val db2 = java.nio.file.Files.createTempDirectory("graft_probe_db2").toString
    graft.model.TsdbLayout.writeDatabase(ctx.copy(
      rollups = Seq(h -> graft.engine.Rollup.build(ctx.samples, h))), db2)
    tryOp("upsert-records-dirty") {
      val late = ctx.samples.where(col("ts") === 10 * h)
        .select(col("series_id"), col("ts"),
          (col("value") + lit(1.0)).as("value"))
      graft.model.TsdbLayout.upsertSamples(spark, s"$db2/samples", late,
        ctx.series)
      graft.model.TsdbLayout.indexDirtyPairs(spark, db2).mkString(" ")
    }
    tryOp("healing-tick") {
      graft.model.TsdbLayout.maintenanceTick(spark, db2, 0L,
          healIndexes = true)
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    }
    tryOp("mark-noncanonical-unknown-pos") {
      graft.model.IndexCatalog.markNoncanonical(s"$db2/indexes", 42)
    }
    tryOp("rebuild-refuses-noncanonical") {
      graft.model.IndexCatalog.markNoncanonical(s"$db2/indexes", 0)
      graft.model.IndexCatalog.rebuild(spark, db2)
    }
    tryOp("retire-absent-epoch-is-idempotent-false") {
      graft.model.TsdbLayout.retireIngestRoot(spark, db2, epoch = Some(7))
    }
    tryOp("expire-may-not-empty-layout") {
      graft.model.TsdbLayout.expire(spark, s"$db2/samples", 999 * h)
    }
    tryOp("health-check") {
      graft.model.TsdbLayout.healthCheck(spark, db2, nowNs = Some(48 * h))
        .collect().map(r => s"${r.getString(0)}=${r.getString(1)}")
        .mkString(" ")
    }

    spark.stop()
  }
}
