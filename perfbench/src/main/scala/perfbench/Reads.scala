package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Gen._

/** A JSON statement with its ground truth. `cls` is `dashboard`
  * (a few series, short minute-offset range) or `analytics` (the whole
  * fleet, whole history). `check` compares collected rows with answers
  * computed without the engine. */
final case class Stmt(kind: String, cls: String, json: String,
    check: Array[Row] => Option[String])

/** Row comparison with a relative tolerance on doubles. */
object Compare {
  def close(a: Double, b: Double, rel: Double): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def cells(r: Row): Vector[Any] = r.toSeq.toVector.map {
    case f: java.lang.Float => f.toDouble
    case x => x
  }

  /** Both sides sorted by their non-double cells, then compared cell by
    * cell. Returns the first mismatch, if any. */
  def rows(got: Seq[Vector[Any]], want: Seq[Vector[Any]],
      rel: Double = 1e-9): Option[String] = {
    def key(v: Vector[Any]) = v.map {
      case _: Double => ""
      case null => "null"
      case x => x.toString
    }.mkString("\u0001")
    if (got.size != want.size) return Some(s"${got.size} rows, expected ${want.size}")
    got.sortBy(key).zip(want.sortBy(key)).collectFirst {
      case (g, w) if g.size != w.size || g.zip(w).exists {
          case (a: Double, b: Double) => !close(a, b, rel)
          case (a, b) => a != b
        } => s"row $g, expected $w"
    }
  }
}

/** The read statements and their answers. */
final class Reads(gen: Tsdb, seed: Long) {
  private val rng = new Rng(seed, 100)

  private def range(from: Long, to: Long) =
    s""""range": {"from": "${iso(from)}", "to": "${iso(to)}"}"""
  private def hostsWhere(hs: Seq[Int]) =
    s""""where": {"host": [${hs.map(h => s""""h$h"""").mkString(", ")}]}"""

  /** A minute-offset range of 1 h to 2 days inside the history. */
  private def shortRange(): (Long, Long) = {
    val len = rng.between(60, 48 * 60) * NsPerMin
    val span = (gen.tEnd - T0 - len) / NsPerMin
    val from = T0 + (rng.int(span.toInt) + 1) * NsPerMin
    (from, from + len)
  }
  private def hosts(): Seq[Int] =
    Seq.fill(rng.between(1, 5))(rng.int(gen.hosts)).distinct.sorted
  private def steady(): String = rng.pick(Seq("cpu", "mem", "disk"))

  private def seriesOf(metric: String, hs: Seq[Int]): Seq[SeriesDef] =
    hs.map(gen.seriesOf(metric, _))

  private def vec(xs: Any*): Vector[Any] = xs.toVector
  private def check(want: => Seq[Vector[Any]], rel: Double = 1e-9)(got: Array[Row]) =
    Compare.rows(got.toSeq.map(Compare.cells), want, rel)

  private def aggs(vs: Seq[Double]): Map[String, Double] = Map(
    "min" -> vs.min, "max" -> vs.max, "sum" -> vs.sum,
    "cnt" -> vs.size.toDouble, "mean" -> vs.sum / vs.size)

  private def binned(s: SeriesDef, from: Long, to: Long, step: Long) =
    gen.samples(s.idx, from, to).toSeq
      .groupBy { case (t, _) => from + (t - from) / step * step }

  /** Bound the engine documents for `quantile`: the answer is the lower
    * edge of the log bucket holding the ⌈p·n⌉-th smallest value — within
    * 12.5 % below it (plus 1 µu), never above it. */
  private def quantileOk(q: Double, v: Double): Boolean =
    q <= v + 1e-6 && q >= v * (1 - 0.125) - 1e-6

  // ---------------------------------------------------------- dashboard

  def dashboard(kind: String): Stmt = {
    val (from, to) = shortRange()
    val hs = hosts()
    val r = range(from, to); val w = hostsWhere(hs)
    kind match {
      case "select" =>
        val m = steady()
        Stmt(kind, "dashboard", s"""{"select": "$m", $r, $w}""", check(
          for (s <- seriesOf(m, hs); (t, v) <- gen.samples(s.idx, from, to).toSeq)
            yield vec(s.name, t, v)))
      case "select-apply" =>
        val m = steady()
        Stmt(kind, "dashboard", s"""{"select": "$m", $r, $w, "apply": [{"name": "scale", "weights": [2.0]}, {"name": "accumulate"}]}""",
          check(for (s <- seriesOf(m, hs);
              (t, v) <- { var acc = 0.0
                gen.samples(s.idx, from, to).toSeq.map { case (t, v) => acc += 2.0 * v; (t, acc) } })
            yield vec(s.name, t, v), rel = 1e-9))
      case "select-events" =>
        val errorsOnly = rng.int(2) == 0
        val f = if (errorsOnly) """, "filter": "ERROR"""" else ""
        Stmt(kind, "dashboard", s"""{"select-events": "!log", $r, $w$f}""", check(
          for (h <- hs; t <- gen.eventTimes(h, from, to).toSeq
               if !errorsOnly || gen.eventBody(h, t).contains("ERROR"))
            yield vec(gen.eventName(h), t, gen.eventBody(h, t))))
      case "aggregate" =>
        val m = steady(); val fs = Seq("min", "max", "mean", "cnt", "sum")
        Stmt(kind, "dashboard", s"""{"aggregate": {"$m": [${fs.map(f => s""""$f"""").mkString(", ")}]}, $r, $w}""",
          check(for (s <- seriesOf(m, hs); xs = gen.samples(s.idx, from, to).toSeq
                     if xs.nonEmpty; f <- fs)
            yield vec(s"$m:$f ${s.tagKey}", xs.head._1, aggs(xs.map(_._2))(f)), rel = 1e-9))
      case "group-aggregate" =>
        val m = steady(); val step = rng.pick(Seq(15L, 60L, 180L)) * NsPerMin
        val fs = Seq("min", "max", "mean")
        Stmt(kind, "dashboard", s"""{"group-aggregate": {"metric": "$m", "step": "${step / NsPerMin}min", "func": ["min", "max", "mean"]}, $r, $w}""",
          check(for (s <- seriesOf(m, hs); (b, xs) <- binned(s, from, to, step).toSeq)
            yield { val a = aggs(xs.map(_._2))
              vec(s"$m:min|$m:max|$m:mean ${s.tagKey}", b) ++ fs.map(a) }))
      case "join" =>
        Stmt(kind, "dashboard", s"""{"join": ["cpu", "mem"], $r, $w}""", check(
          for (h <- hs; s = gen.seriesOf("cpu", h); (t, v) <- gen.samples(s.idx, from, to).toSeq)
            yield vec(s"cpu|mem ${s.tagKey}", t, v, gen.value(gen.seriesOf("mem", h).idx, t))))
      case "group-aggregate-join" =>
        val step = rng.pick(Seq(30L, 60L, 120L)) * NsPerMin
        Stmt(kind, "dashboard", s"""{"group-aggregate-join": {"metric": ["cpu", "disk"], "step": "${step / NsPerMin}min", "func": "max"}, $r, $w}""",
          check(for (h <- hs; s = gen.seriesOf("cpu", h); (b, xs) <- binned(s, from, to, step).toSeq)
            yield vec(s"cpu|disk ${s.tagKey}", b, xs.map(_._2).max,
              binned(gen.seriesOf("disk", h), from, to, step)(b).map(_._2).max)))
      case "quantile" =>
        val m = steady(); val ps = Seq(0.5, 0.9)
        Stmt(kind, "dashboard", s"""{"quantile": {"metric": "$m", "p": [0.5, 0.9]}, $r, $w}""", { got =>
          val want = (for (s <- seriesOf(m, hs); vs = gen.samples(s.idx, from, to).map(_._2).toSeq.sorted
                           if vs.nonEmpty; p <- ps)
            yield (s.name, p.toString) -> vs(math.ceil(p * vs.size).toInt - 1)).toMap
          val g = got.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
          if (g.keySet != want.keySet) Some(s"quantile keys ${g.keySet} != ${want.keySet}")
          else g.collectFirst { case (k, q) if !quantileOk(q, want(k)) =>
            s"quantile $k = $q outside the bound of ${want(k)}" }
        })
    }
  }

  // ---------------------------------------------------------- analytics

  /** Whole history, either day-aligned (an index may serve it) or cut
    * at seeded minute offsets (the scan must). */
  private def longRange(aligned: Boolean): (Long, Long) =
    if (aligned) (T0 + NsPerDay, gen.tEnd - NsPerDay)
    else (T0 + NsPerDay + rng.between(1, 59) * NsPerMin,
      gen.tEnd - NsPerDay - rng.between(1, 59) * NsPerMin)

  def analytics(kind: String, aligned: Boolean, rows: => DataFrame): Stmt = {
    val (from, to) = longRange(aligned)
    val r = range(from, to)
    lazy val ranged = rows.where(col("ts") >= from && col("ts") < to)
    def collectVecs(df: DataFrame) = df.collect().toSeq.map(Compare.cells)
    def nameCol = concat_ws(" ", col("metric"), concat(lit("dc="), col("dc")), concat(lit("host="), col("host")))
    kind match {
      case "group-by-tag" =>
        val m = steady()
        Stmt(kind, "analytics", s"""{"group-aggregate": {"metric": "$m", "step": "1d", "func": ["mean", "max"]}, $r, "group-by-tag": ["host"]}""",
          check(collectVecs(ranged.where(col("metric") === m)
            .groupBy(col("dc"), (lit(from) + floor((col("ts") - from) / NsPerDay).cast("long") * NsPerDay).as("bin"))
            .agg(avg("value"), max("value"))
            .select(concat(lit(s"$m:mean|$m:max dc="), col("dc")), col("bin"),
              col("avg(value)"), col("max(value)"))), rel = 1e-9))
      case "group-aggregate-join" =>
        val dc = rng.int(gen.dcs)
        Stmt(kind, "analytics", s"""{"group-aggregate-join": {"metric": ["cpu", "mem"], "step": "1d", "func": "mean"}, $r, "where": {"dc": ["dc$dc"]}}""",
          check(collectVecs(ranged.where(col("dc") === s"dc$dc" && col("metric").isin("cpu", "mem"))
            .groupBy(col("host"), (lit(from) + floor((col("ts") - from) / NsPerDay).cast("long") * NsPerDay).as("bin"))
            .pivot("metric", Seq("cpu", "mem")).agg(avg("value"))
            .select(concat(lit(s"cpu|mem dc=dc$dc host="), col("host")), col("bin"),
              col("cpu"), col("mem"))), rel = 1e-9))
      case "quantile-by-tag" =>
        val m = steady(); val ps = Seq(0.5, 0.99)
        Stmt(kind, "analytics", s"""{"quantile": {"metric": "$m", "p": [0.5, 0.99]}, $r, "group-by-tag": ["host"]}""", { got =>
          val want = ranged.where(col("metric") === m).groupBy("dc")
            .agg(sort_array(collect_list("value")).as("vs")).collect()
            .flatMap { row =>
              val vs = row.getSeq[Double](1)
              ps.map(p => (s"$m dc=${row.getString(0)}", p.toString) -> vs(math.ceil(p * vs.size).toInt - 1))
            }.toMap
          val g = got.map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2)).toMap
          if (g.keySet != want.keySet) Some(s"quantile keys ${g.keySet} != ${want.keySet}")
          else g.collectFirst { case (k, q) if !quantileOk(q, want(k)) =>
            s"quantile $k = $q outside the bound of ${want(k)}" }
        })
      case "correlate" =>
        Stmt(kind, "analytics", s"""{"correlate": {"metric": ["cpu", "mem"], "step": "1h"}, $r}""", { got =>
          val means = ranged.where(col("metric").isin("cpu", "mem"))
            .groupBy(col("metric"), floor(col("ts") / NsPerHour).as("b")).agg(avg("value").as("m"))
          val j = means.where(col("metric") === "cpu").as("a")
            .join(means.where(col("metric") === "mem").as("c"), "b")
            .agg(count(lit(1)), corr(col("a.m"), col("c.m"))).head()
          Compare.rows(got.toSeq.map(Compare.cells),
            Seq(vec("cpu", "mem", j.getLong(0), j.getDouble(1))), rel = 1e-3)
        })
      case "gaps" =>
        Stmt(kind, "analytics", s"""{"gaps": {"metric": "net", "min-gap": "1h"}, $r}""", check {
          val w = Window.partitionBy("host").orderBy("ts")
          collectVecs(ranged.where(col("metric") === "net")
            .withColumn("prev", lag("ts", 1).over(w))
            .where(col("ts") - col("prev") > NsPerHour)
            .select(nameCol, (col("prev") / 1000).cast("long"), (col("ts") / 1000).cast("long"),
              ((col("ts") - col("prev")) / 1000).cast("long")))
        })
      case "anomaly" =>
        Stmt(kind, "analytics", s"""{"anomaly": {"metric": "temp", "c": 5.0}, $r}""", { got =>
          val temp = ranged.where(col("metric") === "temp")
          val med = temp.groupBy("host").agg(percentile(col("value"), lit(0.5)).as("med"))
          val mad = temp.join(med, "host").groupBy("host")
            .agg(percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
          val want = temp.join(med, "host").join(mad, "host")
            .where(abs(col("value") - col("med")) > lit(5.0) * col("mad"))
            .select(nameCol, (col("ts") / 1000).cast("long"), col("value"), col("med"), col("mad"))
          // the engine rounds med/MAD to 6 decimals, and a median of an
          // even count may be either middle value: compare them loosely,
          // the flagged samples exactly
          Compare.rows(got.toSeq.map(Compare.cells), collectVecs(want), rel = 1e-2)
        })
    }
  }

  /** `{"knn"}` (brute) over the registered embeddings table: each
    * query's nearest neighbour must be its planted source vector. */
  def knn(vecs: Vectors, queries: Int): Stmt = {
    val from = rng.int(vecs.n - queries)
    val lo = Vectors.QueryBase + from
    Stmt("knn", "pipeline", s"""{"knn": {"queries": "id >= $lo AND id < ${lo + queries}", "k": 5, "index": "brute"}}""", { got =>
      val byQ = got.groupBy(_.getAs[Long]("qid"))
      (from until from + queries).collectFirst(Function.unlift { q =>
        val rs = byQ.getOrElse(Vectors.QueryBase + q, Array.empty[Row])
        if (rs.length != 5) Some(s"knn: ${rs.length} neighbours for query $q")
        else {
          val top = rs.minBy(_.getAs[Int]("rank")).getAs[Long]("id")
          if (top != vecs.querySource(q)) Some(s"knn: nearest of query $q is $top, planted ${vecs.querySource(q)}")
          else None
        }
      })
    })
  }

  /** One pass of the read mix: each dashboard kind, each analytics
    * kind and `knn` once, alternating dashboard and other. The kinds,
    * their order, and which analytics kinds are day-aligned are the same
    * on every seed; the seed picks hosts, ranges, offsets and metrics.
    * With a fixed order, the first use of a shared code path falls on
    * the same statement in every run. */
  def cycle(rows: => DataFrame, vecs: Vectors): Seq[Stmt] = {
    val dash = Reads.DashboardKinds.map(dashboard)
    val other = Reads.AnalyticsKinds.map(k =>
      analytics(k, aligned = Reads.DayAligned(k), rows)) :+ knn(vecs, 20)
    other.indices.flatMap(k => Seq(dash(k), other(k))) ++ dash.drop(other.size)
  }
}

object Reads {
  val DashboardKinds: Seq[String] = Seq("select", "select-apply", "select-events",
    "aggregate", "group-aggregate", "join", "group-aggregate-join", "quantile")
  val AnalyticsKinds: Seq[String] = Seq("group-by-tag", "group-aggregate-join",
    "quantile-by-tag", "correlate", "gaps", "anomaly")
  /** Half the analytics kinds run over day-aligned ranges: the rollup
    * can serve group-by-tag and the histogram index quantile-by-tag,
    * while gaps needs none. The other half are cut at minute offsets and
    * must scan. */
  val DayAligned: Set[String] = Set("group-by-tag", "quantile-by-tag", "gaps")
}
