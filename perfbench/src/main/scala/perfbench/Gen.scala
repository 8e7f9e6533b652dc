package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded, deterministic input generation. Every value the benchmark
  * feeds the program, and every value its checks expect, comes from
  * the pure functions here, so the same seed gives byte-identical
  * inputs and the checks can recompute any sample without the program. */
object Gen {
  val NsPerMin: Long = 60L * 1000000000L
  val NsPerHour: Long = 60L * NsPerMin
  val NsPerDay: Long = 24L * NsPerHour
  /** 2024-01-01T00:00:00Z in ns. */
  val T0: Long = 1704067200L * 1000000000L

  /** SplitMix64 finalizer: the one hash every generator draws from. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(a: Long, b: Long, c: Long = 0L, d: Long = 0L): Long =
    mix(a ^ mix(b ^ mix(c ^ mix(d))))
  /** Uniform in [0, 1). */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  private val isoFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyyMMdd'T'HHmmss").withZone(java.time.ZoneOffset.UTC)
  /** A whole-second ns timestamp in the query language's ISO-8601 basic
    * form. */
  def iso(ns: Long): String =
    isoFormat.format(java.time.Instant.ofEpochSecond(ns / 1000000000L))

  /** A seeded stream of draws, for the few sequential choices
    * (statement parameters, corrections). */
  final class Rng(seed: Long, stream: Long) {
    private var i = 0L
    def next(): Long = { i += 1; hash(seed, stream, i) }
    def int(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
    def between(lo: Int, hi: Int): Int = lo + int(hi - lo + 1)
    def pick[A](xs: Seq[A]): A = xs(int(xs.size))
  }
}

/** One metric series of the generated fleet. */
final case class SeriesDef(idx: Int, metric: String, host: Int, dc: Int) {
  def name: String = s"$metric dc=dc$dc host=h$host"
  def tagKey: String = s"dc=dc$dc host=h$host"
}

/** The generated TSDB: `hosts` hosts × `metrics`, one sample every
  * `stepMin` minutes for `days` days from [[Gen.T0]].
  *
  * Values are a daily sine per series plus seeded noise, rounded to
  * milli-units. Metric `temp` carries planted spikes (the anomaly
  * statement's ground truth), and every seventh host's `net` series has
  * one planted six-hour silence (the gaps statement's ground truth).
  * Event series `!log` carry one event per host every `eventEveryH`
  * hours. */
final case class Tsdb(seed: Long, hosts: Int, days: Int, stepMin: Int,
    metrics: Seq[String] = Tsdb.Metrics, eventEveryH: Int = 2) {
  import Gen._
  val stepNs: Long = stepMin * NsPerMin
  val pointsPerSeries: Int = (days * NsPerDay / stepNs).toInt
  val dcs: Int = 4
  val tEnd: Long = T0 + days * NsPerDay
  val series: IndexedSeq[SeriesDef] =
    for (m <- metrics.toIndexedSeq; h <- 0 until hosts)
      yield SeriesDef(metrics.indexOf(m) * hosts + h, m, h, h % dcs)
  def seriesOf(metric: String, host: Int): SeriesDef =
    series(metrics.indexOf(metric) * hosts + host)

  private def base(s: Int): Double = 50.0 + 100.0 * unit(hash(seed, 1, s))
  private def amp(s: Int): Double = 5.0 + 15.0 * unit(hash(seed, 2, s))
  private def phase(s: Int): Double = 2 * math.Pi * unit(hash(seed, 3, s))
  def spikeEvery: Int = 997

  def isSpike(s: Int, t: Long): Boolean =
    series(s).metric == "temp" &&
      java.lang.Long.remainderUnsigned(hash(seed, 5, s, t), spikeEvery.toLong) == 0L

  /** The planted silence of a `net` series, if it has one. */
  def gapOf(s: Int): Option[(Long, Long)] = {
    val d = series(s)
    if (d.metric != "net" || d.host % 7 != 0) None
    else {
      val slots = (tEnd - T0 - NsPerDay) / stepNs
      val start = T0 + NsPerDay / 2 +
        java.lang.Long.remainderUnsigned(hash(seed, 6, s), slots) * stepNs
      Some((start, start + 6 * NsPerHour))
    }
  }

  def present(s: Int, t: Long): Boolean =
    gapOf(s).forall { case (a, b) => t < a || t >= b }

  /** The value of series `s` at `t` (only meaningful where [[present]]). */
  def value(s: Int, t: Long): Double = {
    val dayFrac = ((t - T0) % NsPerDay).toDouble / NsPerDay
    val noise = 2.0 * unit(hash(seed, 4, s, t)) - 1.0
    val spike = if (isSpike(s, t)) 40.0 * amp(s) else 0.0
    math.round((base(s) + amp(s) * math.sin(2 * math.Pi * dayFrac + phase(s))
      + noise + spike) * 1000.0) / 1000.0
  }

  /** Sample timestamps of series `s` in [from, to). */
  def times(s: Int, from: Long, to: Long): Iterator[Long] = {
    val first = math.max(T0, T0 + Math.floorDiv(from - T0 + stepNs - 1, stepNs) * stepNs)
    Iterator.iterate(first)(_ + stepNs).takeWhile(t => t < math.min(to, tEnd))
      .filter(present(s, _))
  }

  def samples(s: Int, from: Long, to: Long): Iterator[(Long, Double)] =
    times(s, from, to).map(t => (t, value(s, t)))

  def eventName(host: Int): String = s"!log dc=dc${host % dcs} host=h$host"
  def eventTimes(host: Int, from: Long, to: Long): Iterator[Long] = {
    val every = eventEveryH * NsPerHour
    val offset = java.lang.Long.remainderUnsigned(hash(seed, 7, host), 60L) * NsPerMin
    val first = T0 + offset
    val k0 = math.max(0L, Math.floorDiv(from - first + every - 1, every))
    Iterator.iterate(first + k0 * every)(_ + every).takeWhile(t => t < math.min(to, tEnd))
  }
  def eventBody(host: Int, t: Long): String = {
    val h = hash(seed, 8, host, t)
    val level = if (java.lang.Long.remainderUnsigned(h, 10L) == 0L) "ERROR" else "INFO"
    s"level=$level code=${java.lang.Long.remainderUnsigned(h >>> 8, 1000L)}"
  }

  def sampleCount: Long = series.indices.map(s => times(s, T0, tEnd).size.toLong).sum
  /** Logical size of the user data: 24 bytes per sample (id, ts, value)
    * and 16 bytes plus the body per event. */
  def userBytes: Long = sampleCount * 24L +
    (0 until hosts).iterator.flatMap(h => eventTimes(h, T0, tEnd)
      .map(t => 16L + eventBody(h, t).length)).sum

  /** Every sample as (metric, dc, host, ts, value) rows, computed by
    * [[value]] inside Spark. The checks aggregate this frame with plain
    * Spark; the database is written from it through the program. */
  def rowsDF(spark: SparkSession): DataFrame = {
    val gen = this
    val valueOf = udf((s: Int, t: Long) => gen.value(s, t))
    val presentAt = udf((s: Int, t: Long) => gen.present(s, t))
    val metricOf = udf((s: Int) => gen.series(s).metric)
    val n = series.size.toLong * pointsPerSeries
    spark.range(0, n, 1, 8)
      .select((col("id") / pointsPerSeries).cast("int").as("s"),
        (lit(T0) + (col("id") % pointsPerSeries) * stepNs).as("ts"))
      .where(presentAt(col("s"), col("ts")))
      .select(metricOf(col("s")).as("metric"),
        concat(lit("dc"), (col("s") % hosts % dcs).cast("string")).as("dc"),
        concat(lit("h"), (col("s") % hosts).cast("string")).as("host"),
        col("ts"), valueOf(col("s"), col("ts")).as("value"))
  }

  /** The event half as (name, ts, body) rows. */
  def eventsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until hosts).flatMap(h => eventTimes(h, T0, tEnd)
      .map(t => (eventName(h), t, eventBody(h, t)))).toDF("name", "ts", "body")
  }
}

object Tsdb {
  val Metrics: Seq[String] = Seq("cpu", "mem", "net", "disk", "temp")
}

/** Seeded documents for the curation workload. The corpus is random
  * word sequences; candidates hold planted exact copies and near copies
  * (a few words replaced) of corpus documents, plus fresh documents. */
final case class Docs(seed: Long, corpusN: Int, words: Int = 60) {
  import Gen._
  val vocab: Int = 20000
  def word(i: Long): String = s"w${java.lang.Long.remainderUnsigned(i, vocab.toLong)}"
  def text(stream: Long, id: Long): String =
    (0 until words).map(j => word(hash(seed, stream, id, j))).mkString(" ")
  def corpusText(id: Long): String = text(10, id)

  /** Candidate `c` (ids from [[CandBase]]): kind 0 = exact copy, 1 = near
    * copy (the last word replaced: word 3-shingle Jaccard 57/59, far
    * enough above a 0.8 threshold that 8 bands of 4 MinHash rows miss it
    * with probability below 1e-7), 2 = new. */
  def candKind(c: Long): Int = java.lang.Long.remainderUnsigned(hash(seed, 11, c), 3L).toInt
  /** Distinct candidates copy distinct corpus documents (7919 is prime,
    * so the map is injective for fewer than `corpusN` candidates). */
  def candSource(c: Long): Long =
    java.lang.Long.remainderUnsigned(c * 7919L + hash(seed, 12, 0), corpusN.toLong)
  def candText(c: Long): String = candKind(c) match {
    case 0 => corpusText(candSource(c))
    case 1 =>
      val ws = corpusText(candSource(c)).split(' ')
      ws(words - 1) = s"x$c"
      ws.mkString(" ")
    case _ => text(13, c)
  }
  /** Fresh documents accepted into the store during the run. */
  def acceptText(batch: Int, i: Int): String = text(14 + batch, i)
}

object Docs { val CandBase: Long = 1000000000L; val AcceptBase: Long = 2000000000L }

/** Seeded clustered vectors for the knn statements: `clusters`
  * Gaussian-ish blobs in `dim` dimensions. Each query vector is a copy
  * of one stored vector moved by a tiny offset, so that stored vector is
  * its planted nearest neighbour. */
final case class Vectors(seed: Long, n: Int, dim: Int = 16, clusters: Int = 12) {
  import Gen._
  private def center(c: Int): Array[Double] =
    Array.tabulate(dim)(j => 2.0 * unit(hash(seed, 20, c, j)) - 1.0)
  def vector(stream: Long, id: Long): Array[Double] = {
    val c = java.lang.Long.remainderUnsigned(hash(seed, 21, stream, id), clusters.toLong).toInt
    val ctr = center(c)
    Array.tabulate(dim)(j => ctr(j) + 0.15 * (2.0 * unit(hash(seed, 22 + stream, id, j)) - 1.0))
  }
  def stored(id: Long): Array[Double] = vector(0, id)
  /** Distinct queries sit next to distinct stored vectors. */
  def querySource(q: Long): Long =
    java.lang.Long.remainderUnsigned(q * 7919L + hash(seed, 30, 0), n.toLong)
  def query(q: Long): Array[Double] = {
    val v = stored(querySource(q))
    Array.tabulate(dim)(j => v(j) + 1e-4 * (2.0 * unit(hash(seed, 31, q, j)) - 1.0))
  }
}

object Vectors { val QueryBase: Long = 1000000000L }
