package graft.series

import scala.collection.immutable.SortedMap

/** Series-name model: `metric tag1=v1 tag2=v2` with sorted, unique tag keys.
  *
  * Follows the reference's canonical form (whitespace-normalized, tags sorted
  * by key; see /root/reference/stdb/index/seriesparser.cc:112-230 and
  * seriesparser.h:39-64): one space between components, at least one tag
  * required for a *stored* series. Event series names start with `!`;
  * compound (join/group-aggregate output) metrics use `m1|m2` and
  * `m:func` notation.
  */
final case class SeriesName(metric: String, tags: SortedMap[String, String]) {
  def render: String =
    if (tags.isEmpty) metric
    else metric + " " + tags.iterator.map { case (k, v) => s"$k=$v" }.mkString(" ")

  def isEvent: Boolean = metric.startsWith("!")
}

object SeriesName {
  val MaxNameLength = 0x1000
  val MaxTags = 32

  final class BadSeriesName(msg: String) extends IllegalArgumentException(msg)

  /** Parse a series name of the form `metric k=v k=v ...` (any run of
    * spaces/tabs between components). Duplicate keys keep the last value.
    */
  def parse(s: String): SeriesName = {
    if (s.length > MaxNameLength) throw new BadSeriesName("series name too long")
    val parts = s.trim.split("[ \t]+").toList
    parts match {
      case Nil | "" :: Nil => throw new BadSeriesName(s"empty series name: '$s'")
      case metric :: rest =>
        val kvs = rest.map { p =>
          val eq = p.indexOf('=')
          if (eq <= 0) throw new BadSeriesName(s"bad tag '$p' in '$s'")
          p.substring(0, eq) -> p.substring(eq + 1)
        }
        if (kvs.size > MaxTags) throw new BadSeriesName("too many tags")
        SeriesName(metric, SortedMap(kvs: _*))
    }
  }

  /** Canonical form string (parse + render). Stored series require ≥1 tag. */
  def canonicalize(s: String, requireTags: Boolean = true): String = {
    val sn = parse(s)
    if (requireTags && sn.tags.isEmpty) throw new BadSeriesName(s"at least one tag required: '$s'")
    sn.render
  }

  /** Output metric name for an aggregate query: `metric:func`. */
  def aggregateMetric(metric: String, func: String): String = s"$metric:$func"

  /** Output metric name for a multi-func group-aggregate: `m:f1|m:f2`. */
  def groupAggregateMetric(metric: String, funcs: Seq[String]): String =
    funcs.map(f => s"$metric:$f").mkString("|")

  /** Output metric name for a join: `m1|m2|...`. */
  def joinMetric(metrics: Seq[String]): String = metrics.mkString("|")
}
