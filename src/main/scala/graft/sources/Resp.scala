package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.series.SeriesName
import graft.time.TimeUtil

/** RESP ingestion protocol parser
  * (reference: /root/reference/stdb/protocol/resp.h:34-46 element grammar,
  * RESPProtocolParser /root/reference/stdb/protocol/protocolparser.h:131-257).
  *
  * Element grammar: `+str\r\n` (string), `:int\r\n` (integer),
  * `*N\r\n` (array header), `$len\r\n<bytes>\r\n` (bulk string).
  *
  * Ingestion message shapes:
  *   - data point:     <series> <timestamp> <value>
  *   - row protocol:   <compound "m1|m2 tags"> <timestamp> *N <values…>
  *     (one point per sub-metric, shared timestamp)
  *   - event:          <"!name tags"> <timestamp> <body string>
  *   - dictionary:     *2 <series string> <:id>  — later points may send
  *     `:id` in place of the series name (name→id preamble)
  *
  * Timestamps: integer = raw UTC ns; string = ISO-8601 basic (or raw-ns
  * digits), via [[TimeUtil.parseIsoOrRaw]]. Values: integer or string
  * double.
  *
  * RESP is a stateful per-connection byte stream, so the tokenizer is plain
  * Scala (not column algebra) and Spark integration is a `flatMap` over one
  * payload chunk per row — the natural shape when a Kafka message or a
  * socket read carries one connection segment. The dictionary resets per
  * chunk; producers must keep a dictionary preamble and its references in
  * the same chunk (same constraint as the reference's per-session parser).
  */
object Resp {

  /** Reference event-payload cap (STDB_LIMITS_MAX_EVENT_LEN,
    * basic.h:32): a body of this many UTF-8 bytes or more is rejected. */
  val MaxEventLen = 4096

  sealed trait Record { def name: String; def ts: Long }
  final case class Sample(name: String, ts: Long, value: Double) extends Record
  final case class Event(name: String, ts: Long, body: String) extends Record

  final class BadResp(msg: String) extends IllegalArgumentException(msg)

  private sealed trait El
  private final case class S(v: String) extends El // + or $ element
  private final case class I(v: Long) extends El // : element
  private final case class A(n: Int) extends El // * header

  private final class Lexer(in: String) {
    private var pos = 0
    def atEnd: Boolean = { skipWs(); pos >= in.length }
    private def skipWs(): Unit =
      while (pos < in.length && (in.charAt(pos) == '\r' || in.charAt(pos) == '\n')) pos += 1
    private def line(): String = {
      val nl = in.indexOf('\n', pos)
      val end = if (nl < 0) in.length else nl
      val s = in.substring(pos, if (end > pos && in.charAt(end - 1) == '\r') end - 1 else end)
      pos = end + 1
      s
    }
    def next(): El = {
      skipWs()
      if (pos >= in.length) throw new BadResp("unexpected end of stream")
      val c = in.charAt(pos); pos += 1
      c match {
        case '+' => S(line())
        case ':' =>
          val s = line()
          try I(java.lang.Long.parseLong(s.trim))
          catch { case _: NumberFormatException => throw new BadResp(s"bad integer: '$s'") }
        case '*' => A(line().trim.toInt)
        case '$' =>
          val len = line().trim.toInt
          if (pos + len > in.length) throw new BadResp("bulk string truncated")
          val s = in.substring(pos, pos + len)
          pos += len
          S(s)
        case other => throw new BadResp(s"unexpected RESP type byte: '$other'")
      }
    }
  }

  /** Parse one connection payload into records. Malformed trailing garbage
    * raises [[BadResp]] (a bad timestamp [[TimeUtil.BadDateTimeFormat]]);
    * use [[parseLenient]] to keep the good prefix. */
  def parse(payload: String): Seq[Record] = {
    val (recs, bad) = parsePrefix(payload)
    bad.foreach(e => throw e)
    recs
  }

  /** Like [[parse]] but a malformed element only discards the rest of its
    * chunk (the reference parser errors the connection the same way):
    * the records before it are kept. */
  def parseLenient(payload: String): Seq[Record] = parsePrefix(payload)._1

  /** The complete records before the first malformed element, and that
    * element's error (None when the whole payload parsed). Every parse
    * failure is an `IllegalArgumentException` ([[BadResp]],
    * [[TimeUtil.BadDateTimeFormat]], a bad number). */
  private def parsePrefix(
      payload: String): (Seq[Record], Option[IllegalArgumentException]) = {
    val lex = new Lexer(payload)
    val dict = scala.collection.mutable.Map.empty[Long, String]
    val out = Seq.newBuilder[Record]

    def num(el: El): Double = el match {
      case I(v) => v.toDouble
      case S(s) => s.toDouble
      case A(_) => throw new BadResp("expected scalar value, got array")
    }
    def tsOf(el: El): Long = el match {
      case I(v) => v
      case S(s) => TimeUtil.parseIsoOrRaw(s)
      case A(_) => throw new BadResp("expected timestamp, got array")
    }

    try while (!lex.atEnd) {
      lex.next() match {
        case A(2) => // dictionary entry: <series string> <:id>
          (lex.next(), lex.next()) match {
            case (S(name), I(id)) => dict(id) = SeriesName.canonicalize(name)
            case (I(id), S(name)) => dict(id) = SeriesName.canonicalize(name)
            case other => throw new BadResp(s"bad dictionary entry: $other")
          }
        case A(n) => throw new BadResp(s"unexpected array of $n at top level")
        case head =>
          val name = head match {
            case S(s) => SeriesName.canonicalize(s)
            case I(id) => dict.getOrElse(id,
              throw new BadResp(s"unknown dictionary id $id"))
            case A(_) => throw new BadResp("unreachable")
          }
          val ts = tsOf(lex.next())
          val sn = SeriesName.parse(name)
          if (sn.isEvent) {
            lex.next() match {
              case S(body) =>
                // reference limit: an event payload of MAX_EVENT_LEN or
                // more bytes is a protocol error ("event value is too
                // big", protocolparser.cc:409-420; bytes >= 4096 rejects)
                if (body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                    .length >= MaxEventLen)
                  throw new BadResp("event value is too big")
                out += Event(name, ts, body)
              case other => throw new BadResp(s"event body must be a string, got $other")
            }
          } else if (sn.metric.contains('|')) {
            // row protocol: one value per compound sub-metric
            val metrics = sn.metric.split('|').toSeq
            lex.next() match {
              case A(n) =>
                if (n != metrics.size)
                  throw new BadResp(s"row protocol: $n values for ${metrics.size} metrics")
                // all values read before any is kept: a bad value drops
                // its whole row, never half of it
                out ++= metrics.map { m =>
                  Sample(sn.copy(metric = m).render, ts, num(lex.next()))
                }
              case el => throw new BadResp(s"row protocol needs a value array, got $el")
            }
          } else out += Sample(name, ts, num(lex.next()))
      }
    } catch { case e: IllegalArgumentException => return (out.result(), Some(e)) }
    (out.result(), None)
  }

  /** Spark integration: one RESP payload chunk per input row →
    * `(name, ts, value)` samples. Works on batch and streaming Datasets. */
  def toSamples(chunks: Dataset[String]): DataFrame = {
    implicit val enc = Encoders.product[(String, Long, Double)]
    chunks
      .flatMap(c => parseLenient(c).collect { case Sample(n, t, v) => (n, t, v) })
      .toDF("name", "ts", "value")
      .select(xxhash64(col("name")).as("series_id"), col("ts"), col("value"),
        col("name"))
  }
}
