package graft.time

import java.time.{LocalDate, LocalDateTime, ZoneOffset}

/** Nanosecond-precision time utilities.
  *
  * The engine keeps every timestamp as a `Long` count of UTC nanoseconds
  * since the Unix epoch; conversion to Spark's microsecond `TimestampType`
  * happens only at the presentation edge. Semantics follow the reference
  * TSDB's datetime layer (see /root/reference/stdb/common/datetime.cc:60-229):
  * ISO-8601 *basic* format timestamps (`20141210T074343.999999999`, UTC only)
  * and a compact duration grammar (`1n|1us|1ms|1s|1min|1m|1h|1d`).
  */
object TimeUtil {

  final class BadDateTimeFormat(msg: String) extends IllegalArgumentException(msg)

  val NsPerUs: Long = 1000L
  val NsPerMs: Long = 1000000L
  val NsPerSec: Long = 1000000000L
  val NsPerMin: Long = 60L * NsPerSec
  val NsPerHour: Long = 3600L * NsPerSec
  val NsPerDay: Long = 86400L * NsPerSec

  /** Parse an ISO-8601 basic timestamp (`YYYYMMDDThhmmss[.f{1..9}]`) or a
    * raw integer nanosecond count. Mirrors the reference's rules: leading
    * non-digits are trimmed; strings shorter than 15 chars or without 'T' at
    * index 8 are treated as raw ns integers; the fractional part is
    * right-padded to 9 digits (i.e. `.5` means 500,000,000 ns).
    */
  def parseIsoOrRaw(input: String): Long = {
    var s = input
    // trim left up to first digit
    var i = 0
    while (i < s.length && !s.charAt(i).isDigit) i += 1
    s = s.substring(i)
    if (s.isEmpty) throw new BadDateTimeFormat(s"empty timestamp value: '$input'")
    if (s.length < 15 || s.charAt(8) != 'T') {
      // raw ns timestamp
      try java.lang.Long.parseLong(s)
      catch {
        case _: NumberFormatException =>
          throw new BadDateTimeFormat(s"unknown timestamp format: '$input'")
      }
    } else parseIsoBasic(s)
  }

  /** Strict ISO-basic parser. `s` must start with `YYYYMMDDThhmmss`. */
  def parseIsoBasic(s: String): Long = {
    def digits(off: Int, n: Int): Int = {
      var v = 0
      var j = 0
      while (j < n) {
        val c = s.charAt(off + j)
        if (c < '0' || c > '9') throw new BadDateTimeFormat(s"bad digit in '$s' at ${off + j}")
        v = v * 10 + (c - '0')
        j += 1
      }
      v
    }
    if (s.length < 15) throw new BadDateTimeFormat(s"timestamp too short: '$s'")
    val year = digits(0, 4); val month = digits(4, 2); val day = digits(6, 2)
    if (s.charAt(8) != 'T') throw new BadDateTimeFormat(s"'T' expected in '$s'")
    val hour = digits(9, 2); val minute = digits(11, 2); val second = digits(13, 2)
    var nanos = 0L
    if (s.length > 15) {
      val sep = s.charAt(15)
      if (sep != '.' && sep != ',') throw new BadDateTimeFormat(s"',' or '.' expected in '$s'")
      val frac = s.substring(16)
      if (frac.isEmpty || frac.length > 9) throw new BadDateTimeFormat(s"bad fractional part in '$s'")
      var v = 0L
      frac.foreach { c =>
        if (c < '0' || c > '9') throw new BadDateTimeFormat(s"bad fractional digit in '$s'")
        v = v * 10 + (c - '0')
      }
      nanos = v * math.pow(10, 9 - frac.length).toLong
    }
    // an out-of-range field (month 13, hour 25) or an instant past the
    // ns-since-epoch range is a bad timestamp, not a crash
    try {
      val epochSec = LocalDateTime.of(LocalDate.of(year, month, day),
        java.time.LocalTime.of(hour, minute, second)).toEpochSecond(ZoneOffset.UTC)
      Math.addExact(Math.multiplyExact(epochSec, NsPerSec), nanos)
    } catch {
      case e @ (_: java.time.DateTimeException | _: ArithmeticException) =>
        throw new BadDateTimeFormat(s"bad timestamp '$s': ${e.getMessage}")
    }
  }

  /** Render ns-since-epoch as ISO-basic `YYYYMMDDThhmmss.nnnnnnnnn` (UTC). */
  def toIsoBasic(ts: Long): String = {
    val sec = Math.floorDiv(ts, NsPerSec)
    val nanos = Math.floorMod(ts, NsPerSec)
    val dt = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC)
    f"${dt.getYear}%04d${dt.getMonthValue}%02d${dt.getDayOfMonth}%02dT" +
      f"${dt.getHour}%02d${dt.getMinute}%02d${dt.getSecond}%02d.$nanos%09d"
  }

  private val DurationRe = """^(\d+)(n|us|s|min|ms|m|h|d)?$""".r

  /** Parse a duration like `5s`, `30min`, `1m` (minute), `10ms`, `7d` into ns.
    * No unit means nanoseconds. Grammar from the reference duration parser.
    */
  def parseDuration(s: String): Long = s match {
    case DurationRe(num, unit) =>
      val k = unit match {
        case null | "n" => 1L
        case "us"       => NsPerUs
        case "ms"       => NsPerMs
        case "s"        => NsPerSec
        case "m" | "min" => NsPerMin
        case "h"        => NsPerHour
        case "d"        => NsPerDay
      }
      Math.multiplyExact(num.toLong, k)
    case _ => throw new BadDateTimeFormat(s"bad duration: '$s'")
  }
}
