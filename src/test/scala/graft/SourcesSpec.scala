package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.{OpenTsdb, Resp}

/** Ingestion protocol parsers (reference protocolparser.h: RESP data-point/
  * row/dictionary grammars; OpenTSDB telnet puts). */
class SourcesSpec extends AnyFunSuite with SparkTestBase {

  // ---- RESP tokenizer ------------------------------------------------------

  test("RESP data point: string series, int ts, int value") {
    val recs = Resp.parse("+cpu.user host=A\r\n:1700000000000000000\r\n:42\r\n")
    assert(recs === Seq(Resp.Sample("cpu.user host=A", 1700000000000000000L, 42.0)))
  }

  test("RESP string timestamp (ISO basic) and string double value") {
    val recs = Resp.parse("+m t=1\r\n+20240101T000000.5\r\n+3.25\r\n")
    assert(recs === Seq(Resp.Sample("m t=1", 1704067200500000000L, 3.25)))
  }

  test("RESP bulk strings are accepted for series names") {
    val name = "m t=1"
    val recs = Resp.parse(s"$$${name.length}\r\n$name\r\n:5\r\n:1\r\n")
    assert(recs === Seq(Resp.Sample("m t=1", 5L, 1.0)))
  }

  test("RESP row protocol: compound series expands one sample per metric") {
    val recs = Resp.parse("+cpu.user|cpu.sys host=A\r\n:10\r\n*2\r\n+1.5\r\n:7\r\n")
    assert(recs === Seq(
      Resp.Sample("cpu.user host=A", 10L, 1.5),
      Resp.Sample("cpu.sys host=A", 10L, 7.0)))
  }

  test("RESP dictionary preamble resolves integer series refs") {
    val payload = "*2\r\n+mem host=B\r\n:17\r\n" + // dict: id 17 -> series
      ":17\r\n:100\r\n:9\r\n" // point via id
    assert(Resp.parse(payload) === Seq(Resp.Sample("mem host=B", 100L, 9.0)))
  }

  test("RESP event body at the reference byte cap is rejected; below passes") {
    // STDB_LIMITS_MAX_EVENT_LEN = 4096 (basic.h:32): the reference
    // protocol errors when the payload reaches the cap
    // (protocolparser.cc:409-420, bytes_read >= limit) — 4095 bytes is
    // the largest accepted body
    val ok = "x" * (Resp.MaxEventLen - 1)
    val recs = Resp.parse(s"+!alarm host=C\r\n:55\r\n+$ok\r\n")
    assert(recs === Seq(Resp.Event("!alarm host=C", 55L, ok)))
    val big = "x" * Resp.MaxEventLen
    val e = intercept[Resp.BadResp] {
      Resp.parse(s"+!alarm host=C\r\n:55\r\n+$big\r\n")
    }
    assert(e.getMessage.contains("too big"))
    // the cap is in BYTES: 2048 three-byte code points fit in 4095 chars
    // but overflow 4096 bytes
    val wide = "€" * 2048
    intercept[Resp.BadResp] {
      Resp.parse(s"+!alarm host=C\r\n:55\r\n+$wide\r\n")
    }
  }

  test("RESP event series (! prefix) carry string bodies") {
    val recs = Resp.parse("+!alarm host=C\r\n:55\r\n+disk full\r\n")
    assert(recs === Seq(Resp.Event("!alarm host=C", 55L, "disk full")))
  }

  test("RESP series names are canonicalized (tags sorted)") {
    val recs = Resp.parse("+m b=2 a=1\r\n:1\r\n:1\r\n")
    assert(recs.head.name === "m a=1 b=2")
  }

  test("RESP malformed payload: parse throws, parseLenient yields empty") {
    val bad = "+m t=1\r\n:not_an_int\r\n:1\r\n"
    assertThrows[Resp.BadResp](Resp.parse(bad))
    assert(Resp.parseLenient(bad) === Seq.empty)
  }

  test("RESP out-of-range ISO timestamp: parse raises BadDateTimeFormat, parseLenient keeps the good prefix") {
    // hour 25 fails LocalTime.of, not LocalDate.of
    val bad = "+m t=1\r\n:10\r\n:1\r\n+m t=1\r\n+20240101T250000\r\n:2\r\n"
    val e = intercept[graft.time.TimeUtil.BadDateTimeFormat](Resp.parse(bad))
    assert(e.getMessage.contains("20240101T250000"))
    assert(Resp.parseLenient(bad) === Seq(Resp.Sample("m t=1", 10L, 1.0)))
  }

  test("RESP ISO timestamp past the ns-since-epoch range raises BadDateTimeFormat, not ArithmeticException") {
    // 9999-12-31 is a valid date, but its ns count overflows a Long
    val far = "+m t=1\r\n+99991231T000000\r\n:1\r\n"
    intercept[graft.time.TimeUtil.BadDateTimeFormat](Resp.parse(far))
    assert(Resp.parseLenient(far) === Seq.empty)
  }

  test("RESP toSamples integrates with Spark") {
    import spark.implicits._
    val chunks = Seq(
      "+m t=1\r\n:10\r\n:1\r\n+m t=2\r\n:20\r\n:2\r\n",
      "+m t=1\r\n:30\r\n:3\r\n").toDS()
    val out = Resp.toSamples(chunks).orderBy("ts")
      .select("name", "ts", "value").as[(String, Long, Double)].collect()
    assert(out === Array(("m t=1", 10L, 1.0), ("m t=2", 20L, 2.0), ("m t=1", 30L, 3.0)))
  }

  // ---- OpenTSDB line parser ------------------------------------------------

  test("OpenTSDB put lines parse; tags sort into canonical names") {
    import spark.implicits._
    val lines = Seq(
      "put sys.cpu 1700000000 42.5 host=web01 dc=east",
      "put sys.mem 1700000000000 7 host=web01",
      "nonsense line",
      "put short 1").toDF("value")
    val out = OpenTsdb.parseLines(lines).orderBy("name")
      .select("name", "ts", "value").as[(String, Long, Double)].collect()
    assert(out === Array(
      ("sys.cpu dc=east host=web01", 1700000000000000000L, 42.5),
      ("sys.mem host=web01", 1700000000000000000L, 7.0)))
  }

  test("OpenTSDB timestamp unit disambiguation (s/ms/us/ns)") {
    import spark.implicits._
    val lines = Seq(
      "put m 1700000000 1 t=a", // seconds
      "put m 1700000000000 2 t=a", // ms
      "put m 1700000000000000 3 t=a", // us
      "put m 1700000000000000000 4 t=a" // ns
    ).toDF("value")
    val ts = OpenTsdb.parseLines(lines).orderBy("value")
      .select("ts").as[Long].collect()
    assert(ts.toSeq === Seq.fill(4)(1700000000000000000L))
  }

  test("OpenTSDB toSamples/toCatalog split facts from registration") {
    import spark.implicits._
    val lines = Seq(
      "put m 1 1.0 t=a", "put m 2 2.0 t=a", "put m 3 3.0 t=b").toDF("value")
    assert(OpenTsdb.toSamples(lines).count() === 3)
    val cat = OpenTsdb.toCatalog(lines).orderBy("name")
      .select("name", "metric").as[(String, String)].collect()
    assert(cat === Array(("m t=a", "m"), ("m t=b", "m")))
  }
}
