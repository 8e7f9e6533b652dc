package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.query.Ast.BadQuery
import graft.query.QueryParser

/** The statement GRAMMAR's hostile-input matrix, pinned: every
  * refusal is BadQuery with a STABLE message — the statement surface
  * cannot drift without this spec naming the drift. Parser-level only
  * (no SparkSession): these are exactly the refusals the reference
  * hands out at validate_query time (queryparser.cc:920-971). The
  * refusals that need data (no table registered, apply nodes, output
  * rendering) and the no-match statements are EngineSpec's "hostile
  * inputs" case. */
class StatementGrammarSpec extends AnyFunSuite {

  private def refuses(json: String, fragment: String): Unit = {
    val e = withClue(json)(intercept[BadQuery](QueryParser.parse(json)))
    assert(e.getMessage.contains(fragment),
      s"expected '$fragment' in: ${e.getMessage}")
  }

  test("knn: required fields refuse with their own names") {
    refuses("""{"knn": {"queries": "id < 10", "index": "brute"}}""",
      "knn.k required")
    refuses("""{"knn": {"k": 2, "index": "brute"}}""",
      "knn.queries")
    refuses("""{"knn": {"k": 2, "queries": "id < 10"}}""",
      "knn.index required")
    refuses("""{"knn": {"k": 2, "queries": "", "index": "brute"}}""",
      "knn.queries")
  }

  test("knn: index-family parameter discipline") {
    refuses("""{"knn": {"k": 2, "queries": "id < 1", "index": "hnsw"}}""",
      "unknown knn.index 'hnsw'")
    refuses("""{"knn": {"k": 2, "queries": "id < 1", "index": "ivf"}}""",
      "knn.nlist required for index 'ivf'")
    refuses("""{"knn": {"k": 2, "queries": "id < 1", "index": "ivf",
         "nlist": 2, "nprobe": 5}}""",
      "knn.nprobe (5) exceeds nlist (2)")
    refuses("""{"knn": {"k": 2, "queries": "id < 1", "index": "brute",
         "nlist": 4}}""",
      "knn.nlist only applies to index 'ivf'/'ivfpq'")
    refuses("""{"knn": {"k": 2, "queries": "id < 1", "index": "brute",
         "m": 2}}""",
      "knn.m only applies to index 'ivf'/'ivfpq'")
    refuses("""{"knn": {"k": 2, "queries": "id < 1", "index": "ivf",
         "nlist": 4, "m": 2}}""",
      "knn.m only applies to index 'ivfpq'")
    refuses("""{"knn": {"k": 2, "queries": "id < 1", "index": "ivfpq",
         "nlist": 4}}""",
      "knn.m (PQ subspaces) required for index 'ivfpq'")
    refuses("""{"knn": {"k": 2, "queries": "id < 1", "index": "ivfpq",
         "nlist": 4, "m": 2}}""",
      "knn.ksub (centers per subspace) required for index 'ivfpq'")
    // ...and the happy ivfpq form parses with its parameters intact
    val q = QueryParser.parse(
      """{"knn": {"k": 3, "queries": "id < 10", "index": "ivfpq",
           "nlist": 8, "nprobe": 2, "m": 2, "ksub": 8}}""")
      .asInstanceOf[graft.query.Ast.KnnQuery]
    assert(q.nlist === Some(8) && q.m === Some(2) && q.ksub === Some(8))
  }

  test("knn: integer-typed fields refuse bad types and bad ranges") {
    refuses("""{"knn": {"k": 2.5, "queries": "id < 1", "index": "brute"}}""",
      "knn.k must be an integer")
    refuses("""{"knn": {"k": 0, "queries": "id < 1", "index": "brute"}}""",
      "knn.k must be >= 1")
    refuses("""{"knn": {"k": 2, "queries": "id < 1", "index": "ivf",
         "nlist": 0}}""",
      "knn.nlist must be >= 1")
    refuses("""{"knn": {"k": 2, "queries": "id < 1", "index": "ivfpq",
         "nlist": 4, "m": "two", "ksub": 4}}""",
      "knn.m must be an integer")
  }

  test("knn/dedup: unknown keys and TSDB clauses refuse by name") {
    refuses("""{"knn": {"k": 2, "queries": "id < 1", "index": "brute",
         "zzz": 1}}""",
      "bad knn key(s): zzz")
    refuses("""{"dedup": {"batch": "id > 1", "threshold": 0.8,
         "zzz": 1}}""",
      "bad dedup key(s): zzz")
    refuses("""{"knn": {"k": 2, "queries": "id < 1", "index": "brute"},
         "range": {"from": 0, "to": 1}}""",
      "knn doesn't support 'range'")
    refuses("""{"dedup": {"batch": "id > 1", "threshold": 0.8},
         "limit": 5}""",
      "dedup doesn't support 'limit'")
    refuses("""{"dedup": {"batch": "id > 1", "threshold": 0.8},
         "output": {"format": "csv"}}""",
      "dedup doesn't support 'output'")
    // one-statement-only holds across the TSDB/pipeline halves
    refuses("""{"dedup": {"batch": "id > 1", "threshold": 0.8},
         "select": "m"}""",
      "ambiguous query: multiple statements")
  }

  test("dedup: required fields, threshold domain, banding arithmetic") {
    refuses("""{"dedup": {"threshold": 0.8}}""", "dedup.batch")
    refuses("""{"dedup": {"batch": "id > 1"}}""", "dedup.threshold required")
    refuses("""{"dedup": {"batch": "", "threshold": 0.8}}""", "dedup.batch")
    refuses("""{"dedup": {"batch": "id > 1", "threshold": 0.0}}""",
      "dedup.threshold out of (0, 1]")
    refuses("""{"dedup": {"batch": "id > 1", "threshold": 1.5}}""",
      "dedup.threshold out of (0, 1]")
    refuses("""{"dedup": {"batch": "id > 1", "threshold": "high"}}""",
      "dedup.threshold")
    refuses("""{"dedup": {"batch": "id > 1", "threshold": 0.8,
         "k": 0}}""",
      "dedup.k must be positive")
    refuses("""{"dedup": {"batch": "id > 1", "threshold": 0.8,
         "num-perm": 30, "bands": 8}}""",
      "dedup.num-perm (30) must be a multiple of bands (8)")
    refuses("""{"dedup": {"batch": "id > 1", "threshold": 0.8,
         "num-perm": 2.5}}""",
      "dedup.num-perm must be an integer")
  }

  // group-aggregate-join aligns metrics per series; like join and
  // asof-join it has no re-keying clause, so each one refuses instead
  // of silently returning per-series rows
  private val gaj =
    """"group-aggregate-join": {"metric": ["a", "b"], "step": "1min", "func": "max"}"""

  test("group-aggregate-join refuses group-by") {
    refuses(s"""{$gaj, "group-by": ["host"]}""",
      "group-aggregate-join doesn't support group-by")
  }

  test("group-aggregate-join refuses group-by-tag") {
    refuses(s"""{$gaj, "group-by-tag": ["host"]}""",
      "group-aggregate-join doesn't support group-by")
  }

  test("group-aggregate-join refuses pivot-by-tag") {
    refuses(s"""{$gaj, "pivot-by-tag": ["dc"]}""",
      "group-aggregate-join doesn't support group-by")
  }

  // the two empty where forms used to disagree: `[]` selected every
  // series and `{"k": []}` selected none; both now refuse
  test("where: an empty series list refuses") {
    refuses("""{"select": "cpu", "range": {"from": 0, "to": 10}, "where": []}""",
      "where: empty series list")
  }

  test("where: an empty tag-value list refuses") {
    refuses("""{"select": "cpu", "range": {"from": 0, "to": 10},
         "where": {"host": []}}""",
      "where: empty value list for tag 'host'")
  }

  // the hostile-input matrix of the statement kinds, by kind
  private val r = """"range": {"from": "20240101T000000", "to": "20240401T000000"}"""

  test("statement envelope: malformed JSON, unknown keys, a missing range, an unknown function") {
    refuses("""{"select": "purchase", "range"""", "malformed JSON")
    refuses("""not json at all""", "malformed JSON")
    refuses("""{"bogus": 1}""", "bogus")
    refuses("""{"select": "no_such_metric"}""", "'range' field required")
    refuses("""{"select": "purchase", "where": {"user_id": ["999999"]}}""",
      "'range' field required")
    refuses("""{"aggregate": {"purchase": "sigmoid"}}""",
      "unknown aggregate function: 'sigmoid'")
  }

  test("asof-join and group-aggregate: self-join and a zero step refuse") {
    refuses(s"""{"asof-join": {"left": "click", "right": "click"}, $r}""",
      "asof-join metrics must differ")
    refuses(s"""{"group-aggregate": {"metric": "purchase", "func": "mean",
         "step": "0s"}, $r}""", "group-aggregate.step must be positive")
  }

  test("durations that do not parse refuse with the bad text") {
    def badDuration(json: String, field: String, text: String): Unit = {
      val e = intercept[BadQuery](QueryParser.parse(json))
      assert(e.getMessage === s"$field: bad duration: '$text'")
    }
    badDuration(s"""{"asof-join": {"left": "click", "right": "view",
         "tolerance": "soon"}, $r}""", "asof-join.tolerance", "soon")
    badDuration(s"""{"quantile": {"metric": "purchase", "p": [0.5],
         "step": "later"}, $r}""", "quantile.step", "later")
    badDuration(s"""{"active": {"metric": ["click"], "step": "whenever"},
         $r}""", "active.step", "whenever")
  }

  // each malformed field refuses as BadQuery naming the field — never a
  // NullPointerException, a bare require, a time-grammar or arithmetic
  // exception, or a silent default
  test("a missing step refuses by name, not as a NullPointerException") {
    refuses(s"""{"group-aggregate": {"metric": "purchase", "func": "mean"}, $r}""",
      "group-aggregate.step required")
    refuses(s"""{"group-aggregate-join": {"metric": ["click", "view"],
         "func": "max"}, $r}""", "group-aggregate-join.step required")
  }

  test("a query that is not a JSON object refuses as BadQuery") {
    refuses("""[1, 2]""", "query must be a JSON object")
  }

  test("durations and range timestamps that do not parse name their field") {
    refuses(s"""{"correlate": {"metric": ["click", "view"], "step": "1h",
         "lag": "soon"}, $r}""", "correlate.lag: bad duration: 'soon'")
    refuses(s"""{"trend": {"metric": ["click"], "step": "1h",
         "horizon": "-2h"}, $r}""", "trend.horizon: bad duration: '-2h'")
    refuses("""{"select": "purchase",
         "range": {"from": "yesterday", "to": "20240401T000000"}}""",
      "range.from: empty timestamp value: 'yesterday'")
  }

  test("durations that overflow name their field") {
    refuses(s"""{"group-aggregate": {"metric": "purchase", "func": "mean",
         "step": "9999999999999d"}, $r}""",
      "group-aggregate.step: duration out of range: '9999999999999d'")
    refuses(s"""{"group-aggregate": {"metric": "purchase", "func": "mean",
         "step": "99999999999999999999d"}, $r}""",
      "group-aggregate.step: duration out of range: '99999999999999999999d'")
  }

  test("limit that is not a whole count refuses instead of paging 0 or 2 rows") {
    refuses(s"""{"select": "purchase", $r, "limit": "ten"}""",
      "limit must be a non-negative integer")
    refuses(s"""{"select": "purchase", $r, "limit": 2.7}""",
      "limit must be a non-negative integer")
  }

  test("a value-filter bound that is not a number refuses instead of reading 0.0") {
    refuses(s"""{"join": ["a", "b"], $r, "filter": {"a": {"gt": "x"}}}""",
      "filter.a.gt must be a number")
  }

  test("well-formed spellings keep their AST: digit-string limit, numeric range, unit-less duration") {
    val q = QueryParser.parse(
      """{"group-aggregate": {"metric": "m", "func": "max", "step": "10"},
         "range": {"from": 0, "to": 100}, "limit": "5", "offset": 2}""")
      .asInstanceOf[graft.query.Ast.GroupAggregateQuery]
    assert(q.step === 10L && q.range === graft.query.Ast.TimeRange(0L, 100L))
    assert(q.limit === Some(5L) && q.offset === Some(2L))
  }

  test("where: a listed series must be an object of string tag values") {
    refuses(s"""{"select": "purchase", $r, "where": [5]}""",
      "where: a listed series must be an object of tag values")
    refuses(s"""{"select": "purchase", $r, "where": [{"host": ["a", "b"]}]}""",
      "where.host must be a string")
  }

  test("quantile: p domain, required p, no apply") {
    refuses(s"""{"quantile": {"metric": "purchase", "p": [2.0]}, $r}""",
      "quantile p out of (0, 1]: 2.0")
    refuses(s"""{"quantile": {"metric": "purchase"}, $r}""",
      "quantile.p required")
    refuses(s"""{"quantile": {"metric": "purchase", "p": [0.5]}, $r,
         "apply": [{"name": "abs"}]}""", "quantile doesn't support 'apply'")
  }

  test("correlate and autocorr: metric count, whole-step lags, no limit") {
    refuses(s"""{"correlate": {"metric": ["click"], "step": "1h"}, $r}""",
      "correlate requires >= 2 metrics")
    refuses(s"""{"correlate": {"metric": ["click", "view"], "step": "1h",
         "lag": "90m"}, $r}""", "correlate.lag must be a whole number of steps")
    refuses(s"""{"correlate": {"metric": ["click", "view"], "step": "1h"},
         $r, "limit": 5}""", "correlate doesn't support 'limit'")
    refuses(s"""{"autocorr": {"metric": ["click"], "step": "1h"}, $r}""",
      "autocorr.lags required")
    refuses(s"""{"autocorr": {"metric": ["click"], "step": "1h",
         "lags": ["90m"]}, $r}""", "autocorr lag must be a whole number of steps")
    refuses(s"""{"autocorr": {"metric": ["click"], "step": "1h",
         "lags": ["0s"]}, $r}""", "autocorr lag must be positive (got 0s)")
  }

  test("active and distinct: metric list, output, tag and k discipline") {
    refuses(s"""{"active": {"metric": []}, $r}""",
      "active requires at least one metric")
    refuses(s"""{"active": {"metric": ["click"]}, $r,
         "output": {"format": "csv"}}""", "active doesn't support 'output'")
    refuses(s"""{"distinct": {"metric": ["click"]}, $r}""",
      "'distinct.tag' field required")
    refuses(s"""{"distinct": {"metric": ["click"], "tag": "user", "k": 1},
         $r}""", "distinct.k must be in [2, 65536] (got 1)")
    refuses(s"""{"distinct": {"metric": ["click"], "tag": "user", "k": 2.5},
         $r}""", "distinct.k must be an integer")
  }

  test("sessions, changepoints and trend: gaps, thresholds, windows and steps") {
    refuses(s"""{"sessions": {"metric": "click"}, $r}""",
      "sessions.gap required")
    refuses(s"""{"sessions": {"metric": "click", "gap": "0s"}, $r}""",
      "sessions.gap must be positive")
    refuses(s"""{"changepoints": {"metric": ["click"], "step": "1d"}, $r}""",
      "'changepoints.min-shift' field required")
    refuses(s"""{"changepoints": {"metric": ["click"], "step": "1d",
         "window": 0, "min-shift": 1.0}, $r}""",
      "changepoints.window must be in [1, 4096] (got 0)")
    refuses(s"""{"trend": {"metric": ["click"], "step": "500n"}, $r}""",
      "trend.step must be a whole number of microseconds (got 500 ns)")
    refuses(s"""{"trend": {"metric": ["click"], "step": "1d",
         "horizon": "36h"}, $r}""", "trend.horizon must be a whole number of steps")
  }

  test("gaps, stale and anomaly: one threshold, a forward range, a rate domain") {
    refuses(s"""{"gaps": {"metric": "click", "min-gap": "1h", "factor": 3.0},
         $r}""", "gaps requires exactly one of 'min-gap' (absolute) or 'factor'")
    refuses(s"""{"gaps": {"metric": "click", "min-gap": "0s"}, $r}""",
      "gaps.min-gap must be positive")
    refuses("""{"stale": {"metric": "click", "older-than": "12h"},
         "range": {"from": "20240401T000000", "to": "20240101T000000"}}""",
      "stale requires a forward range (to = now)")
    refuses(s"""{"anomaly": {"metric": "click", "rate": 2.0}, $r}""",
      "anomaly.rate out of (0, 1]: 2.0")
  }

  test("where-location: exactly one of box or knn, positive k, not on suggest") {
    refuses(s"""{"select": "purchase", $r, "where-location": {
         "box": {"lon": [0, 1], "lat": [0, 1]},
         "knn": {"lon": 0, "lat": 0, "k": 1}}}""",
      "where-location needs exactly one of 'box' or 'knn'")
    refuses(s"""{"select": "purchase", $r, "where-location": {
         "knn": {"lon": 0, "lat": 0, "k": -3}}}""",
      "where-location.knn.k must be positive")
    refuses("""{"select": "metric-names",
         "where-location": {"knn": {"lon": 0, "lat": 0, "k": 1}}}""",
      "suggest query doesn't support 'where-location'")
  }
}
