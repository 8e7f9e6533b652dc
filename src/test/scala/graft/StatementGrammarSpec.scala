package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.query.Ast.BadQuery
import graft.query.QueryParser

/** The knn/dedup statement GRAMMAR, pinned (round-13 verdict item 7:
  * ContractProbe's hostile-input matrix promoted into a spec): every
  * refusal is BadQuery with a STABLE message — the statement surface
  * cannot drift without this spec naming the drift. Parser-level only
  * (no SparkSession): these are exactly the refusals the reference
  * hands out at validate_query time (queryparser.cc:920-971). */
class StatementGrammarSpec extends AnyFunSuite {

  private def refuses(json: String, fragment: String): Unit = {
    val e = intercept[BadQuery](QueryParser.parse(json))
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
}
