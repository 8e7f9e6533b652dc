package graft.query

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.time.TimeUtil
import scala.jdk.CollectionConverters._

/** JSON → [[Ast.Query]] front end for the reference TSDB query language.
  *
  * Query kind = which of the mutually-exclusive statement keys is present —
  * the reference's six plus the beyond-reference kinds
  * (reference queryparser.cc:887-918); shared clause grammar per SURVEY §2.2.
  * Every field is read through one set of typed readers ([[Fields]]), so
  * every malformed field refuses as a [[Ast.BadQuery]] naming it.
  * The two known reference bugs in limit/offset handling
  * (queryparser.cc:624 assigns offset into limit; limiter.cc never counts
  * skipped rows) are deliberately NOT replicated — `limit`/`offset` here have
  * standard semantics.
  */
object QueryParser {
  import Ast._

  private val mapper = new ObjectMapper()

  def parse(json: String): Query = parseNode(readTree(json))

  /** Malformed JSON is a BadQuery like every other malformed query — one
    * exception type at the library boundary, not Jackson internals. */
  private[query] def readTree(json: String) =
    try mapper.readTree(json)
    catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        throw new BadQuery(s"malformed JSON: ${e.getOriginalMessage}")
    }

  /** Statement key → its parser: the mutually-exclusive statements, the
    * reference's six (validate_query, queryparser.cc:920-971: exactly one
    * must be present) plus the beyond-reference kinds. */
  private val statements: Map[String, JsonNode => Query] = Map(
    "select" -> (parseSelectKind _), "select-events" -> (parseSelectEvents _),
    "aggregate" -> (parseAggregate _), "group-aggregate" -> (parseGroupAggregate _),
    "join" -> (parseJoin _), "group-aggregate-join" -> (parseGroupAggregateJoin _),
    "asof-join" -> (parseAsofJoin _), "quantile" -> (parseQuantile _),
    "correlate" -> (parseCorrelate _), "trend" -> (parseTrend _),
    "autocorr" -> (parseAutocorr _), "active" -> (parseActive _),
    "distinct" -> (parseDistinct _), "changepoints" -> (parseChangepoints _),
    "sessions" -> (parseSessions _), "seasonal" -> (parseSeasonal _),
    "gaps" -> (parseGaps _), "stale" -> (parseStale _),
    "anomaly" -> (parseAnomaly _), "knn" -> (parseKnn _), "dedup" -> (parseDedup _))

  /** Statement whitelist (reference validate_query, queryparser.cc:920-971:
    * exactly one statement, only known clause keys; `output` drives the
    * sink-side rendering, [[parseOutputSpec]] + engine executeRendered). */
  private val clauseKeys = Set(
    "range", "where", "filter", "order-by", "group-by", "group-by-tag",
    "pivot-by-tag", "limit", "offset", "apply", "output",
    "metric", "tag", "starts-with", "where-location")

  def parseNode(root: JsonNode): Query = {
    if (root == null || !root.isObject)
      throw new BadQuery("query must be a JSON object")
    val keys = root.fieldNames().asScala.toSeq
    val present = keys.filter(statements.contains)
    if (present.size > 1)
      throw new BadQuery(s"ambiguous query: multiple statements ${present.mkString(", ")}")
    val unknown = keys.filterNot(k => statements.contains(k) || clauseKeys(k))
    if (unknown.nonEmpty)
      throw new BadQuery(s"unknown query field(s): ${unknown.mkString(", ")}")
    present.headOption.map(statements(_)(root))
      .getOrElse(throw new BadQuery("no statement found in query"))
  }

  /** Typed readers over one JSON object: a statement's body (`stmt` is its
    * key), a nested clause object, or the query root (`stmt` empty). Each
    * refusal is a BadQuery naming the field as `<stmt>.<field>`, and the
    * duration, timestamp and number grammars' own failures (bad text,
    * overflow) are converted HERE — no malformed field escapes as another
    * exception type or silently reads as a default. */
  private final class Fields(node: JsonNode, stmt: String) {
    private val at = if (stmt.isEmpty) "" else stmt + "."
    private def who(f: String) = if (stmt.isEmpty) f else stmt

    def keys: Seq[String] = node.fieldNames().asScala.toSeq
    def has(f: String): Boolean = node.has(f)
    def get(f: String): Option[JsonNode] = Option(node.get(f))
    def fail(f: String, why: String): Nothing =
      throw new BadQuery(s"$at$f $why")
    def refuse(f: String, sentence: String): Nothing =
      throw new BadQuery(s"$at$f: $sentence")
    def missing(f: String): Nothing = fail(f, "required")

    def text(f: String): Option[String] = get(f).map { n =>
      if (!n.isTextual) fail(f, "must be a string")
      n.asText()
    }
    def metric(f: String = "metric"): String = text(f).getOrElse(missing(f))

    /** One name or a list of names (metrics, functions, tags), each a
      * string; at least `min` of them, pairwise distinct if asked. */
    def names(f: String, min: Int = 0, what: String = "metric",
        distinct: Boolean = false): Option[Seq[String]] = get(f).map { n =>
      val ns = (if (n.isArray) n.asScala.toSeq else Seq(n)).map { e =>
        if (!e.isTextual) fail(f, "must be a string or a list of strings")
        e.asText()
      }
      if (ns.size < min) refuse(f, s"${who(f)} requires " +
        (if (min == 1) s"at least one $what" else s">= $min ${what}s"))
      if (distinct && ns.distinct.size != ns.size)
        refuse(f, s"${who(f)} ${what}s must be distinct")
      ns
    }
    def metrics(min: Int, distinct: Boolean = false): Seq[String] =
      names("metric", min, distinct = distinct).getOrElse(missing("metric"))

    def duration(f: String, positive: Boolean = true,
        wholeMicros: Boolean = false): Option[Long] =
      get(f).map(durationOf(f, _, positive, wholeMicros))

    /** The duration grammar (`5s`, `30min`, unit-less = ns). Bin-sizing
      * durations must be positive — "0s" would reach plan construction as
      * a divide/modulo by zero. Steps whose output rows carry a µs bin
      * timestamp (`ts_us`) must also be a whole number of µs: a sub-µs
      * step would collapse distinct bins onto one label. */
    def durationOf(f: String, n: JsonNode, positive: Boolean = true,
        wholeMicros: Boolean = false): Long = {
      val txt = n.asText()
      val v = try TimeUtil.parseDuration(txt) catch {
        case e: TimeUtil.BadDateTimeFormat => refuse(f, e.getMessage)
        case _: ArithmeticException | _: NumberFormatException =>
          refuse(f, s"duration out of range: '$txt'")
      }
      if (positive && v <= 0) fail(f, "must be positive")
      if (wholeMicros && v % 1000 != 0)
        fail(f, s"must be a whole number of microseconds (got $v ns)")
      v
    }

    /** A range bound: ISO-basic text, raw-ns text, or an integer ns. */
    def timestamp(f: String): Long = get(f).map { n =>
      if (n.isIntegralNumber && n.canConvertToLong) n.asLong()
      else if (!n.isTextual) fail(f, "must be a timestamp (ISO-basic text or integer ns)")
      else try TimeUtil.parseIsoOrRaw(n.asText()) catch {
        case e: TimeUtil.BadDateTimeFormat => refuse(f, e.getMessage)
        case _: ArithmeticException | _: java.time.DateTimeException =>
          refuse(f, s"timestamp out of range: '${n.asText()}'")
      }
    }.getOrElse(missing(f))

    /** An integer in [lo, hi]; `domain` words the bound when given. */
    def int(f: String, lo: Int, hi: Int = Int.MaxValue,
        domain: String = ""): Option[Int] = get(f).map { n =>
      // isIntegralNumber: canConvertToInt alone admits 2.5 (it checks
      // range, not integrality) and asInt would silently truncate it
      if (!n.isIntegralNumber || !n.canConvertToInt) fail(f, "must be an integer")
      val v = n.asInt()
      if (v < lo || v > hi) fail(f, "must be " + (if (domain.nonEmpty) domain
        else if (hi < Int.MaxValue) s"in [$lo, $hi]" else s">= $lo") + s" (got $v)")
      v
    }

    /** A row count (`limit`/`offset`): a non-negative integer, or its
      * digit string. */
    def count(f: String): Option[Long] = get(f).map { n =>
      (if (n.isTextual) n.asText().toLongOption
       else if (n.isIntegralNumber && n.canConvertToLong) Some(n.asLong())
       else None).filter(_ >= 0)
        .getOrElse(fail(f, s"must be a non-negative integer (got $n)"))
    }

    /** A finite number; `positive` is (0, ∞), `atMostOne` is (0, 1]. */
    def double(f: String, positive: Boolean = false,
        atMostOne: Boolean = false): Option[Double] = get(f).map { n =>
      val v = n.asDouble()
      if (!n.isNumber || v.isInfinite) fail(f, "must be a number")
      if (atMostOne && !(v > 0 && v <= 1)) fail(f, s"out of (0, 1]: ${n.asText()}")
      if (positive && !(v > 0)) fail(f, s"must be positive (got ${n.asText()})")
      v
    }

    /** Quantile levels in (0, 1] — (0, 1) unless `one` — one literal or a
      * list. The caller's decimal TEXT is kept: output p labels carry the
      * literals the caller wrote (and an oracle replays). That holds
      * exactly for STRING-typed entries ("0.50" → "0.50"); JSON number
      * nodes are normalized by the JSON parser before asText ([0.50] →
      * "0.5") — callers who need a specific label write strings
      * (QUERYLANG.md). */
    def levels(f: String, one: Boolean): Option[Seq[String]] = get(f).map { n =>
      (if (n.isArray) n.asScala.toSeq else Seq(n)).map { e =>
        val txt = e.asText()
        val v = scala.util.Try(txt.toDouble).getOrElse(refuse(f, s"bad $stmt p '$txt'"))
        if (v.isNaN || v <= 0 || v > 1 || (!one && v == 1))
          refuse(f, s"$stmt p out of (0, 1${if (one) "]" else ")"}: $txt")
        txt
      }
    }
  }

  /** The object at `n` read as [[Fields]] named `stmt`; with `keys`, only
    * those keys are allowed (validate_query's one-place check). */
  private def obj(n: JsonNode, stmt: String, keys: String*): Fields = {
    if (n == null || !n.isObject) throw new BadQuery(s"$stmt must be an object")
    val unknown = n.fieldNames().asScala.filterNot(keys.contains).toSeq
    if (keys.nonEmpty && unknown.nonEmpty)
      throw new BadQuery(s"bad $stmt key(s): ${unknown.mkString(", ")}")
    new Fields(n, stmt)
  }
  private def statement(root: JsonNode, name: String, keys: String*): Fields =
    obj(root.get(name), name, keys: _*)
  private def clauses(root: JsonNode) = new Fields(root, "")

  /** `search()` entry point: same shape as select but only metadata returned. */
  def parseSearch(json: String): SearchQuery = {
    val root = readTree(json)
    rejectLocation(root, "search query")
    SearchQuery(selectOf(root), parseWhere(root),
      optLong(root, "limit"), optLong(root, "offset"))
  }

  private def selectOf(root: JsonNode): String =
    clauses(root).text("select").getOrElse(
      throw new BadQuery("'select' field required"))

  /** The `output` clause (validated; defaults resp/raw). */
  def parseOutputSpec(json: String): OutputSpec =
    Option(readTree(json).get("output")).map { o =>
      val fmt = Option(o.get("format")).map(_.asText()).getOrElse("resp")
      if (!Seq("resp", "csv").contains(fmt))
        throw new BadQuery(s"bad output format: '$fmt'")
      val tsf = Option(o.get("timestamp")).map(_.asText()).getOrElse("raw")
      if (!Seq("raw", "iso").contains(tsf))
        throw new BadQuery(s"bad output timestamp format: '$tsf'")
      OutputSpec(fmt, tsf)
    }.getOrElse(OutputSpec())

  // ---- per-kind ----

  private def parseSelectKind(root: JsonNode): Query = {
    val sel = selectOf(root)
    if (sel.startsWith("meta:names")) parseMeta(root, sel)
    else if (sel == "metric-names" || sel == "tag-names" || sel == "tag-values") parseSuggest(root, sel)
    else SelectQuery(sel, parseRange(root), parseWhere(root),
      parseSingleFilter(root), parseOrderBy(root), parseGroupBy(root),
      optLong(root, "limit"), optLong(root, "offset"), parseApply(root),
      parseLocation(root))
  }

  private def parseSelectEvents(root: JsonNode): SelectEventsQuery = {
    val c = clauses(root)
    val metric = c.metric("select-events")
    if (!metric.startsWith("!"))
      throw new BadQuery(s"event name should start with '!': '$metric'")
    SelectEventsQuery(metric, parseRange(root), c.text("filter"), parseWhere(root),
      parseOrderBy(root), parseGroupBy(root),
      optLong(root, "limit"), optLong(root, "offset"), parseApply(root),
      parseLocation(root))
  }

  private def parseAggregate(root: JsonNode): AggregateQuery = {
    if (root.has("order-by"))
      throw new BadQuery("aggregate query doesn't support 'order-by'")
    val s = statement(root, "aggregate")
    if (s.keys.isEmpty)
      throw new BadQuery("aggregate statement must be a non-empty object")
    val funcs = s.keys.flatMap(m => s.names(m, 1, "aggregate function").get
      .map(f => m -> AggFunc.fromToken(f)))
    val dups = funcs.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    if (dups.nonEmpty) throw new BadQuery(s"duplicate aggregate entries: $dups")
    AggregateQuery(funcs, parseOptRange(root), parseWhere(root), parseGroupBy(root),
      optLong(root, "limit"), optLong(root, "offset"), parseApply(root),
      parseLocation(root))
  }

  private def parseGroupAggregate(root: JsonNode): GroupAggregateQuery = {
    val s = statement(root, "group-aggregate", "metric", "func", "step")
    val metrics = s.metrics(1)
    val funcs = s.names("func", 1, "aggregate function").getOrElse(s.missing("func"))
      .map(AggFunc.fromToken)
    val step = s.duration("step").getOrElse(s.missing("step"))
    val (filters, comb) = parseNamedFilters(root)
    GroupAggregateQuery(metrics, funcs, step, parseRange(root), parseWhere(root),
      filters, comb, parseOrderBy(root), parseGroupBy(root),
      optLong(root, "limit"), optLong(root, "offset"), parseApply(root),
      parseLocation(root))
  }

  private def parseJoin(root: JsonNode): JoinQuery = {
    val metrics = clauses(root).names("join", 2).get
    rejectGroupBy(root, "join")
    val (filters, comb) = parseNamedFilters(root)
    JoinQuery(metrics, parseRange(root), parseWhere(root), filters, comb,
      parseOrderBy(root), optLong(root, "limit"), optLong(root, "offset"),
      parseApply(root), parseLocation(root))
  }

  /** Beyond-reference `asof-join` (see [[Ast.AsofJoinQuery]]). */
  private def parseAsofJoin(root: JsonNode): AsofJoinQuery = {
    val s = statement(root, "asof-join", "left", "right", "tolerance")
    val (l, r) = (s.metric("left"), s.metric("right"))
    if (l == r) throw new BadQuery("asof-join metrics must differ")
    rejectGroupBy(root, "asof-join")
    val tol = s.duration("tolerance", positive = false)
    // per-side filters run before alignment, so the cross-column ALL/ANY
    // combiner has nothing to combine — reject rather than ignore it
    val (filters, _) = parseNamedFilters(root)
    if (Option(root.get("filter")).exists(_.has("=")))
      throw new BadQuery("asof-join filters apply per side before alignment; '=' combiner is not supported")
    filters.keys.filterNot(k => k.isEmpty || k == l || k == r).foreach(k =>
      throw new BadQuery(s"filter names unknown metric '$k'"))
    AsofJoinQuery(l, r, parseRange(root), tol, parseWhere(root), filters,
      parseOrderBy(root), optLong(root, "limit"), optLong(root, "offset"),
      parseApply(root), parseLocation(root))
  }

  /** The aligning statements have no re-keying clause: each one refuses
    * instead of silently returning per-series rows. */
  private def rejectGroupBy(root: JsonNode, stmt: String): Unit =
    if (root.has("group-by-tag") || root.has("group-by") || root.has("pivot-by-tag"))
      throw new BadQuery(s"$stmt doesn't support group-by")

  /** Statements whose output has no per-sample rows reject the
    * sample-stream clauses (and the RESP/CSV renderers) loudly —
    * never ignore a clause. `allowGroupBy` admits the group-by-tag
    * re-keying for statements whose per-series state merges exactly
    * under it (histogram counts — quantile, seasonal). */
  private def rejectSampleClauses(root: JsonNode, stmt: String,
      allowGroupBy: Boolean = false, allowFilter: Boolean = false): Unit = {
    val groupKeys =
      if (allowGroupBy) Nil
      else Seq("group-by", "group-by-tag", "pivot-by-tag")
    val filterKeys = if (allowFilter) Nil else Seq("filter")
    (Seq("apply", "order-by", "limit", "offset", "output") ++
        filterKeys ++ groupKeys)
      .filter(root.has).foreach(k =>
        throw new BadQuery(s"$stmt doesn't support '$k'"))
  }

  /** The pipeline statements operate on registered tables, not the
    * fact layout — every TSDB clause is meaningless for them, so all
    * of them reject loudly rather than being silently ignored. */
  private def rejectTsdbClauses(root: JsonNode, stmt: String): Unit =
    clauseKeys.toSeq.sorted.filter(root.has).foreach(k =>
      throw new BadQuery(s"$stmt doesn't support '$k'"))

  /** Beyond-reference `knn` (see [[Ast.KnnQuery]]). */
  private def parseKnn(root: JsonNode): KnnQuery = {
    val s = statement(root, "knn", "k", "queries", "index", "nlist", "nprobe",
      "iters", "m", "ksub")
    rejectTsdbClauses(root, "knn")
    val k = s.int("k", 1).getOrElse(s.missing("k"))
    val queries = s.text("queries").filter(_.nonEmpty).getOrElse(s.fail("queries",
      "(a boolean SQL predicate over the embeddings table) required"))
    val index = s.text("index")
      .getOrElse(s.fail("index", "required: 'brute', 'ivf' or 'ivfpq'"))
    def ivfCommon(): (Int, Int) = {
      val nlist = s.int("nlist", 1)
        .getOrElse(s.fail("nlist", s"required for index '$index'"))
      val nprobe = s.int("nprobe", 1).getOrElse(2)
      if (nprobe > nlist) s.fail("nprobe", s"($nprobe) exceeds nlist ($nlist)")
      (nlist, nprobe)
    }
    index match {
      case "brute" =>
        Seq("nlist", "nprobe", "iters", "m", "ksub").filter(s.has)
          .foreach(s.fail(_, "only applies to index 'ivf'/'ivfpq'"))
        KnnQuery(k, queries, "brute")
      case "ivf" =>
        Seq("m", "ksub").filter(s.has).foreach(s.fail(_, "only applies to index 'ivfpq'"))
        val (nlist, nprobe) = ivfCommon()
        KnnQuery(k, queries, "ivf", Some(nlist), nprobe,
          s.int("iters", 0).getOrElse(2))
      case "ivfpq" =>
        val (nlist, nprobe) = ivfCommon()
        val m = s.int("m", 1).getOrElse(
          s.fail("m", "(PQ subspaces) required for index 'ivfpq'"))
        val ksub = s.int("ksub", 1).getOrElse(
          s.fail("ksub", "(centers per subspace) required for index 'ivfpq'"))
        KnnQuery(k, queries, "ivfpq", Some(nlist), nprobe,
          s.int("iters", 0).getOrElse(2), Some(m), Some(ksub))
      case other =>
        throw new BadQuery(
          s"unknown knn.index '$other' ('brute', 'ivf' or 'ivfpq')")
    }
  }

  /** Beyond-reference `dedup` (see [[Ast.DedupQuery]]). */
  private def parseDedup(root: JsonNode): DedupQuery = {
    val s = statement(root, "dedup", "batch", "threshold", "k", "num-perm", "bands")
    rejectTsdbClauses(root, "dedup")
    val batch = s.text("batch").filter(_.nonEmpty).getOrElse(s.fail("batch",
      "(a boolean SQL predicate over the documents table selecting the " +
        "arriving batch) required"))
    val threshold = s.double("threshold", atMostOne = true)
      .getOrElse(s.missing("threshold"))
    def count(f: String, default: Int) =
      s.int(f, 1, domain = "positive").getOrElse(default)
    val (k, numPerm, bands) = (count("k", 3), count("num-perm", 32), count("bands", 8))
    if (numPerm % bands != 0)
      s.fail("num-perm", s"($numPerm) must be a multiple of bands ($bands)")
    DedupQuery(batch, threshold, k, numPerm, bands)
  }

  /** Beyond-reference `seasonal` (see [[Ast.SeasonalQuery]]). */
  private def parseSeasonal(root: JsonNode): SeasonalQuery = {
    val s = statement(root, "seasonal", "metric", "period", "bin", "p")
    val metric = s.metric()
    val period = s.duration("period").getOrElse(s.missing("period"))
    val bin = s.duration("bin").getOrElse(s.missing("bin"))
    if (period % bin != 0)
      s.fail("bin", s"must divide the period (period $period, bin $bin)")
    // exactly two ascending levels, the quantile statement's
    // text-preservation rule
    val ps = s.levels("p", one = false).getOrElse(Seq("0.25", "0.75"))
    if (ps.size != 2 || !s.get("p").forall(_.isArray))
      s.fail("p", "must be a two-element array")
    if (ps(0).toDouble >= ps(1).toDouble) s.fail("p", "must be ascending")
    rejectSampleClauses(root, "seasonal", allowGroupBy = true)
    SeasonalQuery(metric, period, bin, ps(0), ps(1), parseRange(root),
      parseWhere(root), parseGroupBy(root), parseLocation(root))
  }

  /** Beyond-reference `sessions` (see [[Ast.SessionsQuery]]). */
  private def parseSessions(root: JsonNode): SessionsQuery = {
    val s = statement(root, "sessions", "metric", "gap")
    val metric = s.metric()
    val gap = s.duration("gap").getOrElse(s.missing("gap"))
    rejectSampleClauses(root, "sessions")
    SessionsQuery(metric, gap, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `gaps` (see [[Ast.GapsQuery]]). */
  private def parseGaps(root: JsonNode): GapsQuery = {
    val s = statement(root, "gaps", "metric", "min-gap", "factor")
    val metric = s.metric()
    val minGap = s.duration("min-gap")
    val factor = s.double("factor", positive = true)
    if (minGap.isDefined == factor.isDefined)
      throw new BadQuery(
        "gaps requires exactly one of 'min-gap' (absolute) or 'factor' (adaptive)")
    rejectSampleClauses(root, "gaps")
    GapsQuery(metric, minGap, factor, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `anomaly` (see [[Ast.AnomalyQuery]]). */
  private def parseAnomaly(root: JsonNode): AnomalyQuery = {
    val s = statement(root, "anomaly", "metric", "c", "rate")
    val metric = s.metric()
    val c = s.double("c", positive = true).getOrElse(3.0)
    val rate = s.double("rate", atMostOne = true)
    rejectSampleClauses(root, "anomaly")
    AnomalyQuery(metric, c, rate, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `stale` (see [[Ast.StaleQuery]]). */
  private def parseStale(root: JsonNode): StaleQuery = {
    val s = statement(root, "stale", "metric", "older-than")
    val metric = s.metric()
    val olderThan = s.duration("older-than").getOrElse(s.missing("older-than"))
    val range = parseRange(root)
    // staleness is judged against the range's HIGH end as "now"; a
    // backward range has the same samples but reads as a window ending
    // at `from` — reject rather than guess which end the caller meant
    if (!range.forward)
      throw new BadQuery("stale requires a forward range (to = now)")
    rejectSampleClauses(root, "stale")
    StaleQuery(metric, olderThan, range, parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `active` (see [[Ast.ActiveQuery]]). */
  private def parseActive(root: JsonNode): ActiveQuery = {
    val s = statement(root, "active", "metric", "step")
    val metrics = s.metrics(1)
    val step = s.duration("step", wholeMicros = true)
    rejectSampleClauses(root, "active")
    ActiveQuery(metrics, step, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `distinct` (see [[Ast.DistinctQuery]]). */
  private def parseDistinct(root: JsonNode): DistinctQuery = {
    val s = statement(root, "distinct", "metric", "tag", "k", "step")
    val metrics = s.metrics(1)
    val tag = s.text("tag").getOrElse(
      throw new BadQuery("'distinct.tag' field required (a string)"))
    if (tag.isEmpty) s.fail("tag", "must be non-empty")
    // k = 1 has no k-th minimum to estimate from; huge k defeats the
    // sketch's point and the 8k-byte-per-group bound the docs promise
    val k = s.int("k", 2, 65536).getOrElse(256)
    val step = s.duration("step", wholeMicros = true)
    rejectSampleClauses(root, "distinct", allowFilter = true)
    // BARE form only ({"gt": x, ...}): the named form has per-metric
    // semantics this multi-metric statement doesn't implement —
    // parseSingleFilter would silently take names.head and apply that
    // one predicate to EVERY metric (wrong answers, no error)
    val filter = Option(root.get("filter")).map { f =>
      if (!isBareFilter(f))
        throw new BadQuery(
          "distinct supports only the bare filter form {\"gt\"/\"ge\"/\"lt\"/\"le\": x}")
      valueFilter("filter", f)
    }.filter(!_.isEmpty)
    DistinctQuery(metrics, tag, k, step, parseRange(root), parseWhere(root),
      filter, parseLocation(root))
  }

  /** Beyond-reference `changepoints` (see [[Ast.ChangepointsQuery]]). */
  private def parseChangepoints(root: JsonNode): ChangepointsQuery = {
    val s = statement(root, "changepoints", "metric", "step", "window", "min-shift")
    val metrics = s.metrics(1)
    val step = s.duration("step", wholeMicros = true).getOrElse(s.missing("step"))
    // 1-bucket windows compare single noisy means; the upper bound keeps
    // the per-key window state a few KB (the w-bucket running sums)
    val w = s.int("window", 1, 4096).getOrElse(7)
    val minShift = s.double("min-shift", positive = true).getOrElse(
      throw new BadQuery("'changepoints.min-shift' field required"))
    rejectSampleClauses(root, "changepoints")
    ChangepointsQuery(metrics, step, w, minShift, parseRange(root),
      parseWhere(root), parseLocation(root))
  }

  /** Beyond-reference `correlate` (see [[Ast.CorrelateQuery]]). */
  private def parseCorrelate(root: JsonNode): CorrelateQuery = {
    val s = statement(root, "correlate", "metric", "step", "lag")
    val metrics = s.metrics(2, distinct = true)
    val step = s.duration("step").getOrElse(s.missing("step"))
    val lag = s.duration("lag", positive = false).getOrElse(0L)
    if (lag % step != 0)
      s.fail("lag", s"must be a whole number of steps (lag $lag, step $step)")
    rejectSampleClauses(root, "correlate")
    CorrelateQuery(metrics, step, lag, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `autocorr` (see [[Ast.AutocorrQuery]]). */
  private def parseAutocorr(root: JsonNode): AutocorrQuery = {
    val s = statement(root, "autocorr", "metric", "step", "lags")
    val metrics = s.metrics(1, distinct = true)
    val step = s.duration("step").getOrElse(s.missing("step"))
    val lagsNode = s.get("lags").getOrElse(s.missing("lags"))
    if (!lagsNode.isArray || lagsNode.isEmpty)
      s.fail("lags", "must be a non-empty array of durations")
    val lags = lagsNode.asScala.toSeq.map { t =>
      val lag = s.durationOf("lags", t, positive = false)
      if (lag <= 0)
        s.refuse("lags", s"autocorr lag must be positive (got ${t.asText()})")
      if (lag % step != 0) s.refuse("lags",
        s"autocorr lag must be a whole number of steps (lag $lag, step $step)")
      lag
    }
    if (lags.distinct.size != lags.size) s.fail("lags", "must be distinct")
    rejectSampleClauses(root, "autocorr")
    AutocorrQuery(metrics, step, lags, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `trend` (see [[Ast.TrendQuery]]). */
  private def parseTrend(root: JsonNode): TrendQuery = {
    val s = statement(root, "trend", "metric", "step", "horizon")
    val metrics = s.metrics(1, distinct = true)
    // the trend output carries a µs forecast timestamp (Stats.trend's
    // require is the library-level backstop)
    val step = s.duration("step", wholeMicros = true).getOrElse(s.missing("step"))
    val horizon = s.duration("horizon", positive = false).getOrElse(0L)
    if (horizon % step != 0) s.fail("horizon",
      s"must be a whole number of steps (horizon $horizon, step $step)")
    rejectSampleClauses(root, "trend")
    TrendQuery(metrics, step, horizon, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `quantile` (see [[Ast.QuantileQuery]]). */
  private def parseQuantile(root: JsonNode): QuantileQuery = {
    val s = statement(root, "quantile", "metric", "p", "step")
    val step = s.duration("step", wholeMicros = true)
    val metric = s.metric()
    val ps = s.levels("p", one = true).getOrElse(s.missing("p"))
    if (ps.isEmpty) s.fail("p", "must be non-empty")
    rejectSampleClauses(root, "quantile", allowGroupBy = true,
      allowFilter = true)
    QuantileQuery(metric, ps, parseRange(root), step, parseWhere(root),
      parseGroupBy(root), parseSingleFilter(root), parseLocation(root))
  }

  private def parseGroupAggregateJoin(root: JsonNode): GroupAggregateJoinQuery = {
    val s = statement(root, "group-aggregate-join", "metric", "func", "step")
    val metrics = s.metrics(2)
    val funcs = s.names("func", what = "aggregate function").getOrElse(s.missing("func"))
    if (funcs.size != 1) s.fail("func", "must name exactly 1 aggregate function")
    val step = s.duration("step").getOrElse(s.missing("step"))
    rejectGroupBy(root, "group-aggregate-join")
    val (filters, comb) = parseNamedFilters(root)
    GroupAggregateJoinQuery(metrics, AggFunc.fromToken(funcs.head), step,
      parseRange(root), parseWhere(root), filters, comb, parseOrderBy(root),
      optLong(root, "limit"), optLong(root, "offset"), parseApply(root),
      parseLocation(root))
  }

  private def parseMeta(root: JsonNode, sel: String): SearchQuery = {
    rejectLocation(root, "meta query")
    // deprecated `{"select": "meta:names[:metric]"}`
    val metric = sel.stripPrefix("meta:names") match {
      case "" => ""
      case s if s.startsWith(":") => s.substring(1)
      case other => throw new BadQuery(s"bad meta query: '$other'")
    }
    SearchQuery(metric, parseWhere(root), optLong(root, "limit"), optLong(root, "offset"))
  }

  private def parseSuggest(root: JsonNode, sel: String): SuggestQuery = {
    rejectLocation(root, "suggest query")
    val kind = sel match {
      case "metric-names" => SuggestKind.MetricNames
      case "tag-names"    => SuggestKind.TagNames
      case "tag-values"   => SuggestKind.TagValues
    }
    val c = clauses(root)
    SuggestQuery(kind, c.text("metric"), c.text("tag"), c.text("starts-with"),
      optLong(root, "limit"), optLong(root, "offset"))
  }

  // ---- clauses ----

  private def parseRange(root: JsonNode): TimeRange =
    parseOptRange(root).getOrElse(throw new BadQuery("'range' field required"))

  private def parseOptRange(root: JsonNode): Option[TimeRange] =
    Option(root.get("range")).map { r =>
      val b = obj(r, "range", "from", "to")
      TimeRange(b.timestamp("from"), b.timestamp("to"))
    }

  /** An empty series list or an empty tag-value list names no series;
    * both refuse rather than resolve to "all" (`[]`) or "none"
    * (`{"k": []}`). Every listed series is an object of tag values, and
    * every tag value is a string. */
  private def parseWhere(root: JsonNode): Where = Option(root.get("where")) match {
    case None => Where.All
    case Some(w) if w.isArray =>
      if (w.isEmpty) throw new BadQuery("where: empty series list")
      Where.ExplicitSeries(w.asScala.toSeq.map { o =>
        if (!o.isObject)
          throw new BadQuery(s"where: a listed series must be an object of tag values (got $o)")
        val s = new Fields(o, "where")
        s.keys.map(k => k -> s.text(k).get).toMap
      })
    case Some(w) if w.isObject =>
      val s = new Fields(w, "where")
      Where.TagsIn(s.keys.map { k =>
        val vs = s.names(k, what = "tag value").get
        if (vs.isEmpty) throw new BadQuery(s"where: empty value list for tag '$k'")
        k -> vs
      }.toMap)
    case Some(_) => throw new BadQuery("bad where clause")
  }

  private def isBareFilter(f: JsonNode): Boolean =
    Seq("gt", "ge", "lt", "le").exists(f.has)

  /** Single-metric filter: `{"filter": {"gt": 10}}` (form 2) or
    * `{"filter": {"metric": {"gt": 10}}}` (form 1, metric irrelevant here). */
  private def parseSingleFilter(root: JsonNode): Option[ValueFilter] =
    Option(root.get("filter")).map { f =>
      if (isBareFilter(f)) valueFilter("filter", f)
      else obj(f, "filter").keys.find(_ != "=")
        .map(name => valueFilter(s"filter.$name", f.get(name)))
        .getOrElse(ValueFilter())
    }.filter(!_.isEmpty)

  /** Per-name filters (metric names for join, func names for
    * group-aggregate) + the `"=": {"require": "all"|"any"}` combiner. */
  private def parseNamedFilters(root: JsonNode): (Map[String, ValueFilter], FilterCombiner) =
    Option(root.get("filter")) match {
      case None => (Map.empty, FilterCombiner.All)
      case Some(f) =>
        val comb = Option(f.get("=")).flatMap(c => Option(c.get("require")))
          .map(_.asText() match {
            case "all" => FilterCombiner.All
            case "any" => FilterCombiner.Any
            case other => throw new BadQuery(s"bad filter combiner: '$other'")
          }).getOrElse(FilterCombiner.All)
        if (isBareFilter(f))
          (Map("" -> valueFilter("filter", f)), comb) // form 2: applies to first column
        else {
          val m = obj(f, "filter").keys.filterNot(_ == "=").map { name =>
            name -> valueFilter(s"filter.$name", f.get(name))
          }.toMap.filter(!_._2.isEmpty)
          (m, comb)
        }
    }

  /** The value bounds at `at`: each of gt/ge/lt/le a number. */
  private def valueFilter(at: String, n: JsonNode): ValueFilter = {
    val b = obj(n, at)
    ValueFilter(b.double("gt"), b.double("ge"), b.double("lt"), b.double("le"))
  }

  /** The `where-location` clause (beyond-reference; see
    * [[Ast.LocationFilter]]): exactly one of `box` / `knn`. */
  private def parseLocation(root: JsonNode): Option[LocationFilter] =
    Option(root.get("where-location")).map { n =>
      val loc = obj(n, "where-location", "box", "knn")
      (loc.get("box"), loc.get("knn")) match {
        case (Some(b), None) =>
          val box = obj(b, "where-location.box", "lon", "lat")
          def bound(k: String): (Double, Double) = {
            // require numeric elements: Jackson's asDouble() coerces
            // non-numbers to 0.0, which would silently pin the box to 0
            val a = box.get(k).filter(x => x.isArray && x.size == 2 &&
                x.get(0).isNumber && x.get(1).isNumber)
              .getOrElse(box.fail(k, "must be [min, max]"))
            (a.get(0).asDouble(), a.get(1).asDouble())
          }
          val (lonMin, lonMax) = bound("lon")
          val (latMin, latMax) = bound("lat")
          if (lonMin > lonMax || latMin > latMax)
            throw new BadQuery("where-location.box bounds must be min <= max")
          LocationFilter.Box(lonMin, lonMax, latMin, latMax)
        case (None, Some(kn)) =>
          val q = obj(kn, "where-location.knn", "lon", "lat", "k", "radius")
          def num(k: String): Double = q.double(k).getOrElse(q.missing(k))
          val k = q.int("k", 1, domain = "positive").getOrElse(q.missing("k"))
          LocationFilter.Knn(num("lon"), num("lat"), k, q.double("radius", positive = true))
        case _ =>
          throw new BadQuery("where-location needs exactly one of 'box' or 'knn'")
      }
    }

  /** Metadata entry points have no series-location semantics — reject
    * rather than silently drop the clause. */
  private def rejectLocation(root: JsonNode, kind: String): Unit =
    if (root.has("where-location"))
      throw new BadQuery(s"$kind doesn't support 'where-location'")

  private def parseOrderBy(root: JsonNode): OrderBy =
    Option(root.get("order-by")).map(_.asText() match {
      case "series" => OrderBy.Series
      case "time"   => OrderBy.Time
      case other    => throw new BadQuery(s"bad order-by: '$other'")
    }).getOrElse(OrderBy.Series)

  private def parseGroupBy(root: JsonNode): Option[GroupByTag] = {
    val c = clauses(root)
    def tags(k: String) = c.names(k, what = "tag")
    val pivot = tags("pivot-by-tag").map(GroupByTag(GroupByOp.Pivot, _))
    val group = tags("group-by-tag").orElse(tags("group-by"))
      .map(GroupByTag(GroupByOp.Group, _))
    if (pivot.nonEmpty && group.nonEmpty)
      throw new BadQuery("can't use both group-by-tag and pivot-by-tag")
    pivot.orElse(group)
  }

  private def parseApply(root: JsonNode): Seq[ApplySpec] =
    Option(root.get("apply")).map { a =>
      if (!a.isArray) throw new BadQuery("apply must be an array")
      a.elements().asScala.toSeq.map { n =>
        val name = Option(n.get("name")).map(_.asText())
          .getOrElse(throw new BadQuery("apply entry needs 'name'"))
        val params = n.fieldNames().asScala.filterNot(_ == "name").map { k =>
          val v = n.get(k)
          val value: Any =
            if (v.isNumber) v.asDouble()
            else if (v.isBoolean) v.asBoolean()
            else if (v.isArray) v.elements().asScala.toSeq.map(e =>
              if (e.isNumber) e.asDouble() else e.asText())
            else v.asText()
          k -> value
        }.toMap
        ApplySpec(name, params)
      }
    }.getOrElse(Nil)

  private def optLong(root: JsonNode, key: String): Option[Long] =
    clauses(root).count(key)
}
