package graft.query

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.time.TimeUtil
import scala.jdk.CollectionConverters._

/** JSON → [[Ast.Query]] front end for the reference TSDB query language.
  *
  * Query kind = which of the mutually-exclusive statement keys is present —
 * the reference's six plus the beyond-reference `asof-join`
  * (reference queryparser.cc:887-918); shared clause grammar per SURVEY §2.2.
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

  /** The mutually-exclusive statement keys: the reference's six
    * (validate_query, queryparser.cc:920-971: exactly one must be
    * present) plus the beyond-reference `asof-join`. */
  private val statementKeys =
    Seq("select", "select-events", "aggregate", "group-aggregate",
      "join", "group-aggregate-join", "asof-join", "quantile", "correlate",
      "trend", "autocorr",
      "active", "distinct", "changepoints", "sessions", "seasonal", "gaps",
      "stale", "anomaly", "knn", "dedup")

  /** Statement whitelist (reference validate_query, queryparser.cc:920-971:
    * exactly one statement, only known clause keys; `output` drives the
    * sink-side rendering, [[parseOutputSpec]] + engine executeRendered). */
  private val clauseKeys = Set(
    "range", "where", "filter", "order-by", "group-by", "group-by-tag",
    "pivot-by-tag", "limit", "offset", "apply", "output",
    "metric", "tag", "starts-with", "where-location")

  def parseNode(root: JsonNode): Query = {
    require(root != null && root.isObject, "query must be a JSON object")
    val present = statementKeys.filter(root.has)
    if (present.size > 1)
      throw new BadQuery(s"ambiguous query: multiple statements ${present.mkString(", ")}")
    val unknown = root.fieldNames().asScala
      .filterNot(k => statementKeys.contains(k) || clauseKeys.contains(k)).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"unknown query field(s): ${unknown.mkString(", ")}")
    if (root.has("select-events")) parseSelectEvents(root)
    else if (root.has("knn")) parseKnn(root)
    else if (root.has("dedup")) parseDedup(root)
    else if (root.has("quantile")) parseQuantile(root)
    else if (root.has("correlate")) parseCorrelate(root)
    else if (root.has("trend")) parseTrend(root)
    else if (root.has("autocorr")) parseAutocorr(root)
    else if (root.has("active")) parseActive(root)
    else if (root.has("distinct")) parseDistinct(root)
    else if (root.has("changepoints")) parseChangepoints(root)
    else if (root.has("sessions")) parseSessions(root)
    else if (root.has("seasonal")) parseSeasonal(root)
    else if (root.has("gaps")) parseGaps(root)
    else if (root.has("stale")) parseStale(root)
    else if (root.has("anomaly")) parseAnomaly(root)
    else if (root.has("asof-join")) parseAsofJoin(root)
    else if (root.has("aggregate")) parseAggregate(root)
    else if (root.has("group-aggregate")) parseGroupAggregate(root)
    else if (root.has("group-aggregate-join")) parseGroupAggregateJoin(root)
    else if (root.has("join")) parseJoin(root)
    else if (root.has("select")) {
      val sel = root.get("select").asText()
      if (sel.startsWith("meta:names")) parseMeta(root, sel)
      else if (sel == "metric-names" || sel == "tag-names" || sel == "tag-values") parseSuggest(root, sel)
      else parseSelect(root)
    } else throw new BadQuery("no statement found in query")
  }

  /** Required-field access that errors as BadQuery, never NPE. */
  private def reqField(root: JsonNode, key: String): JsonNode =
    Option(root.get(key)).getOrElse(
      throw new BadQuery(s"'$key' field required"))

  /** Duration clauses that size bins must be positive — the grammar
    * admits "0s", which would reach plan construction as a divide/modulo
    * by zero (an ArithmeticException or require, not the BadQuery
    * taxonomy every other malformed clause gets). Checked HERE, before
    * any arithmetic uses the value. */
  private def positiveDuration(v: Long, what: String): Long = {
    if (v <= 0) throw new BadQuery(s"$what must be positive")
    v
  }

  /** Bin-sizing steps whose output rows carry a µs bin timestamp
    * (`ts_us`) additionally need the step to be a whole number of µs —
    * a sub-µs step would collapse distinct bins onto one `ts_us` label
    * (duplicate output keys in nondeterministic order), so there is no
    * representable output grid to reject lazily. */
  private def wholeMicrosStep(v: Long, what: String): Long = {
    if (v % 1000 != 0) throw new BadQuery(
      s"$what must be a whole number of microseconds (got $v ns)")
    v
  }

  /** `search()` entry point: same shape as select but only metadata returned. */
  def parseSearch(json: String): SearchQuery = {
    val root = readTree(json)
    rejectLocation(root, "search query")
    SearchQuery(reqField(root, "select").asText(), parseWhere(root),
      optLong(root, "limit"), optLong(root, "offset"))
  }

  def parseSuggestJson(json: String): SuggestQuery = {
    val root = readTree(json)
    parseSuggest(root, reqField(root, "select").asText())
  }

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

  private def parseSelect(root: JsonNode): SelectQuery = {
    val metric = root.get("select").asText()
    SelectQuery(metric, parseRange(root), parseWhere(root),
      parseSingleFilter(root), parseOrderBy(root), parseGroupBy(root),
      optLong(root, "limit"), optLong(root, "offset"), parseApply(root),
      parseLocation(root))
  }

  private def parseSelectEvents(root: JsonNode): SelectEventsQuery = {
    val metric = root.get("select-events").asText()
    if (!metric.startsWith("!"))
      throw new BadQuery(s"event name should start with '!': '$metric'")
    val regex = Option(root.get("filter")).map(_.asText())
    SelectEventsQuery(metric, parseRange(root), regex, parseWhere(root),
      parseOrderBy(root), parseGroupBy(root),
      optLong(root, "limit"), optLong(root, "offset"), parseApply(root),
      parseLocation(root))
  }

  private def parseAggregate(root: JsonNode): AggregateQuery = {
    if (root.has("order-by"))
      throw new BadQuery("aggregate query doesn't support 'order-by'")
    val stmt = root.get("aggregate")
    if (!stmt.isObject || stmt.isEmpty)
      throw new BadQuery("aggregate statement must be a non-empty object")
    val funcs = stmt.fieldNames().asScala.toSeq.flatMap { m =>
      val v = stmt.get(m)
      if (v.isArray) v.elements().asScala.toSeq.map(f => m -> AggFunc.fromToken(f.asText()))
      else Seq(m -> AggFunc.fromToken(v.asText()))
    }
    val dups = funcs.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    if (dups.nonEmpty) throw new BadQuery(s"duplicate aggregate entries: $dups")
    AggregateQuery(funcs, parseOptRange(root), parseWhere(root), parseGroupBy(root),
      optLong(root, "limit"), optLong(root, "offset"), parseApply(root),
      parseLocation(root))
  }

  private def parseGroupAggregate(root: JsonNode): GroupAggregateQuery = {
    val stmt = root.get("group-aggregate")
    val metrics = strOrList(stmt.get("metric"), "group-aggregate.metric")
    val funcs = strOrList(stmt.get("func"), "group-aggregate.func").map(AggFunc.fromToken)
    if (funcs.isEmpty) throw new BadQuery("at least one aggregate function required")
    val step = positiveDuration(
      TimeUtil.parseDuration(stmt.get("step").asText()), "group-aggregate.step")
    val (filters, comb) = parseNamedFilters(root)
    GroupAggregateQuery(metrics, funcs, step, parseRange(root), parseWhere(root),
      filters, comb, parseOrderBy(root), parseGroupBy(root),
      optLong(root, "limit"), optLong(root, "offset"), parseApply(root),
      parseLocation(root))
  }

  private def parseJoin(root: JsonNode): JoinQuery = {
    val metrics = strOrList(root.get("join"), "join")
    if (metrics.size < 2) throw new BadQuery("join requires at least 2 metrics")
    if (root.has("group-by-tag") || root.has("group-by") || root.has("pivot-by-tag"))
      throw new BadQuery("join doesn't support group-by")
    val (filters, comb) = parseNamedFilters(root)
    JoinQuery(metrics, parseRange(root), parseWhere(root), filters, comb,
      parseOrderBy(root), optLong(root, "limit"), optLong(root, "offset"),
      parseApply(root), parseLocation(root))
  }

  /** Beyond-reference `asof-join` (see [[Ast.AsofJoinQuery]]). */
  private def parseAsofJoin(root: JsonNode): AsofJoinQuery = {
    val stmt = root.get("asof-join")
    if (!stmt.isObject)
      throw new BadQuery("asof-join statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("left", "right", "tolerance").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad asof-join key(s): ${unknown.mkString(", ")}")
    def metric(k: String): String = {
      val n = Option(stmt.get(k)).filter(_.isTextual).getOrElse(
        throw new BadQuery(s"asof-join.$k metric name required"))
      n.asText()
    }
    val (l, r) = (metric("left"), metric("right"))
    if (l == r) throw new BadQuery("asof-join metrics must differ")
    if (root.has("group-by-tag") || root.has("group-by") || root.has("pivot-by-tag"))
      throw new BadQuery("asof-join doesn't support group-by")
    val tol = Option(stmt.get("tolerance"))
      .map(t => TimeUtil.parseDuration(t.asText()))
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
    val stmt = root.get("knn")
    if (!stmt.isObject)
      throw new BadQuery("knn statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("k", "queries", "index", "nlist", "nprobe", "iters",
        "m", "ksub").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad knn key(s): ${unknown.mkString(", ")}")
    rejectTsdbClauses(root, "knn")
    def intField(name: String, lo: Int): Option[Int] =
      Option(stmt.get(name)).map { n =>
        if (!n.isIntegralNumber)
          throw new BadQuery(s"knn.$name must be an integer")
        val v = n.asInt()
        if (v < lo)
          throw new BadQuery(s"knn.$name must be >= $lo (got $v)")
        v
      }
    val k = intField("k", 1)
      .getOrElse(throw new BadQuery("knn.k required"))
    val queries = Option(stmt.get("queries")).filter(_.isTextual)
      .map(_.asText()).filter(_.nonEmpty)
      .getOrElse(throw new BadQuery(
        "knn.queries (a boolean SQL predicate over the embeddings " +
          "table) required"))
    val index = Option(stmt.get("index")).filter(_.isTextual)
      .map(_.asText())
      .getOrElse(throw new BadQuery(
        "knn.index required: 'brute', 'ivf' or 'ivfpq'"))
    def ivfCommon(): (Int, Int) = {
      val nlist = intField("nlist", 1)
        .getOrElse(throw new BadQuery(
          s"knn.nlist required for index '$index'"))
      val nprobe = intField("nprobe", 1).getOrElse(2)
      if (nprobe > nlist)
        throw new BadQuery(s"knn.nprobe ($nprobe) exceeds nlist ($nlist)")
      (nlist, nprobe)
    }
    index match {
      case "brute" =>
        Seq("nlist", "nprobe", "iters", "m", "ksub").filter(stmt.has)
          .foreach(f => throw new BadQuery(
            s"knn.$f only applies to index 'ivf'/'ivfpq'"))
        KnnQuery(k, queries, "brute")
      case "ivf" =>
        Seq("m", "ksub").filter(stmt.has).foreach(f =>
          throw new BadQuery(s"knn.$f only applies to index 'ivfpq'"))
        val (nlist, nprobe) = ivfCommon()
        KnnQuery(k, queries, "ivf", Some(nlist), nprobe,
          intField("iters", 0).getOrElse(2))
      case "ivfpq" =>
        val (nlist, nprobe) = ivfCommon()
        val m = intField("m", 1).getOrElse(throw new BadQuery(
          "knn.m (PQ subspaces) required for index 'ivfpq'"))
        val ksub = intField("ksub", 1).getOrElse(throw new BadQuery(
          "knn.ksub (centers per subspace) required for index 'ivfpq'"))
        KnnQuery(k, queries, "ivfpq", Some(nlist), nprobe,
          intField("iters", 0).getOrElse(2), Some(m), Some(ksub))
      case other =>
        throw new BadQuery(
          s"unknown knn.index '$other' ('brute', 'ivf' or 'ivfpq')")
    }
  }

  /** Beyond-reference `dedup` (see [[Ast.DedupQuery]]). */
  private def parseDedup(root: JsonNode): DedupQuery = {
    val stmt = root.get("dedup")
    if (!stmt.isObject)
      throw new BadQuery("dedup statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("batch", "threshold", "k", "num-perm", "bands")
        .contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad dedup key(s): ${unknown.mkString(", ")}")
    rejectTsdbClauses(root, "dedup")
    val batch = Option(stmt.get("batch")).filter(_.isTextual)
      .map(_.asText()).filter(_.nonEmpty)
      .getOrElse(throw new BadQuery(
        "dedup.batch (a boolean SQL predicate over the documents " +
          "table selecting the arriving batch) required"))
    val threshold = Option(stmt.get("threshold")).map { n =>
      if (!n.isNumber) throw new BadQuery("dedup.threshold must be a number")
      val v = n.asDouble()
      if (v.isNaN || v <= 0 || v > 1)
        throw new BadQuery(s"dedup.threshold out of (0, 1]: ${n.asText()}")
      v
    }.getOrElse(throw new BadQuery("dedup.threshold required"))
    def intField(name: String, default: Int): Int =
      Option(stmt.get(name)).map { n =>
        if (!n.isIntegralNumber)
          throw new BadQuery(s"dedup.$name must be an integer")
        val v = n.asInt()
        if (v < 1) throw new BadQuery(s"dedup.$name must be positive")
        v
      }.getOrElse(default)
    val k = intField("k", 3)
    val numPerm = intField("num-perm", 32)
    val bands = intField("bands", 8)
    if (numPerm % bands != 0)
      throw new BadQuery(
        s"dedup.num-perm ($numPerm) must be a multiple of bands ($bands)")
    DedupQuery(batch, threshold, k, numPerm, bands)
  }

  /** Beyond-reference `seasonal` (see [[Ast.SeasonalQuery]]). */
  private def parseSeasonal(root: JsonNode): SeasonalQuery = {
    val stmt = root.get("seasonal")
    if (!stmt.isObject)
      throw new BadQuery("seasonal statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("metric", "period", "bin", "p").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad seasonal key(s): ${unknown.mkString(", ")}")
    val metric = Option(stmt.get("metric")).filter(_.isTextual)
      .map(_.asText())
      .getOrElse(throw new BadQuery("seasonal.metric name required"))
    val period = positiveDuration(
      TimeUtil.parseDuration(Option(stmt.get("period"))
        .getOrElse(throw new BadQuery("seasonal.period required")).asText()),
      "seasonal.period")
    val bin = positiveDuration(
      TimeUtil.parseDuration(Option(stmt.get("bin"))
        .getOrElse(throw new BadQuery("seasonal.bin required")).asText()),
      "seasonal.bin")
    if (period % bin != 0)
      throw new BadQuery(
        s"seasonal.bin must divide the period (period $period, bin $bin)")
    // exactly two ascending quantile literals, the quantile statement's
    // text-preservation rule
    val ps = Option(stmt.get("p")).map { n =>
      if (!n.isArray || n.size != 2)
        throw new BadQuery("seasonal.p must be a two-element array")
      n.asScala.toSeq.map { t =>
        val txt = t.asText()
        val v = try txt.toDouble catch {
          case _: NumberFormatException =>
            throw new BadQuery(s"bad seasonal p '$txt'")
        }
        if (v.isNaN || v <= 0 || v >= 1)
          throw new BadQuery(s"seasonal p out of (0, 1): $txt")
        txt
      }
    }.getOrElse(Seq("0.25", "0.75"))
    if (ps(0).toDouble >= ps(1).toDouble)
      throw new BadQuery("seasonal.p must be ascending")
    rejectSampleClauses(root, "seasonal", allowGroupBy = true)
    SeasonalQuery(metric, period, bin, ps(0), ps(1), parseRange(root),
      parseWhere(root), parseGroupBy(root), parseLocation(root))
  }

  /** Beyond-reference `sessions` (see [[Ast.SessionsQuery]]). */
  private def parseSessions(root: JsonNode): SessionsQuery = {
    val stmt = root.get("sessions")
    if (!stmt.isObject)
      throw new BadQuery("sessions statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("metric", "gap").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad sessions key(s): ${unknown.mkString(", ")}")
    val metric = Option(stmt.get("metric")).filter(_.isTextual)
      .map(_.asText())
      .getOrElse(throw new BadQuery("sessions.metric name required"))
    val gap = positiveDuration(
      TimeUtil.parseDuration(Option(stmt.get("gap"))
        .getOrElse(throw new BadQuery("sessions.gap required")).asText()),
      "sessions.gap")
    rejectSampleClauses(root, "sessions")
    SessionsQuery(metric, gap, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `gaps` (see [[Ast.GapsQuery]]). */
  private def parseGaps(root: JsonNode): GapsQuery = {
    val stmt = root.get("gaps")
    if (!stmt.isObject)
      throw new BadQuery("gaps statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("metric", "min-gap", "factor").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad gaps key(s): ${unknown.mkString(", ")}")
    val metric = Option(stmt.get("metric")).filter(_.isTextual)
      .map(_.asText())
      .getOrElse(throw new BadQuery("gaps.metric name required"))
    val minGap = Option(stmt.get("min-gap"))
      .map(t => positiveDuration(TimeUtil.parseDuration(t.asText()),
        "gaps.min-gap"))
    val factor = Option(stmt.get("factor")).map { n =>
      if (!n.isNumber) throw new BadQuery("gaps.factor must be a number")
      val v = n.asDouble()
      if (v.isNaN || v <= 0)
        throw new BadQuery(s"gaps.factor must be positive (got ${n.asText()})")
      v
    }
    if (minGap.isDefined == factor.isDefined)
      throw new BadQuery(
        "gaps requires exactly one of 'min-gap' (absolute) or 'factor' (adaptive)")
    rejectSampleClauses(root, "gaps")
    GapsQuery(metric, minGap, factor, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `anomaly` (see [[Ast.AnomalyQuery]]). */
  private def parseAnomaly(root: JsonNode): AnomalyQuery = {
    val stmt = root.get("anomaly")
    if (!stmt.isObject)
      throw new BadQuery("anomaly statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("metric", "c", "rate").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad anomaly key(s): ${unknown.mkString(", ")}")
    val metric = Option(stmt.get("metric")).filter(_.isTextual)
      .map(_.asText())
      .getOrElse(throw new BadQuery("anomaly.metric name required"))
    val c = Option(stmt.get("c")).map { n =>
      if (!n.isNumber) throw new BadQuery("anomaly.c must be a number")
      val v = n.asDouble()
      if (v.isNaN || v <= 0)
        throw new BadQuery(s"anomaly.c must be positive (got ${n.asText()})")
      v
    }.getOrElse(3.0)
    val rate = Option(stmt.get("rate")).map { n =>
      if (!n.isNumber) throw new BadQuery("anomaly.rate must be a number")
      val v = n.asDouble()
      if (v.isNaN || v <= 0 || v > 1)
        throw new BadQuery(s"anomaly.rate out of (0, 1]: ${n.asText()}")
      v
    }
    rejectSampleClauses(root, "anomaly")
    AnomalyQuery(metric, c, rate, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `stale` (see [[Ast.StaleQuery]]). */
  private def parseStale(root: JsonNode): StaleQuery = {
    val stmt = root.get("stale")
    if (!stmt.isObject)
      throw new BadQuery("stale statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("metric", "older-than").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad stale key(s): ${unknown.mkString(", ")}")
    val metric = Option(stmt.get("metric")).filter(_.isTextual)
      .map(_.asText())
      .getOrElse(throw new BadQuery("stale.metric name required"))
    val olderThan = positiveDuration(
      TimeUtil.parseDuration(Option(stmt.get("older-than"))
        .getOrElse(throw new BadQuery("stale.older-than required")).asText()),
      "stale.older-than")
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
    val stmt = root.get("active")
    if (!stmt.isObject)
      throw new BadQuery("active statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("metric", "step").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad active key(s): ${unknown.mkString(", ")}")
    val metrics = strOrList(stmt.get("metric"), "active.metric")
    if (metrics.isEmpty)
      throw new BadQuery("active requires at least one metric")
    val step = Option(stmt.get("step"))
      .map(t => wholeMicrosStep(
        positiveDuration(TimeUtil.parseDuration(t.asText()),
          "active.step"), "active.step"))
    rejectSampleClauses(root, "active")
    ActiveQuery(metrics, step, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `distinct` (see [[Ast.DistinctQuery]]). */
  private def parseDistinct(root: JsonNode): DistinctQuery = {
    val stmt = root.get("distinct")
    if (!stmt.isObject)
      throw new BadQuery("distinct statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("metric", "tag", "k", "step").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad distinct key(s): ${unknown.mkString(", ")}")
    val metrics = strOrList(stmt.get("metric"), "distinct.metric")
    if (metrics.isEmpty)
      throw new BadQuery("distinct requires at least one metric")
    // filter(isTextual): a null or numeric node would asText()-coerce to
    // "null"/"5" and silently return 0 rows instead of erring
    val tag = Option(stmt.get("tag")).filter(_.isTextual).map(_.asText())
      .getOrElse(
        throw new BadQuery("'distinct.tag' field required (a string)"))
    if (tag.isEmpty) throw new BadQuery("distinct.tag must be non-empty")
    val k = Option(stmt.get("k")).map { t =>
      // canConvertToInt alone admits 2.5 (it checks range, not
      // integrality) and asInt would silently truncate it
      if (!t.isIntegralNumber || !t.canConvertToInt)
        throw new BadQuery("distinct.k must be an integer")
      t.asInt()
    }.getOrElse(256)
    // k = 1 has no k-th minimum to estimate from; huge k defeats the
    // sketch's point and the 8k-byte-per-group bound the docs promise
    if (k < 2 || k > 65536)
      throw new BadQuery(s"distinct.k must be in [2, 65536] (got $k)")
    val step = Option(stmt.get("step"))
      .map(t => wholeMicrosStep(
        positiveDuration(TimeUtil.parseDuration(t.asText()),
          "distinct.step"), "distinct.step"))
    rejectSampleClauses(root, "distinct", allowFilter = true)
    // BARE form only ({"gt": x, ...}): the named form has per-metric
    // semantics this multi-metric statement doesn't implement —
    // parseSingleFilter would silently take names.head and apply that
    // one predicate to EVERY metric (wrong answers, no error)
    val filter = Option(root.get("filter")).map { f =>
      if (!Seq("gt", "ge", "lt", "le").exists(f.has))
        throw new BadQuery(
          "distinct supports only the bare filter form {\"gt\"/\"ge\"/\"lt\"/\"le\": x}")
      parseValueFilter(f)
    }.filter(!_.isEmpty)
    DistinctQuery(metrics, tag, k, step, parseRange(root), parseWhere(root),
      filter, parseLocation(root))
  }

  /** Beyond-reference `changepoints` (see [[Ast.ChangepointsQuery]]). */
  private def parseChangepoints(root: JsonNode): ChangepointsQuery = {
    val stmt = root.get("changepoints")
    if (!stmt.isObject)
      throw new BadQuery("changepoints statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("metric", "step", "window", "min-shift").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad changepoints key(s): ${unknown.mkString(", ")}")
    val metrics = strOrList(stmt.get("metric"), "changepoints.metric")
    if (metrics.isEmpty)
      throw new BadQuery("changepoints requires at least one metric")
    val step = wholeMicrosStep(positiveDuration(
      TimeUtil.parseDuration(Option(stmt.get("step"))
        .getOrElse(throw new BadQuery("changepoints.step required")).asText()),
      "changepoints.step"), "changepoints.step")
    val w = Option(stmt.get("window")).map { t =>
      if (!t.isIntegralNumber || !t.canConvertToInt)
        throw new BadQuery("changepoints.window must be an integer")
      t.asInt()
    }.getOrElse(7)
    // 1-bucket windows compare single noisy means; the upper bound keeps
    // the per-key window state a few KB (the w-bucket running sums)
    if (w < 1 || w > 4096)
      throw new BadQuery(s"changepoints.window must be in [1, 4096] (got $w)")
    val minShift = Option(stmt.get("min-shift")).map { t =>
      if (!t.isNumber)
        throw new BadQuery("changepoints.min-shift must be a number")
      t.asDouble()
    }.getOrElse(throw new BadQuery("'changepoints.min-shift' field required"))
    if (!(minShift > 0))
      throw new BadQuery("changepoints.min-shift must be positive")
    rejectSampleClauses(root, "changepoints")
    ChangepointsQuery(metrics, step, w, minShift, parseRange(root),
      parseWhere(root), parseLocation(root))
  }

  /** Beyond-reference `correlate` (see [[Ast.CorrelateQuery]]). */
  private def parseCorrelate(root: JsonNode): CorrelateQuery = {
    val stmt = root.get("correlate")
    if (!stmt.isObject)
      throw new BadQuery("correlate statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("metric", "step", "lag").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad correlate key(s): ${unknown.mkString(", ")}")
    val metrics = strOrList(stmt.get("metric"), "correlate.metric")
    if (metrics.size < 2)
      throw new BadQuery("correlate requires >= 2 metrics")
    if (metrics.distinct.size != metrics.size)
      throw new BadQuery("correlate metrics must be distinct")
    val step = positiveDuration(
      TimeUtil.parseDuration(Option(stmt.get("step"))
        .getOrElse(throw new BadQuery("correlate.step required")).asText()),
      "correlate.step")
    val lag = Option(stmt.get("lag"))
      .map(t => TimeUtil.parseDuration(t.asText())).getOrElse(0L)
    if (lag % step != 0)
      throw new BadQuery(
        s"correlate.lag must be a whole number of steps (lag $lag, step $step)")
    rejectSampleClauses(root, "correlate")
    CorrelateQuery(metrics, step, lag, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `autocorr` (see [[Ast.AutocorrQuery]]). */
  private def parseAutocorr(root: JsonNode): AutocorrQuery = {
    val stmt = root.get("autocorr")
    if (!stmt.isObject)
      throw new BadQuery("autocorr statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("metric", "step", "lags").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad autocorr key(s): ${unknown.mkString(", ")}")
    val metrics = strOrList(stmt.get("metric"), "autocorr.metric")
    if (metrics.isEmpty)
      throw new BadQuery("autocorr requires at least one metric")
    if (metrics.distinct.size != metrics.size)
      throw new BadQuery("autocorr metrics must be distinct")
    val step = positiveDuration(
      TimeUtil.parseDuration(Option(stmt.get("step"))
        .getOrElse(throw new BadQuery("autocorr.step required")).asText()),
      "autocorr.step")
    val lagsNode = Option(stmt.get("lags"))
      .getOrElse(throw new BadQuery("autocorr.lags required"))
    if (!lagsNode.isArray || lagsNode.size == 0)
      throw new BadQuery("autocorr.lags must be a non-empty array of durations")
    val lags = lagsNode.elements().asScala.map { t =>
      val lag = TimeUtil.parseDuration(t.asText())
      if (lag <= 0)
        throw new BadQuery(s"autocorr lag must be positive (got ${t.asText()})")
      if (lag % step != 0)
        throw new BadQuery(
          s"autocorr lag must be a whole number of steps (lag $lag, step $step)")
      lag
    }.toSeq
    if (lags.distinct.size != lags.size)
      throw new BadQuery("autocorr lags must be distinct")
    rejectSampleClauses(root, "autocorr")
    AutocorrQuery(metrics, step, lags, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `trend` (see [[Ast.TrendQuery]]). */
  private def parseTrend(root: JsonNode): TrendQuery = {
    val stmt = root.get("trend")
    if (!stmt.isObject)
      throw new BadQuery("trend statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("metric", "step", "horizon").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad trend key(s): ${unknown.mkString(", ")}")
    val metrics = strOrList(stmt.get("metric"), "trend.metric")
    if (metrics.isEmpty)
      throw new BadQuery("trend requires at least one metric")
    if (metrics.distinct.size != metrics.size)
      throw new BadQuery("trend metrics must be distinct")
    // the trend output carries a µs forecast timestamp, so the step must
    // be a whole number of µs ([[wholeMicrosStep]]; Stats.trend's
    // require is the library-level backstop)
    val step = wholeMicrosStep(positiveDuration(
      TimeUtil.parseDuration(Option(stmt.get("step"))
        .getOrElse(throw new BadQuery("trend.step required")).asText()),
      "trend.step"), "trend.step")
    val horizon = Option(stmt.get("horizon"))
      .map(t => TimeUtil.parseDuration(t.asText())).getOrElse(0L)
    if (horizon % step != 0)
      throw new BadQuery(
        s"trend.horizon must be a whole number of steps (horizon $horizon, step $step)")
    rejectSampleClauses(root, "trend")
    TrendQuery(metrics, step, horizon, parseRange(root), parseWhere(root),
      parseLocation(root))
  }

  /** Beyond-reference `quantile` (see [[Ast.QuantileQuery]]). */
  private def parseQuantile(root: JsonNode): QuantileQuery = {
    val stmt = root.get("quantile")
    if (!stmt.isObject)
      throw new BadQuery("quantile statement must be an object")
    val unknown = stmt.fieldNames().asScala
      .filterNot(Seq("metric", "p", "step").contains).toSeq
    if (unknown.nonEmpty)
      throw new BadQuery(s"bad quantile key(s): ${unknown.mkString(", ")}")
    val step = Option(stmt.get("step"))
      .map(t => wholeMicrosStep(
        positiveDuration(TimeUtil.parseDuration(t.asText()),
          "quantile.step"), "quantile.step"))
    val metric = Option(stmt.get("metric")).filter(_.isTextual)
      .map(_.asText())
      .getOrElse(throw new BadQuery("quantile.metric name required"))
    val pNode = Option(stmt.get("p"))
      .getOrElse(throw new BadQuery("quantile.p required"))
    val pList = if (pNode.isArray) pNode.asScala.toSeq else Seq(pNode)
    if (pList.isEmpty) throw new BadQuery("quantile.p must be non-empty")
    // keep the caller's decimal TEXT: the output p labels must carry the
    // literals the caller wrote (and an oracle replays). Holds exactly
    // for STRING-typed p entries ("0.50" → "0.50"); JSON number nodes
    // are normalized by the JSON parser before asText ([0.50] → "0.5",
    // [1e-1] → "0.1") — callers who need a specific label write strings
    // (documented in QUERYLANG.md)
    val ps = pList.map { n =>
      val txt = n.asText()
      val v = try txt.toDouble catch {
        case _: NumberFormatException =>
          throw new BadQuery(s"bad quantile p '$txt'")
      }
      if (v.isNaN || v <= 0 || v > 1)
        throw new BadQuery(s"quantile p out of (0, 1]: $txt")
      txt
    }
    rejectSampleClauses(root, "quantile", allowGroupBy = true,
      allowFilter = true)
    QuantileQuery(metric, ps, parseRange(root), step, parseWhere(root),
      parseGroupBy(root), parseSingleFilter(root), parseLocation(root))
  }

  private def parseGroupAggregateJoin(root: JsonNode): GroupAggregateJoinQuery = {
    val stmt = root.get("group-aggregate-join")
    val metrics = strOrList(stmt.get("metric"), "group-aggregate-join.metric")
    if (metrics.size < 2) throw new BadQuery("group-aggregate-join requires >=2 metrics")
    val funcs = strOrList(stmt.get("func"), "group-aggregate-join.func")
    if (funcs.size != 1) throw new BadQuery("group-aggregate-join requires exactly 1 func")
    val step = positiveDuration(
      TimeUtil.parseDuration(stmt.get("step").asText()),
      "group-aggregate-join.step")
    if (root.has("group-by-tag") || root.has("group-by") || root.has("pivot-by-tag"))
      throw new BadQuery("group-aggregate-join doesn't support group-by")
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
    SuggestQuery(kind,
      Option(root.get("metric")).map(_.asText()),
      Option(root.get("tag")).map(_.asText()),
      Option(root.get("starts-with")).map(_.asText()),
      optLong(root, "limit"), optLong(root, "offset"))
  }

  // ---- clauses ----

  private def parseRange(root: JsonNode): TimeRange =
    parseOptRange(root).getOrElse(throw new BadQuery("'range' field required"))

  private def parseOptRange(root: JsonNode): Option[TimeRange] =
    Option(root.get("range")).map { r =>
      val from = Option(r.get("from")).map(tsOf)
        .getOrElse(throw new BadQuery("range.from required"))
      val to = Option(r.get("to")).map(tsOf)
        .getOrElse(throw new BadQuery("range.to required"))
      TimeRange(from, to)
    }

  private def tsOf(n: JsonNode): Long =
    if (n.isNumber) n.asLong() else TimeUtil.parseIsoOrRaw(n.asText())

  /** An empty series list or an empty tag-value list names no series;
    * both refuse rather than resolve to "all" (`[]`) or "none"
    * (`{"k": []}`). */
  private def parseWhere(root: JsonNode): Where = Option(root.get("where")) match {
    case None => Where.All
    case Some(w) if w.isArray =>
      if (w.isEmpty) throw new BadQuery("where: empty series list")
      Where.ExplicitSeries(w.elements().asScala.toSeq.map { o =>
        o.fieldNames().asScala.map(k => k -> o.get(k).asText()).toMap
      })
    case Some(w) if w.isObject =>
      Where.TagsIn(w.fieldNames().asScala.map { k =>
        val v = w.get(k)
        if (v.isArray && v.isEmpty)
          throw new BadQuery(s"where: empty value list for tag '$k'")
        k -> (if (v.isArray) v.elements().asScala.toSeq.map(_.asText()) else Seq(v.asText()))
      }.toMap)
    case Some(_) => throw new BadQuery("bad where clause")
  }

  /** Single-metric filter: `{"filter": {"gt": 10}}` (form 2) or
    * `{"filter": {"metric": {"gt": 10}}}` (form 1, metric irrelevant here). */
  private def parseSingleFilter(root: JsonNode): Option[ValueFilter] =
    Option(root.get("filter")).map { f =>
      if (Seq("gt", "ge", "lt", "le").exists(f.has)) parseValueFilter(f)
      else {
        val names = f.fieldNames().asScala.filterNot(_ == "=").toSeq
        if (names.isEmpty) ValueFilter()
        else parseValueFilter(f.get(names.head))
      }
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
        if (Seq("gt", "ge", "lt", "le").exists(f.has))
          (Map("" -> parseValueFilter(f)), comb) // form 2: applies to first column
        else {
          val m = f.fieldNames().asScala.filterNot(_ == "=").map { name =>
            name -> parseValueFilter(f.get(name))
          }.toMap.filter(!_._2.isEmpty)
          (m, comb)
        }
    }

  /** The `where-location` clause (beyond-reference; see
    * [[Ast.LocationFilter]]): exactly one of `box` / `knn`. */
  private def parseLocation(root: JsonNode): Option[LocationFilter] =
    Option(root.get("where-location")).map { n =>
      if (!n.isObject) throw new BadQuery("where-location must be an object")
      val unknown = n.fieldNames().asScala.filterNot(Seq("box", "knn").contains).toSeq
      if (unknown.nonEmpty)
        throw new BadQuery(s"bad where-location key(s): ${unknown.mkString(", ")}")
      (Option(n.get("box")), Option(n.get("knn"))) match {
        case (Some(b), None) =>
          def bound(k: String): (Double, Double) = {
            // require numeric elements: Jackson's asDouble() coerces
            // non-numbers to 0.0, which would silently pin the box to 0
            val a = Option(b.get(k)).filter(x => x.isArray && x.size == 2 &&
                x.get(0).isNumber && x.get(1).isNumber)
              .getOrElse(throw new BadQuery(s"where-location.box.$k must be [min, max]"))
            (a.get(0).asDouble(), a.get(1).asDouble())
          }
          val (lonMin, lonMax) = bound("lon")
          val (latMin, latMax) = bound("lat")
          if (lonMin > lonMax || latMin > latMax)
            throw new BadQuery("where-location.box bounds must be min <= max")
          LocationFilter.Box(lonMin, lonMax, latMin, latMax)
        case (None, Some(kn)) =>
          def num(k: String): Double = Option(kn.get(k)).filter(_.isNumber)
            .getOrElse(throw new BadQuery(s"where-location.knn.$k required")).asDouble()
          val k = num("k").toInt
          if (k <= 0) throw new BadQuery("where-location.knn.k must be positive")
          val radius = Option(kn.get("radius")).map { r =>
            if (!r.isNumber || r.asDouble() <= 0)
              throw new BadQuery("where-location.knn.radius must be positive")
            r.asDouble()
          }
          LocationFilter.Knn(num("lon"), num("lat"), k, radius)
        case _ =>
          throw new BadQuery("where-location needs exactly one of 'box' or 'knn'")
      }
    }

  /** Metadata entry points have no series-location semantics — reject
    * rather than silently drop the clause. */
  private def rejectLocation(root: JsonNode, kind: String): Unit =
    if (root.has("where-location"))
      throw new BadQuery(s"$kind doesn't support 'where-location'")

  private def parseValueFilter(n: JsonNode): ValueFilter = ValueFilter(
    gt = Option(n.get("gt")).map(_.asDouble()),
    ge = Option(n.get("ge")).map(_.asDouble()),
    lt = Option(n.get("lt")).map(_.asDouble()),
    le = Option(n.get("le")).map(_.asDouble()))

  private def parseOrderBy(root: JsonNode): OrderBy =
    Option(root.get("order-by")).map(_.asText() match {
      case "series" => OrderBy.Series
      case "time"   => OrderBy.Time
      case other    => throw new BadQuery(s"bad order-by: '$other'")
    }).getOrElse(OrderBy.Series)

  private def parseGroupBy(root: JsonNode): Option[GroupByTag] = {
    val pivot = Option(root.get("pivot-by-tag")).map(n => GroupByTag(GroupByOp.Pivot, strOrListNode(n)))
    val group = Option(root.get("group-by-tag")).orElse(Option(root.get("group-by")))
      .map(n => GroupByTag(GroupByOp.Group, strOrListNode(n)))
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
    Option(root.get(key)).map(_.asLong())

  private def strOrList(n: JsonNode, what: String): Seq[String] = {
    if (n == null) throw new BadQuery(s"$what required")
    strOrListNode(n)
  }
  private def strOrListNode(n: JsonNode): Seq[String] =
    if (n.isArray) n.elements().asScala.toSeq.map(_.asText()) else Seq(n.asText())
}
