package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, MapType}

import graft.model.TsdbContext
import graft.query.Ast._
import graft.query.QueryParser
import graft.ops.ApplyNodes
import graft.series.SeriesName

/** Compiles TSDB queries (JSON or [[graft.query.Ast]]) into Spark DataFrame
  * plans over a [[TsdbContext]].
  *
  * This replaces the reference's entire two-tier hardwired planner
  * (stdb/query/plan/query_plan_builder.cc:593-613) with declarative plans:
  * Catalyst takes care of predicate pushdown, column pruning and partial
  * aggregation, which the reference implements by hand inside its NB+tree
  * iterators (SURVEY §4).
  *
  * Scale notes (100 TB): series resolve against the catalog — the analog of
  * the reference's parse-time inverted-index resolution — in one of three
  * regimes. A catalog of at most [[Engine.MaxLocalSeries]] series is
  * snapshotted on the driver, so resolution folds at optimization time;
  * a resolved set of at most [[Engine.MaxInlineSeries]] ids then goes
  * INLINE into the fact scan as a pushed `series_id IN (…)` (no join, no
  * Spark job). Larger sets BROADCAST-join the facts, and above
  * [[Engine.MaxBroadcastSeries]] catalog rows they SHUFFLE-join. Fact
  * scans carry `ts`-range and value predicates that reach the Parquet
  * reader as `PushedFilters`; aggregations are keyed by the re-keyed output series
  * so map-side partial aggregation collapses data before any shuffle. The
  * only unavoidable shuffle is the (tagkey, ts) alignment of `join` queries
  * — pre-bucketing the fact table by series hash makes it local.
  *
  * Output schemas:
  *   - select:            (series, ts, value)
  *   - select-events:     (series, ts, body)
  *   - aggregate:         (series = "m:func tags", ts, value)
  *   - group-aggregate:   (series = "m:f1|m:f2 tags", ts = bin, <func cols>)
  *   - join:              (series = "m1|m2 tags", ts, <metric cols>)
  *   - group-aggregate-join: like join with ts = bin
  * `ts` is Long UTC ns throughout.
  */
object Engine {
  /** One day in engine time units (Long UTC ns) — the granularity of the
    * layout's ts_day partition column. */
  val NsPerDay = graft.time.TimeUtil.NsPerDay

  /** Ceiling on the series-catalog size below which resolved-id sets
    * too large to go inline ([[MaxInlineSeries]]) are BROADCAST to fact
    * scans. Every statement resolves its series through the catalog and
    * joins the (series_id, out_name) result to the facts; the resolved
    * set is a subset of the catalog, so the catalog's size (the local
    * snapshot's, or ONE count when it exceeds [[MaxLocalSeries]]) bounds
    * every statement's broadcast. At ~50 B/row
    * (id + rendered name) the ceiling is a ~100 MB broadcast — the top
    * of the comfortable executor-memory range. ABOVE it the engine
    * flips every resolved-id join to an ordinary shuffle join (correct
    * at any catalog size, one extra exchange of the REDUCED fact side)
    * instead of degrading silently — the uniform loud-contract rule
    * (knnSeedProbe's MaxInRowProbeCenters) applied to the engine's one
    * remaining unguarded broadcasts. The same ceiling governs the
    * registered per-series index frames the serve paths join (mad and
    * gap indexes are one row per series — the identical regime), so
    * every catalog-scale broadcast in the STATEMENT paths flips
    * together; the streaming probe forms (flagAnomalies / flagGaps /
    * flagStale / asofStatic) keep their documented broadcast-index
    * contract — their indexes are bounded by the registrar, and a
    * stream has no shuffle-join fallback that preserves their
    * stateless-probe design. The reference holds its whole
    * series matcher in RAM (series_matcher.h) and simply cannot exceed
    * this regime; a 10⁸-series fleet on Spark can. Override per Engine
    * via the constructor for tests or tighter executors. */
  val MaxBroadcastSeries = 2000000L

  /** Largest catalog an Engine snapshots on the driver (one bounded
    * collect per Engine, about 2 MB at ~100 B per catalog row). Below
    * it every statement resolves its series against a LocalRelation:
    * `where`, bbox, group-by-tag and name rendering fold during
    * optimization instead of costing a catalog scan and a broadcast
    * job per statement. The fold evaluates every catalog row on the
    * driver per statement (~2.3 µs a row measured on 4 cores), so the
    * bound keeps that optimizer time under the broadcast job it
    * replaces: a one-host select broke even near 30k catalog rows and
    * lost 2.3× at 100k (SCALING.md). Larger catalogs keep the parquet
    * frame, and with it the broadcast or shuffle join. */
  val MaxLocalSeries = 20000L

  /** Largest resolved-id set that goes inline into the fact scan: a
    * `series_id IN (…)` filter plus one map literal per resolved column.
    * The IN list prunes Parquet row groups on the series-sorted layout,
    * which a join cannot, and saves the broadcast job; but each map
    * lookup scans its keys linearly per fact row, where the join probes
    * a hash table once. Measured on 4 cores over 10⁶ fact rows, all of
    * them in the resolved series (SCALING.md), inline matched the
    * broadcast join within ±5 % at 100 ids and lost up to 1.2× at 300
    * and 1.9× at 1,000, so larger sets broadcast-join instead. */
  val MaxInlineSeries = 100

  /** Minimum number of fine rollup bins a range must span before a
    * group-aggregate is served from the rollup: below this the
    * union+recombine plan costs more than the raw scan it replaces
    * (measured at sf0.1; the crossover only moves further in the
    * rollup's favor as raw density grows toward the 100 TB regime). */
  val RollupMinServedBins = 8L

  /** Open a [[graft.model.TsdbLayout.writeDatabase]] directory and
    * build the engine over it — the one-call restart path: catalog,
    * events, the pruned samples layout (two-tier when a live ingest
    * sink is present) and every cataloged index re-register from
    * storage, and this constructor's shape guards re-validate the
    * loaded frames before anything serves. */
  def open(spark: org.apache.spark.sql.SparkSession, dir: String): Engine =
    new Engine(graft.model.TsdbLayout.openDatabase(spark, dir))

  /** Minimum average samples per stored fine bin — the rollup's measured
    * compression ratio (it stores only non-empty bins, so avg(cnt) =
    * raw rows ÷ rollup rows) — before HYBRID serving (rollup interior +
    * raw edges) is used. Below this the rollup is no smaller than the raw
    * data, so the union+recombine plan only adds overhead over the plain
    * one-pass aggregation (measured ~1.7× at sf0.1's ~1 sample/bin);
    * above it the interior read shrinks by the ratio while the raw scan
    * shrinks to the edge windows — the 100 TB regime (a 1-min rollup over
    * 1 Hz data has ratio 60). Fully-aligned ranges (zero edge windows)
    * are exempt: they read ONLY the rollup, never raw — a win at any
    * density. */
  val RollupMinDensity = 4.0
}

final class Engine(val ctx: TsdbContext,
    maxBroadcastSeries: Long = Engine.MaxBroadcastSeries) {

  // Registered-index surface validation — the engine trusts ctx.rollups /
  // ctx.histograms to be well-formed when it serves from them, so a
  // malformed registration (non-positive step, missing accumulator or
  // bucket columns) must fail LOUDLY at construction, never surface as a
  // wrong served answer or a mid-query AnalysisException. Semantic
  // poisoning the schema can't reveal (an index whose rows were built at
  // a different window than registered) is the registrar's contract —
  // the same trust the reference places in its own materialized subtree
  // stats. Alignment/density guards at serve time still abstain per
  // query; this checks the shapes those guards assume.
  ctx.rollups.foreach { case (fine, r) =>
    require(fine > 0, s"registered rollup step must be positive (got $fine)")
    val missing = (Seq("series_id", "bin") ++ Rollup.accNames)
      .filterNot(r.columns.contains)
    require(missing.isEmpty,
      s"registered rollup (step $fine) lacks column(s): ${missing.mkString(", ")}")
  }
  ctx.histograms.foreach { case (win, h) =>
    require(win > 0,
      s"registered histogram window must be positive (got $win)")
    val missing =
      (Seq("series_id", "win") ++ graft.ops.HistQuantiles.histCols)
        .filterNot(h.columns.contains)
    require(missing.isEmpty,
      s"registered histogram (window $win) lacks column(s): ${missing.mkString(", ")}")
  }
  ctx.bucketSums.foreach { case (step, b) =>
    require(step > 0,
      s"registered bucket-sums step must be positive (got $step)")
    val missing = Seq("series_id", "__b", "__s", "__c")
      .filterNot(b.columns.contains)
    require(missing.isEmpty,
      s"registered bucket-sums index (step $step) lacks column(s): ${missing.mkString(", ")}")
  }
  ctx.kmvIndexes.foreach { reg =>
    require(reg.windowNs > 0,
      s"registered kmv window must be positive (got ${reg.windowNs})")
    require(reg.tag.nonEmpty, "registered kmv index needs a tag key")
    require(reg.k >= 2, s"registered kmv k must be >= 2 (got ${reg.k})")
    val missing = Seq("metric", "win", "h").filterNot(reg.index.columns.contains)
    require(missing.isEmpty,
      s"registered kmv index (tag ${reg.tag}, window ${reg.windowNs}) lacks column(s): ${missing.mkString(", ")}")
  }
  ctx.madIndexes.foreach { reg =>
    require(reg.fromNs < reg.toNs,
      s"registered mad index range must be non-empty (got [${reg.fromNs}, ${reg.toNs}))")
    val missing = Seq("name", "med", "mad").filterNot(reg.index.columns.contains)
    require(missing.isEmpty,
      s"registered mad index ([${reg.fromNs}, ${reg.toNs})) lacks column(s): ${missing.mkString(", ")}")
  }
  ctx.gapIndexes.foreach { reg =>
    require(reg.fromNs < reg.toNs,
      s"registered gap index range must be non-empty (got [${reg.fromNs}, ${reg.toNs}))")
    require(reg.factor > 0,
      s"registered gap index factor must be positive (got ${reg.factor})")
    val missing = Seq("name", "thr").filterNot(reg.index.columns.contains)
    require(missing.isEmpty,
      s"registered gap index ([${reg.fromNs}, ${reg.toNs})) lacks column(s): ${missing.mkString(", ")}")
  }
  // the pipeline tables keep the same construction-time shape contract
  // as the index frames: statement code trusts these columns exist
  ctx.documents.foreach { d =>
    val missing = Seq("id", "text").filterNot(d.columns.contains)
    require(missing.isEmpty,
      s"registered documents table lacks column(s): ${missing.mkString(", ")}")
  }
  ctx.embeddings.foreach { e =>
    val missing = Seq("id", "embedding").filterNot(e.columns.contains)
    require(missing.isEmpty,
      s"registered embeddings table lacks column(s): ${missing.mkString(", ")}")
  }
  ctx.ivfCodebook.foreach { cb =>
    require(cb.nonEmpty, "registered IVF codebook must not be empty")
    require(cb.map(_._1).distinct.size == cb.size,
      "registered IVF codebook has duplicate cell ids")
  }
  // the store registrations validate at construction like every index
  // frame: a directory that is not a store (or whose manifest is
  // damaged) fails HERE, loudly, not at the first statement
  ctx.corpusStore.foreach(graft.pipeline.CorpusStore.recipe)
  ctx.embeddingStore.foreach(graft.pipeline.EmbeddingStore.recipe)

  /** The catalog as a driver-side LocalRelation, when it holds at most
    * min([[Engine.MaxLocalSeries]], the broadcast ceiling) series: one
    * bounded collect per Engine lifetime, an index snapshot like
    * [[rollupDensities]]. Every statement's `where`, bbox, group-by-tag
    * re-keying and name rendering then fold at optimization time
    * (ConvertToLocalRelation) through the same Column code the parquet
    * catalog runs. [[graft.model.TsdbLayout.openFacts]] pins the
    * catalog's file listing, so the snapshot reads what the frame
    * would. */
  private lazy val localCatalog: Option[DataFrame] = {
    val bound = math.max(0L, math.min(Engine.MaxLocalSeries, maxBroadcastSeries))
    // one task reads the catalog: a limit over several partitions
    // collects incrementally, one job per partition it reaches
    val rows = ctx.series.coalesce(1).limit(bound.toInt + 1).collect()
    if (rows.length > bound) None
    else Some(ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      ctx.series.schema))
  }

  /** The catalog every statement resolves series from. */
  private def catalog: DataFrame = localCatalog.getOrElse(ctx.series)

  /** Whether resolved-id frames broadcast ([[Engine.MaxBroadcastSeries]]):
    * a catalog that fits the local snapshot always does; a larger one
    * is counted once per Engine lifetime, and above the ceiling every
    * resolved-id join flips to a shuffle join. */
  private lazy val seriesBroadcastable: Boolean =
    localCatalog.isDefined ||
      (maxBroadcastSeries > Engine.MaxLocalSeries &&
        ctx.series.count() <= maxBroadcastSeries)

  /** Broadcast below the catalog ceiling, plain (shuffle) join above
    * it — the fallback regime of [[joinResolved]], and the hint the
    * name-keyed per-series index joins (mad, gap) take directly. */
  private def idsHint(ids: DataFrame): DataFrame =
    if (seriesBroadcastable) broadcast(ids) else ids

  /** The one way a resolved-id frame meets a fact or per-series index
    * frame: `left.join(ids, "series_id")`, in one of three regimes.
    *   - inline: `ids` folds to a LocalRelation of at most
    *     [[Engine.MaxInlineSeries]] rows with unique, non-null ids. The
    *     join becomes `series_id IN (…)` on `left` (pushed into the
    *     Parquet scan, where it prunes row groups) plus one map-literal
    *     lookup per ids column. No exchange and no Spark job; an empty
    *     resolution folds the scan away.
    *   - broadcast / shuffle: anything else joins through [[idsHint]].
    * Columns come out in the using-join's order: `series_id`, `left`'s
    * others, then `ids`'s others. */
  private def joinResolved(left: DataFrame, ids: DataFrame): DataFrame =
    inlineIds(ids) match {
      case Some((inKeys, lookups)) =>
        val others = left.columns.filterNot(_ == "series_id")
          .map(c => col(s"`$c`"))
        left.where(inKeys).select(col("series_id") +: others ++: lookups: _*)
      case None => left.join(idsHint(ids), "series_id")
    }

  /** The inline regime's filter and lookup columns, read off the ids
    * frame's folded rows (no job runs), or None when it does not fold
    * to a small LocalRelation keyed by unique, non-null ids. */
  private def inlineIds(ids: DataFrame): Option[(Column, Seq[Column])] =
    ids.queryExecution.optimizedPlan match {
      case lr: LocalRelation if lr.data.size <= Engine.MaxInlineSeries =>
        val out = lr.output
        val k = out.indexWhere(_.name == "series_id")
        val kType = out(k).dataType
        def values(i: Int): Seq[Any] = lr.data.map(r =>
          if (r.isNullAt(i)) null else r.get(i, out(i).dataType))
        val keys = values(k)
        if (keys.contains(null) || keys.distinct.size != keys.size) None
        else {
          val sid = col("series_id")
          val inKeys = Bridge.column(
            In(Bridge.expression(sid), keys.map(Literal(_, kType))))
          val lookups = out.indices.filter(_ != k).map { i =>
            val m = Literal(
              new ArrayBasedMapData(new GenericArrayData(keys.toArray),
                new GenericArrayData(values(i).toArray)),
              MapType(kType, out(i).dataType, valueContainsNull = true))
            element_at(Bridge.column(m), sid).as(out(i).name)
          }
          Some((inKeys, lookups))
        }
      case _ => None
    }

  /** Measured compression ratio per registered rollup (avg samples per
    * stored fine bin), driving the density guard. One tiny aggregation
    * over the rollup itself per Engine lifetime — an index statistic, not
    * a per-query action. */
  private lazy val rollupDensities: Map[Long, Double] =
    ctx.rollups.map { case (fine, r) =>
      val row = r.agg(avg(col("cnt"))).head()
      fine -> (if (row.isNullAt(0)) 0.0 else row.getDouble(0))
    }.toMap

  def execute(json: String): DataFrame = run(QueryParser.parse(json))

  /** Execute and render through the `output` clause (RESP or CSV lines,
    * the reference's sink-side formatting, queryparser.cc:933). */
  def executeRendered(json: String): org.apache.spark.sql.Dataset[String] =
    OutputFormat.render(execute(json), QueryParser.parseOutputSpec(json))

  def run(q: Query): DataFrame = q match {
    case s: SelectQuery             => select(s)
    case s: SelectEventsQuery       => selectEvents(s)
    case a: AggregateQuery          => aggregate(a)
    case g: GroupAggregateQuery     => groupAggregate(g)
    case j: JoinQuery               => join(j)
    case a: AsofJoinQuery           => asofJoin(a)
    case q: QuantileQuery           => quantile(q)
    case q: CorrelateQuery          => correlate(q)
    case q: TrendQuery              => trend(q)
    case q: AutocorrQuery           => autocorr(q)
    case q: ActiveQuery             => active(q)
    case q: DistinctQuery           => distinct(q)
    case q: ChangepointsQuery       => changepoints(q)
    case q: SessionsQuery           => sessions(q)
    case q: SeasonalQuery           => seasonal(q)
    case q: GapsQuery               => gaps(q)
    case q: StaleQuery              => stale(q)
    case q: AnomalyQuery            => anomaly(q)
    case g: GroupAggregateJoinQuery => groupAggregateJoin(g)
    case s: SearchQuery             => search(s)
    case s: SuggestQuery            => suggest(s)
    case q: KnnQuery                => knn(q)
    case q: DedupQuery              => dedup(q)
  }

  // ------------------------------------------- pipeline statements

  /** A statement predicate string as a Column over `df` — Catalyst is
    * the expression engine (the `eval` apply-node precedent); parse
    * and resolution failures surface as BadQuery at the library
    * boundary, never raw Catalyst internals.
    *
    * The parsed tree is restricted to comparison / boolean /
    * arithmetic nodes over the registered table's columns
    * ([[validatePredicateTree]]): unlike the `eval` apply node — an
    * operator-authored transform — these statements make the predicate
    * a REQUIRED free-form string on the query surface, and Catalyst's
    * full function namespace includes side-effectful built-ins
    * (`reflect`/`java_method` invoke arbitrary static methods), an
    * injection surface the moment the JSON front end serves an
    * untrusted caller. */
  private def predicateOver(df: DataFrame, pred: String,
      stmt: String): DataFrame =
    try {
      validatePredicateTree(
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(pred), stmt, pred)
      val filtered = df.where(expr(pred))
      filtered.schema // force analysis: unresolved columns fail HERE
      filtered
    } catch {
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw new BadQuery(s"$stmt: malformed predicate '$pred': " +
          e.getMessage.linesIterator.take(2).mkString(" "))
      case e: org.apache.spark.sql.AnalysisException =>
        throw new BadQuery(s"$stmt: predicate '$pred' does not resolve " +
          s"against the registered table: " +
          e.getMessage.linesIterator.take(2).mkString(" "))
    }

  /** The statement-predicate expression whitelist: column references,
    * literals, boolean connectives, comparisons (incl. IN / BETWEEN /
    * LIKE / RLIKE / null tests), arithmetic and casts. Everything else
    * — above all any FUNCTION CALL — is BadQuery: a filter needs
    * nothing more, and the rejected namespace is where the
    * side-effectful built-ins live. */
  private def validatePredicateTree(
      root: org.apache.spark.sql.catalyst.expressions.Expression,
      stmt: String, pred: String): Unit = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    root.foreach {
      case _: ce.Literal => ()
      case _: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => ()
      case _: ce.And | _: ce.Or | _: ce.Not => ()
      case _: ce.BinaryComparison => () // = != < <= > >= <=>
      case _: ce.In | _: ce.Between => ()
      // the parser emits BETWEEN through the function namespace; only
      // that one name passes — it resolves to the pure comparison
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("between") => ()
      case _: ce.BinaryArithmetic => () // + - * / % div
      case _: ce.UnaryMinus | _: ce.UnaryPositive => ()
      case _: ce.Cast => ()
      case _: ce.IsNull | _: ce.IsNotNull => ()
      case _: ce.Like | _: ce.RLike => ()
      case other => throw new BadQuery(
        s"$stmt: predicate '$pred' uses ${other.prettyName}, outside " +
          s"the statement-predicate grammar (column refs, literals, " +
          s"boolean/comparison/arithmetic operators, IN, BETWEEN, " +
          s"LIKE, RLIKE, IS NULL, CAST); function calls are not " +
          s"admitted here")
    }
  }

  /** `{"knn": ...}` over the registered embeddings table. `brute` is
    * the exact broadcast-queries scan. `ivf`/`ivfpq` serve from the
    * registered [[graft.pipeline.EmbeddingStore]] when one is
    * registered — the persisted cell-partitioned index, probes pruned
    * to nprobe partitions — REQUIRING the statement's parameters to
    * match the store's manifest recipe (mismatch = BadQuery, the
    * registered-index discipline: never a silent recompute with an
    * incomparable index sitting right there). Without a store, `ivf`
    * serves from the registered codebook when its size matches
    * `nlist` and pays the deterministic Lloyd fit otherwise; `ivfpq`
    * fits its PQ sub-codebooks the same way. */
  def knn(q: KnnQuery): DataFrame = {
    val emb = ctx.embeddings.getOrElse(throw new BadQuery(
      "knn: no embeddings table registered on this context"))
    val queries = predicateOver(emb, q.queries, "knn")
      .select(col("id").as("qid"), col("embedding"))
    // guarded here too, not only in the JSON parser: KnnQuery is a
    // public case class and Engine.run a public entry — misuse must
    // be BadQuery, never a NoSuchElementException
    def nlistOf: Int = q.nlist.getOrElse(throw new BadQuery(
      s"knn: index '${q.index}' requires nlist"))
    def storeRecipe(d: String): graft.pipeline.EmbeddingStore.Recipe = {
      val r = graft.pipeline.EmbeddingStore.recipe(d)
      if (r.nlist != nlistOf) throw new BadQuery(
        s"knn: statement nlist ($nlistOf) does not match the " +
          s"registered embedding store's recipe (nlist=${r.nlist}) — " +
          s"restate with the recipe's parameters, or query a context " +
          s"without the store registration")
      r
    }
    def fitCenters(nlist: Int): Seq[(Int, Seq[Double])] = {
      // the in-row assignment kernel's ceiling, enforced at the
      // statement boundary (r15, the r14 verdict's fallback-regime
      // item): past it every statement would silently pay the
      // window-form fallback — an nlist× corpus shuffle PER QUERY.
      // That regime's assignment belongs in a persisted store, where
      // it is computed once at build time and queries prune partitions.
      if (nlist > graft.pipeline.Similarity.MaxInRowProbeCenters)
        throw new BadQuery(
          s"knn: nlist ($nlist) exceeds the in-row assignment ceiling " +
            s"(${graft.pipeline.Similarity.MaxInRowProbeCenters}); a " +
            s"codebook this size must serve from a registered " +
            s"EmbeddingStore (persisted cell partitions), not a " +
            s"per-statement assignment")
      ctx.ivfCodebook.filter(_.size == nlist)
        .getOrElse(graft.pipeline.Similarity.fitCodebook(
          emb, nlist, q.iters))
    }
    q.index match {
      case "brute" =>
        graft.pipeline.Similarity.knnBrute(emb, queries, q.k)
      case "ivf" =>
        ctx.embeddingStore match {
          case Some(d) =>
            storeRecipe(d)
            graft.pipeline.EmbeddingStore.knn(ctx.spark, d, queries,
              q.k, q.nprobe)
          case None =>
            graft.pipeline.Similarity.knnIvfWith(fitCenters(nlistOf),
              emb, queries, q.k, q.nprobe)
        }
      case "ivfpq" =>
        val (m, ksub) = (q.m, q.ksub) match {
          case (Some(a), Some(b)) => (a, b)
          case _ => throw new BadQuery(
            "knn: index 'ivfpq' requires m and ksub")
        }
        ctx.embeddingStore match {
          case Some(d) =>
            val r = storeRecipe(d)
            if (!r.m.contains(m) || !r.ksub.contains(ksub))
              throw new BadQuery(
                s"knn: statement PQ parameters (m=$m, ksub=$ksub) do " +
                  s"not match the registered embedding store's recipe " +
                  s"(m=${r.m.getOrElse("none")}, " +
                  s"ksub=${r.ksub.getOrElse("none")})")
            graft.pipeline.EmbeddingStore.knnPq(ctx.spark, d, queries,
              q.k, q.nprobe)
          case None =>
            val dim = emb.select(size(col("embedding"))).limit(1)
              .collect().headOption.map(_.getInt(0))
              .getOrElse(throw new BadQuery(
                "knn: the registered embeddings table is empty — " +
                  "ivfpq cannot infer the embedding dimension"))
            if (m <= 0 || dim % m != 0) throw new BadQuery(
              s"knn: ivfpq m ($m) must divide the embedding dim ($dim)")
            val books = graft.pipeline.Similarity.fitPqCodebooks(
              emb, dim, m, ksub, q.iters)
            graft.pipeline.Similarity.knnIvfPq(fitCenters(nlistOf),
              books, emb, queries, q.k, q.nprobe)
        }
      case other =>
        throw new BadQuery(
          s"unknown knn.index '$other' ('brute', 'ivf' or 'ivfpq')")
    }
  }

  /** `{"dedup": ...}` — incremental dedup behind the JSON front end.
    *
    * With a registered [[graft.pipeline.CorpusStore]], the rows
    * matching the batch predicate probe the store's PERSISTED index
    * ([[graft.pipeline.CorpusStore.probeBatch]] — index-only scans,
    * recipe from the manifest, the corpus text never re-read), and the
    * statement's (k, num-perm, bands) must MATCH that recipe —
    * mismatch is BadQuery, never a silent per-statement recompute with
    * different parameters while an incomparable index sits registered.
    *
    * Without one, the self-contained split stays the path: rows
    * matching the predicate are the arriving batch, the rest of the
    * documents table the corpus — [[graft.pipeline.Dedup
    * .dedupAgainstCorpus]]'s corpus-never-shuffled split. */
  def dedup(q: DedupQuery): DataFrame = {
    val docs = ctx.documents.getOrElse(throw new BadQuery(
      "dedup: no documents table registered on this context"))
    val batch = predicateOver(docs, q.batch, "dedup")
    ctx.corpusStore match {
      case Some(d) =>
        val r = graft.pipeline.CorpusStore.recipe(d)
        if (q.k != r.k || q.numPerm != r.numPerm || q.bands != r.bands)
          throw new BadQuery(
            s"dedup: statement parameters (k=${q.k}, " +
              s"num-perm=${q.numPerm}, bands=${q.bands}) do not match " +
              s"the registered corpus store's recipe (k=${r.k}, " +
              s"num-perm=${r.numPerm}, bands=${r.bands}) — restate " +
              s"with the recipe's parameters, or query a context " +
              s"without the store registration")
        graft.pipeline.CorpusStore.probeBatch(ctx.spark, d,
          batch.select(col("id").as(r.idCol), col("text").as(r.textCol)),
          q.threshold)
      case None =>
        // the corpus is the COMPLEMENT of the batch, under SQL's
        // three-valued logic: a row where the predicate evaluates to
        // NULL is not in the batch, so it must be in the corpus —
        // bare !expr would silently drop it from both sides
        val corpus = docs.where(coalesce(!expr(q.batch), lit(true)))
        graft.pipeline.Dedup.dedupAgainstCorpus(corpus, batch, "id",
          "text", q.k, q.numPerm, q.bands, q.threshold)
    }
  }

  // ---------------------------------------------------------------- select

  def select(q: SelectQuery): DataFrame = {
    val ids = resolvedIds(Seq(q.metric), q.where, q.groupBy, location = q.location)
    var df = scan(ids, q.range, Seq(q.metric))
    q.filter.foreach(f => df = df.where(valueFilterCond(col("value"), f)))
    df = df.select(col("out_name").as("series"), col("ts"), col("value"))
    finish(ApplyNodes.chain(df, q.apply, Seq("value")), q.orderBy, q.range.forward,
      q.limit, q.offset)
  }

  def selectEvents(q: SelectEventsQuery): DataFrame = {
    // numeric apply nodes have no meaning on (series, ts, body) streams,
    // and the reference never executes them for events either (its
    // topology builder that would is test-only) — reject instead of
    // silently dropping the clause
    if (q.apply.nonEmpty)
      throw new BadQuery("select-events does not support 'apply' (event streams carry string bodies)")
    val ids = resolvedIds(Seq(q.metric), q.where, q.groupBy, location = q.location)
    // a laid-out events table (TsdbLayout.writeEvents) carries metric
    // and ts_day partition columns: push both so the scan prunes to
    // exactly this metric's ranged days — the samples path's two-level
    // pruning for the log half; plain frames skip both (no-ops)
    val evBase =
      if (ctx.events.columns.contains("metric"))
        ctx.events.where(col("metric") === q.metric)
      else ctx.events
    var df = joinResolved(tsDayPruned(evBase, q.range),
        ids.select("series_id", "out_name"))
      .where(rangeCond(q.range))
    q.regex.foreach(re => df = df.where(col("body").rlike(re)))
    df = df.select(col("out_name").as("series"), col("ts"), col("body"))
    finish(df, q.orderBy, q.range.forward, q.limit, q.offset)
  }

  /** Beyond-reference `quantile`: per-series percentiles of the ranged
    * values, served from the mergeable log-bucketed histogram
    * ([[graft.ops.HistQuantiles]]). The scan reduces to bucket COUNTS
    * map-side (partial aggregation — the shuffle carries at most a few
    * hundred buckets per series, never samples), so one hot series
    * costs the same as a quiet one; answers are bucket lower edges,
    * within 12.5% below the true order statistic. Output: one row per
    * (series, p) — (series, p, q). */
  def quantile(q: QuantileQuery): DataFrame = {
    // group-by-tag re-keying composes exactly: series merged under one
    // out_name pool bucket COUNTS (the histogram is mergeable), both
    // on the scan path and through every index-serving path
    val ids = resolvedIds(Seq(q.metric), q.where, q.groupBy,
      location = q.location)
    // the stepped form is per-bin percentiles (bins anchored at
    // range.from like group-aggregate) — "p99 per day". Same bounded
    // per-group histogram; the bin is just another key
    val keys = "series" +: q.stepNs.map(_ => "__bin").toSeq
    val hist = servedQuantile(q, ids, keys).getOrElse {
      // value filter runs during the scan, BEFORE bucketing — "p99 of
      // the values above the floor"; a pushdown-able predicate
      var df = scan(ids, q.range, Seq(q.metric))
      q.filter.foreach(f => df = df.where(valueFilterCond(col("value"), f)))
      graft.ops.HistQuantiles.histogram(
        df.select(col("out_name").as("series") +:
          q.stepNs.map(binColumn(q.range, _).as("__bin")).toSeq :+
          col("value"): _*),
        keys)
    }
    val qs = graft.ops.HistQuantiles.quantiles(hist, keys, q.ps)
    if (q.stepNs.isEmpty) ordered(qs, Seq(col("series"), col("p")))
    else ordered(qs.select(col("series"), expr("__bin div 1000").as("ts_us"),
        col("p"), col("q")), Seq(col("series"), col("ts_us"), col("p")))
  }

  /** Quantile serving from a REGISTERED histogram index
    * (ctx.histograms: window step → (series_id, win, lo, cnt)) — the
    * percentile analog of rollup-served aggregation: when the forward
    * range covers WHOLE windows (from and to both aligned to the window
    * step), the merge of the covered windows' bucket counts —
    * (series[, __bin], lo, cnt) — is EXACTLY the scan-built histogram
    * (counts are exact; only the bucketing approximates), and
    * [[quantile]]'s one tail answers from it — so serving never changes
    * the answer, only removes the fact scan (plan-pinned: no samples
    * read). The STEPPED form additionally needs `step` to be a whole
    * number of windows: each window then lies inside exactly one query
    * bin (bins anchor at the aligned `from`), so window counts re-key
    * to bins by addition — the rollupGroupAggregate qbin re-binning for
    * percentiles; "p99 per day over last month" never rescans raw.
    * Misaligned or backward ranges abstain and fall back to the scan —
    * a partially-covered window's counts cannot be split.
    *
    * Registration ORDER is preference order (collectFirst): register
    * coarsest first, so a compaction ladder
    * ([[graft.ops.HistQuantiles.compact]] — e.g. Seq(day, hour))
    * serves day-aligned ranges from the small level and falls through
    * to the fine level for hour-aligned ones (PlanShapeSpec pins the
    * level selection). */
  private def servedQuantile(q: QuantileQuery, ids: DataFrame,
      keys: Seq[String]): Option[DataFrame] = {
    if (!q.range.forward) return None
    // the index stores unfiltered bucket counts — an arbitrary value
    // threshold cannot be applied at bucket granularity; filtered
    // statements always scan
    if (q.filter.nonEmpty) return None
    ctx.histograms.collectFirst { case (win, hist)
        if Math.floorMod(q.range.from, win) == 0 &&
          Math.floorMod(q.range.to, win) == 0 &&
          q.stepNs.forall(_ % win == 0) =>
      val covered = joinResolved(
        hist.where(col("win") >= q.range.from && col("win") < q.range.to),
        ids.select("series_id", "out_name"))
      // window → query bin: the same anchored-bin rule as the scan
      // path, applied to window starts
      graft.ops.HistQuantiles.merge(
        covered.select(col("out_name").as("series") +:
          q.stepNs.map(binOf(col("win"), q.range, _).as("__bin")).toSeq :+
          col("lo") :+ col("cnt"): _*),
        keys)
    }
  }

  /** Beyond-reference `seasonal`: per-series phase-of-period value
    * bands over the range ([[graft.ops.Monitoring.seasonalBands]] —
    * the [pLo, pHi] bucket HULL per (series, phase), served from the
    * bounded log-bucket histogram). The scan reduces to bucket counts
    * map-side; output is (series × phases)-sized — an index a caller
    * persists and judges batches or streams against. Output:
    * (series, phase, lo, hi). */
  def seasonal(q: SeasonalQuery): DataFrame = {
    // the parser's rule, at the engine's altitude for hand-built ASTs
    if (q.binNs <= 0 || q.periodNs % q.binNs != 0) throw new BadQuery(
      s"seasonal: bin (${q.binNs}) must divide the period (${q.periodNs})")
    val ids = resolvedIds(Seq(q.metric), q.where, q.groupBy,
      location = q.location)
    // the phase histogram Monitoring.seasonalBands builds internally
    val hist = servedSeasonal(q, ids).getOrElse(
      graft.ops.HistQuantiles.histogram(
        scan(ids, q.range, Seq(q.metric)).select(col("out_name").as("series"),
          expr(s"pmod(ts, ${q.periodNs}L) div ${q.binNs}L").as("phase"),
          col("value")),
        Seq("series", "phase")))
    ordered(graft.ops.Monitoring.bandsFromHist(hist, "series", q.pLo, q.pHi),
      Seq(col("series"), col("phase")))
  }

  /** Seasonal-band serving from the SAME registered histogram index the
    * quantile statement uses (ctx.histograms — one index, two
    * statements): when the forward range covers whole windows AND the
    * window divides both the phase bin and the period, every sample in
    * a window shares one phase (the window sits inside one bin of one
    * period cycle), so window counts re-key to (series, phase, lo, cnt)
    * by addition — exactly the counts the scan would build, so the band
    * fit ([[graft.ops.Monitoring.bandsFromHist]], [[seasonal]]'s one
    * tail) gives served bands equal to scan-built bands bit-for-bit,
    * with no fact scan (plan-pinned). Misaligned ranges or a window
    * that doesn't divide the bin/period abstain to the scan. */
  private def servedSeasonal(q: SeasonalQuery,
      ids: DataFrame): Option[DataFrame] = {
    if (!q.range.forward) return None
    ctx.histograms.collectFirst { case (win, hist)
        if Math.floorMod(q.range.from, win) == 0 &&
          Math.floorMod(q.range.to, win) == 0 &&
          q.periodNs % win == 0 && q.binNs % win == 0 =>
      val phased = joinResolved(
          hist.where(col("win") >= q.range.from && col("win") < q.range.to),
          ids.select("series_id", "out_name"))
        .select(col("out_name").as("series"),
          expr(s"pmod(win, ${q.periodNs}L) div ${q.binNs}L").as("phase"),
          col("lo"), col("cnt"))
      graft.ops.HistQuantiles.merge(phased, Seq("series", "phase"))
    }
  }

  /** Beyond-reference `sessions`: per-series activity sessions within
    * the range ([[graft.ops.Monitoring.sessions]] — the complement of
    * `gaps`: maximal sample runs whose spacings stay under `gap`). One
    * lag window + cumulative sum over the pruned scan's per-series
    * sort; output is session-count-sized. Output:
    * (series, start_us, end_us, n, min, max). */
  def sessions(q: SessionsQuery): DataFrame = {
    val ids = resolvedIds(Seq(q.metric), q.where, None, location = q.location)
    ordered(graft.ops.Monitoring.sessions(
        scan(ids, q.range, Seq(q.metric))
          .select(col("out_name").as("series"), col("ts"), col("value")),
        q.gapNs, keyCol = "series"),
      Seq(col("series"), col("start_us")))
  }

  /** Beyond-reference `gaps`: per-series silence intervals within the
    * range ([[graft.ops.Monitoring.gaps]] absolute /
    * [[graft.ops.Monitoring.gapsRelative]] adaptive, through the query
    * language) — the incident-review readout ("when was anyone
    * silent"). One lag window per series over the pruned scan; emitted
    * rows are gap-count-sized. Output:
    * (series, gap_start_us, gap_end_us, gap_us). */
  def gaps(q: GapsQuery): DataFrame = {
    val ids = resolvedIds(Seq(q.metric), q.where, None, location = q.location)
    val s = scan(ids, q.range, Seq(q.metric))
      .select(col("out_name").as("series"), col("ts"), col("value"))
    val flagged = (q.minGapNs, q.factor) match {
      case (Some(thr), _) =>
        graft.ops.Monitoring.gaps(s, thr, keyCol = "series")
      case (None, Some(f)) =>
        // a REGISTERED cadence index whose (range, factor) match the
        // statement's exactly serves the model pass: one ranged fact
        // pass flagged against broadcast thresholds (mean spacings
        // neither add nor restrict across ranges — exact match or
        // abstain, the MadIndexDef rule; same serving idiom as anomaly)
        val served: Option[DataFrame] =
          if (q.range.forward)
            ctx.gapIndexes.collectFirst {
              case d if d.fromNs == q.range.from && d.toNs == q.range.to &&
                  d.factor == f =>
                graft.ops.Monitoring.gapsRelativeWith(s,
                  d.index.select(col("name").as("series"), col("thr")),
                  "series", hint = idsHint)
            }
          else None
        served.getOrElse(
          graft.ops.Monitoring.gapsRelative(s, f, keyCol = "series"))
      case (None, None) =>
        // the parser enforces exactly-one; a hand-built AST must fail
        // at the same altitude, not as a NoSuchElementException
        throw new BadQuery(
          "gaps requires exactly one of 'min-gap' or 'factor'")
    }
    ordered(flagged.select(col("series"),
        expr("gap_start div 1000").as("gap_start_us"),
        expr("gap_end div 1000").as("gap_end_us"),
        expr("gap_ns div 1000").as("gap_us")),
      Seq(col("series"), col("gap_start_us")))
  }

  /** Beyond-reference `anomaly`: per-series robust outliers — ranged
    * samples with |x − median| > c · MAD
    * ([[graft.ops.Monitoring.madAnomalies]] through the query
    * language; Hampel's identifier). The fit and flag passes share one
    * scope-cached scan; with `rate`, the med/MAD index fits on a
    * hash-deterministic row sample instead (the bounded-memory form —
    * flags still judge every ranged sample). Output:
    * (series, ts_us, value, med, mad), flagged rows only. */
  def anomaly(q: AnomalyQuery): DataFrame = {
    val ids = resolvedIds(Seq(q.metric), q.where, None, location = q.location)
    val rows = scan(ids, q.range, Seq(q.metric))
      .select(col("out_name").as("series"), col("ts"), col("value"))
    // a REGISTERED med/MAD index whose build range matches the
    // statement's exactly serves the fit: the ranged samples are judged
    // against the broadcast index rows in ONE fact pass — no percentile
    // aggregation, no cache. Medians don't restrict to sub-ranges, so
    // anything but an exact range match abstains (the loudly-never-
    // wrongly rule); the sampled form keeps its own fit by definition.
    val served: Option[DataFrame] =
      if (q.rate.isEmpty && q.range.forward)
        ctx.madIndexes.collectFirst {
          case d if d.fromNs == q.range.from && d.toNs == q.range.to =>
            graft.ops.Monitoring.madAnomaliesWith(rows,
              idsHint(d.index.select(col("name").as("series"),
                col("med"), col("mad"))),
              "series", q.c)
        }
      else None
    val flagged = served.getOrElse {
      // scope-cache HERE so both fit-and-flag paths share one fact scan:
      // the sampled path's index otherwise caches only the hash-FILTERED
      // subtree and the flag pass re-scans the facts in full
      val s = graft.ScopedCache.cache(rows)
      q.rate match {
        case None => graft.ops.Monitoring.madAnomalies(s, "series", q.c)
        case Some(r) =>
          graft.ops.Monitoring.madAnomaliesWith(s,
            graft.ops.Monitoring.madIndexSampled(s, "series", r), "series", q.c)
      }
    }
    ordered(flagged.where(col("is_anomaly"))
      .select(col("series"), expr("ts div 1000").as("ts_us"),
        round(col("value"), 6).as("value"),
        round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad")),
      Seq(col("series"), col("ts_us"), col("value")))
  }

  /** Beyond-reference `stale`: registered series of the metric whose
    * last in-range sample is older than `range.to − older-than` — with
    * `range.to` as "now", the heartbeat readout
    * ([[graft.ops.Monitoring.staleSeries]] through the query
    * language). Series that never wrote in the range at all surface
    * with null last_ts (left join from the resolved catalog rows —
    * absence is exactly what this statement must not silently drop).
    * Output: (series, last_ts_us nullable). */
  def stale(q: StaleQuery): DataFrame = {
    val ids = resolvedIds(Seq(q.metric), q.where, None, location = q.location)
    // a REGISTERED rollup serves the last-arrival scan under whole-bin
    // alignment (the servedActive rule pointed at ts_max): per-series
    // max over covered bins' ts_max accumulators IS the max raw ts in
    // the range, so the heartbeat readout — an operational query run
    // constantly — reads series × bins index rows, never raw samples.
    // Misaligned or backward ranges abstain to the scan.
    val last = eligibleActivityRollup(q.range, None)
      .map(inRange => joinResolved(inRange, ids.select("series_id", "out_name"))
        .groupBy(col("out_name").as("series"))
        .agg(max(col("ts_max")).as("__last")))
      .getOrElse(scan(ids, q.range, Seq(q.metric))
        .groupBy(col("out_name").as("series"))
        .agg(max(col("ts")).as("__last")))
    ordered(ids.select(col("out_name").as("series"))
      .join(last, Seq("series"), "left_outer")
      .where(col("__last").isNull ||
        col("__last") < q.range.to - q.olderThanNs)
      .select(col("series"), expr("__last div 1000").as("last_ts_us")),
      Seq(col("series")))
  }

  /** Beyond-reference `active`: per-metric count of DISTINCT series
    * with at least one sample in the range, optionally per `step` bin
    * (bins anchored at range.from, the group-aggregate rule) — "how
    * many emitters are alive", the churn dashboard readout. The scan
    * reduces to distinct (metric, bin, series_id) triples before the
    * count — catalog × bins, never sample-sized. */
  def active(q: ActiveQuery): DataFrame = {
    val base = locationFiltered(seriesFor(q.metrics, q.where), q.location)
    val ids = base.select(col("series_id"), col("metric").as("out_name"))
    finishActive(q, servedActive(q, ids).getOrElse(
      scan(ids, q.range, q.metrics)
        .select(col("series_id"), col("out_name"), col("ts").as("__t"))))
  }

  /** Active-series serving from a REGISTERED rollup: a rollup stores a
    * bin row ONLY where samples exist, so "has a sample in the range" ≡
    * "has a rollup bin in the range" whenever the forward range (and
    * each query bin, for the stepped form) covers whole fine bins —
    * the distinct count then reads index rows, never raw facts (at
    * 100 TB "how many emitters this month" touches series × bins
    * rows). Coarsest eligible level wins (fewest rows, same answer —
    * the answer is EXACT at any eligible level); misaligned or
    * backward ranges abstain to the scan, since a partial fine bin
    * could contain a series' only sample outside the range.
    *
    * The ONE activity-serving eligibility rule ([[servedActive]] and
    * [[servedDistinct]] share it — a future boundary fix must not
    * diverge the two statements' guards): the COARSEST registered
    * rollup whose fine bin divides the forward range's both ends (and
    * the query step, if any), its rows restricted to the range.
    * fine > 0 is the constructor gate's invariant — not re-checked
    * here. */
  private def eligibleActivityRollup(range: TimeRange,
      stepNs: Option[Long]): Option[DataFrame] = {
    if (!range.forward) return None
    ctx.rollups.filter { case (fine, _) =>
      Math.floorMod(range.from, fine) == 0 &&
        Math.floorMod(range.to, fine) == 0 &&
        stepNs.forall(_ % fine == 0)
    }.sortBy { case (fine, _) => -fine }.headOption.map { case (_, rollup) =>
      rollup.where(col("bin") >= range.from && col("bin") < range.to)
    }
  }

  private def servedActive(q: ActiveQuery, ids: DataFrame): Option[DataFrame] =
    eligibleActivityRollup(q.range, q.stepNs).map(inRange =>
      joinResolved(inRange, ids.select("series_id", "out_name"))
        .select(col("series_id"), col("out_name"), col("bin").as("__t")))

  /** The ONE count tail both active paths share, over activity rows
    * (series_id, out_name, __t): `__t` is the sample ts on the scan
    * path and the rollup bin start on the served path — the same query
    * bin under the serving guard ([[finishDistinct]]'s convention). */
  private def finishActive(q: ActiveQuery, rows: DataFrame): DataFrame =
    q.stepNs match {
      case None =>
        ordered(rows.groupBy(col("out_name").as("metric"))
          .agg(countDistinct(col("series_id")).as("n_series")),
          Seq(col("metric")))
      case Some(step) =>
        ordered(rows.groupBy(col("out_name").as("metric"),
            binOf(col("__t"), q.range, step).as("__bin"))
          .agg(countDistinct(col("series_id")).as("n_series"))
          .select(col("metric"), expr("__bin div 1000").as("ts_us"),
            col("n_series")),
          Seq(col("metric"), col("ts_us")))
    }

  /** Beyond-reference `distinct`: per-metric ESTIMATED distinct values
    * of a tag among series active in the range ([[Ast.DistinctQuery]]),
    * optionally per `step` bin — `active`'s high-cardinality twin,
    * backed by the KMV sketch ([[graft.ops.Sketches.kmvServeKeys]]).
    * Exact distinct counting shuffles every distinct key; here at most
    * `k` hashes per (metric, bin) survive the map-side WindowGroupLimit
    * cut, whatever the tag universe's size, and groups holding < k
    * distinct values report exactly. Series lacking the tag are dropped
    * from the catalog side on BOTH paths (scan and served), so index
    * serving never changes the answer. Output:
    * (metric, n_kept, est_distinct) [, ts_us]. */
  def distinct(q: DistinctQuery): DataFrame = {
    val base = locationFiltered(seriesFor(q.metrics, q.where), q.location)
    val ids = base
      .where(col("tags").getItem(q.tag).isNotNull)
      .select(col("series_id"), col("metric").as("out_name"),
        graft.pipeline.Dedup.hash60(col("tags").getItem(q.tag)).as("__h"))
    servedDistinctKmv(q).orElse(servedDistinct(q, ids)).getOrElse {
      // the scan's only job is (series, bin) ACTIVITY: it reduces to
      // distinct (metric, bin, series-hash) triples inside kmvServeKeys'
      // dedup — catalog × bins sized, never sample-sized. A value
      // filter narrows what counts as activity ("distinct users with a
      // purchase over 150") as a pushdown-able scan predicate
      var df = joinResolved(tsDayPruned(facts(q.metrics), q.range), ids)
        .where(rangeCond(q.range))
      q.filter.foreach(f => df = df.where(valueFilterCond(col("value"), f)))
      finishDistinct(q, df.withColumn("__t", col("ts")))
    }
  }

  /** `distinct` serving from a REGISTERED KMV index (ctx.kmvIndexes —
    * the statement's PRODUCTION path at scale: metric × windows × k
    * rows where the rollup-activity path below reads series × bins).
    * k-min sets merge exactly — the k minimal of a union are all among
    * each window's k minimal — so whenever the statement's k ≤ the
    * build k, the re-cut over covered windows equals the scan's k-cut
    * over the full hash set BIT-FOR-BIT (n_kept and h_k included), not
    * just approximately. The index pools ALL of a metric's series and
    * stores no values, so it abstains for where/location/filter'd
    * statements and for a different tag; misaligned ranges or a
    * statement k above the build k abstain too (a larger k cannot be
    * reconstructed from k-min sets — [[graft.ops.Sketches.kmvCompact]]'s
    * rule). Registration order is preference order. */
  private def servedDistinctKmv(q: DistinctQuery): Option[DataFrame] = {
    if (!q.range.forward || q.filter.nonEmpty || q.location.nonEmpty ||
      q.where != Where.All) return None
    ctx.kmvIndexes.collectFirst { case reg
        if reg.tag == q.tag && q.k <= reg.k &&
          Math.floorMod(q.range.from, reg.windowNs) == 0 &&
          Math.floorMod(q.range.to, reg.windowNs) == 0 &&
          q.stepNs.forall(_ % reg.windowNs == 0) =>
      finishDistinct(q, reg.index
        .where(col("metric").isin(q.metrics: _*))
        .where(col("win") >= q.range.from && col("win") < q.range.to)
        .select(col("metric").as("out_name"), col("win").as("__t"),
          col("h").as("__h")))
    }
  }

  /** Distinct-estimate serving from a REGISTERED rollup — the
    * [[servedActive]] rule carried to KMV: under whole-fine-bin
    * alignment "has a sample in the range/bin" ≡ "has a rollup bin
    * there", and each series contributes one CONSTANT tag-value hash,
    * so the distinct (metric, bin, hash) set — and therefore the k-min
    * cut and the estimate — is IDENTICAL to the scan's (spec-pinned).
    * Coarsest eligible level wins; misaligned or backward ranges
    * abstain to the scan. At 100 TB "distinct users this month" then
    * reads series × bins index rows, never raw samples. */
  private def servedDistinct(q: DistinctQuery,
      ids: DataFrame): Option[DataFrame] = {
    // a rollup stores no values — "active under this value filter"
    // cannot be answered from activity rows (the quantile rule)
    if (q.filter.nonEmpty) return None
    eligibleActivityRollup(q.range, q.stepNs).map(inRange =>
      finishDistinct(q, joinResolved(inRange, ids)
        .withColumn("__t", col("bin"))))
  }

  /** The ONE estimator tail both distinct paths share: `__t` carries
    * each row's bin-able instant (sample ts on the scan path, rollup
    * bin start on the served path — same query bin under the serving
    * guard). */
  private def finishDistinct(q: DistinctQuery, df: DataFrame): DataFrame =
    q.stepNs match {
      case None =>
        ordered(graft.ops.Sketches.kmvServeKeys(
            df.select(col("out_name").as("metric"), col("__h").as("h")),
            Seq("metric"), q.k),
          Seq(col("metric")))
      case Some(step) =>
        ordered(graft.ops.Sketches.kmvServeKeys(
            df.select(col("out_name").as("metric"),
              binOf(col("__t"), q.range, step).as("__bin"),
              col("__h").as("h")),
            Seq("metric", "__bin"), q.k)
          .select(col("metric"), expr("__bin div 1000").as("ts_us"),
            col("n_kept"), col("est_distinct")),
          Seq(col("metric"), col("ts_us")))
    }

  /** Beyond-reference `correlate`: Pearson correlation between the
    * named metrics' bucket-mean series over the range
    * ([[graft.ops.Stats.corrAligned]]'s tail over [[bucketMeansFor]]).
    * The fact scan reduces to a (metrics × buckets) frame before
    * anything pairs; buckets are epoch-aligned so correlations from
    * different ranges share one grid. Output:
    * (key_a, key_b, n_buckets, corr), key_a < key_b. */
  def correlate(q: CorrelateQuery): DataFrame =
    ordered(graft.ops.Stats.corrFromBucketMeans(
        bucketMeansFor(q.metrics, q.where, q.location, q.range, q.stepNs),
        "metric", lagBuckets = q.lagNs / q.stepNs),
      Seq(col("key_a"), col("key_b")))

  /** The reduced input of every bucket-mean statement (`correlate`,
    * `trend`, `autocorr`, `changepoints`): the (metric, __b, __m)
    * frame of [[graft.ops.Stats.bucketMeans]], served from a registered
    * bucket-sums index when one is eligible ([[servedBucketMeans]]),
    * else reduced from the scan — each statement's one tail consumes
    * either, so serving changes the plan, never the answer. */
  private def bucketMeansFor(metrics: Seq[String], where: Where,
      location: Option[LocationFilter], range: TimeRange,
      stepNs: Long): DataFrame = {
    val base = locationFiltered(seriesFor(metrics, where), location)
    val ids = base.select(col("series_id"), col("metric").as("out_name"))
    servedBucketMeans(range, stepNs, ids).getOrElse(
      graft.ops.Stats.bucketMeans(
        scan(ids, range, metrics)
          .select(col("out_name").as("metric"), col("ts"), col("value")),
        stepNs, "metric", "ts", "value"))
  }

  /** The correlate/trend serving core over a REGISTERED bucket-sums
    * index (ctx.bucketSums: fine step → (series_id, __b, __s, __c),
    * [[graft.ops.Stats.bucketSums]]): when the forward range covers
    * whole fine buckets and the query step is a whole number of them,
    * fine sums and counts re-bin to query buckets (and merge across a
    * metric's series) by ADDITION — the reduced (metric, __b, __m)
    * frame is then EXACTLY the scan path's, so serving changes the
    * plan, never the answer. Misaligned or backward ranges abstain —
    * a partial fine bucket's sums cannot be split. */
  private def servedBucketMeans(range: TimeRange, stepNs: Long,
      ids: DataFrame): Option[DataFrame] = {
    if (!range.forward) return None
    ctx.bucketSums.collectFirst { case (fine, bs)
        if stepNs % fine == 0 &&
          Math.floorMod(range.from, fine) == 0 &&
          Math.floorMod(range.to, fine) == 0 =>
      import graft.functions.VectorExpressions.longFloorDiv
      val ratio = stepNs / fine
      val covered = joinResolved(
          bs.where(col("__b") >= range.from / fine &&
            col("__b") < range.to / fine),
          ids.select("series_id", "out_name"))
        .groupBy(col("out_name").as("metric"),
          longFloorDiv(col("__b"), ratio).as("__b"))
        .agg(sum(col("__s")).as("__s"), sum(col("__c")).as("__c"))
      graft.ops.Stats.meansFromSums(covered, "metric")
    }
  }

  /** Beyond-reference `autocorr`: per-metric autocorrelation of the
    * bucket-mean series at the requested lags
    * ([[graft.ops.Stats.autocorrFromBucketMeans]]) — the periodicity
    * readout that justifies a `seasonal` period choice, through the
    * query language. Buckets are epoch-aligned like `correlate`, and
    * the SAME registered bucket-sums index (including its compaction
    * ladder) serves aligned statements through [[bucketMeansFor]].
    * Output: (metric, lag, n_buckets, corr), lag in steps. */
  def autocorr(q: AutocorrQuery): DataFrame =
    ordered(graft.ops.Stats.autocorrFromBucketMeans(
        bucketMeansFor(q.metrics, q.where, q.location, q.range, q.stepNs),
        "metric", q.lagsNs.map(_ / q.stepNs)),
      Seq(col("metric"), col("lag")))

  /** Beyond-reference `changepoints`: per-metric level shifts of the
    * bucket-mean series over the range
    * ([[graft.ops.Stats.levelShifts]] — the two-window mean-shift
    * detector; "when did this metric move"). Buckets are epoch-aligned
    * like `correlate`/`trend`, and the SAME registered bucket-sums
    * index serves aligned statements through [[bucketMeansFor]].
    * Output: (metric, ts_us, before_mean, after_mean, shift). */
  def changepoints(q: ChangepointsQuery): DataFrame =
    ordered(graft.ops.Stats.levelShifts(
        bucketMeansFor(q.metrics, q.where, q.location, q.range, q.stepNs),
        "metric", q.stepNs, q.window, q.minShift),
      Seq(col("metric"), col("ts_us")))

  /** Beyond-reference `trend`: per-metric OLS trend of the bucket-mean
    * series over the range plus the extrapolated value `horizon` past
    * the last observed bucket ([[graft.ops.Stats.trend]]'s tail over
    * [[bucketMeansFor]] — the predict_linear analog). Buckets are
    * epoch-aligned like `correlate`. Output:
    * (metric, n_buckets, slope, forecast, ts_us), slope in units per
    * step. */
  def trend(q: TrendQuery): DataFrame =
    ordered(graft.ops.Stats.trendFromBucketMeans(
        bucketMeansFor(q.metrics, q.where, q.location, q.range, q.stepNs),
        "metric", q.stepNs, horizonBuckets = q.horizonNs / q.stepNs),
      Seq(col("metric")))

  // ------------------------------------------------------------- aggregate

  /** One output sample per (metric:func, output series) over the whole
    * range (range optional = whole history). Output ts = earliest sample ts
    * contributing to the aggregate.
    *
    * All functions requested for one metric are computed in a single
    * groupBy pass (the reference likewise extracts every requested field
    * from one accumulated AggregationResult, tuples.h:52-88); the
    * per-function output rows are then unfolded from that one row — one
    * fact scan regardless of how many functions are asked for. */
  def aggregate(q: AggregateQuery): DataFrame = {
    val parts = q.funcs.groupBy(_._1).toSeq.sortBy(_._1).map { case (metric, mfs) =>
      val funcs = mfs.map(_._2)
      val ids = resolvedIds(Seq(metric), q.where, q.groupBy, location = q.location)
      val idsSel = ids.select("series_id", "out_name")
      // whole-history aggregates are the canonical SubtreeRef answer: no
      // range bounds → no edge bins → ANY registered rollup serves the
      // entire query from interior accumulators, never touching raw
      // samples (nbtree.h:457; the reference's whole-range AggregateQuery
      // reads subtree stats the same way). Density is irrelevant here —
      // the rollup is never larger than raw and replaces the full scan.
      // range-bounded aggregates are the single-bin case of the same
      // machinery: synthesize a one-bin group-aggregate (step = span,
      // FirstTimestamp added for the output ts) and let the rollup guards
      // (span, density, aligned-exemption) decide whether it serves
      def rangedFromRollup(r: TimeRange): Option[DataFrame] = {
        val span = if (r.forward) r.to - r.from else r.from - r.to
        if (span <= 0) None
        else rollupGroupAggregate(
            GroupAggregateQuery(Seq(metric), funcs, span, r), ids,
            keepTsMin = true)
          .map(_.select(col("series").as("out_name") +:
            // __ts_min is the Long accumulator — the *_timestamp extract
            // goes through double and would lose ns precision past 2^53
            col("__ts_min").as("__ts") +:
            funcs.zipWithIndex.map { case (f, i) =>
              col(f.token).as(s"__v$i") }: _*))
      }
      // whole-history: any rollup serves; the coarsest has fewest rows
      val agged = ((q.range, ctx.rollups.sortBy(-_._1).headOption) match {
        case (None, Some((_, rollup))) =>
          // whole-history: every bin is interior — serve unconditionally
          val accs = (Rollup.neededAccs(funcs) :+ "ts_min").distinct
          val combineAggs = Rollup.combineAggsFor(accs)
          Some(joinResolved(rollup, idsSel)
            .groupBy(col("out_name"))
            .agg(combineAggs.head, combineAggs.tail: _*)
            .select(col("out_name") +: col("ts_min").as("__ts") +:
              funcs.zipWithIndex.map { case (f, i) =>
                Rollup.extract(f).as(s"__v$i") }: _*))
        case (Some(r), Some(_)) => rangedFromRollup(r)
        case _ => None
      }).getOrElse {
        val in = q.range match {
          case Some(r) => scan(ids, r, Seq(metric))
          case None => joinResolved(facts(Seq(metric)), idsSel)
        }
        val aggCols = min(col("ts")).as("__ts") +:
          funcs.zipWithIndex.map { case (f, i) => aggColumn(f).as(s"__v$i") }
        in.groupBy(col("out_name")).agg(aggCols.head, aggCols.tail: _*)
      }
      // out_name = "metric[ tags]"; rename to "metric:func[ tags]" per func
      val suffix = substring(col("out_name"), metric.length + 1, Int.MaxValue)
      val rows = funcs.zipWithIndex.map { case (f, i) =>
        struct(
          concat(lit(SeriesName.aggregateMetric(metric, f.token)), suffix).as("series"),
          col("__ts").as("ts"), col(s"__v$i").as("value"))
      }
      agged.select(explode(array(rows: _*)).as("r"))
        .select(col("r.series").as("series"), col("r.ts").as("ts"),
          col("r.value").as("value"))
    }
    val df = parts.reduce(_ unionByName _)
    ordered(ApplyNodes.chain(df, q.apply, Seq("value")),
      Seq(col("series"), col("ts")), q.limit, q.offset)
  }

  // ------------------------------------------------------- group-aggregate

  /** Time-bucketed (downsampling) aggregation. Bins are aligned to the
    * range's `from` end (reference: bin = begin + step*((ts-begin)/step),
    * operators/aggregate.cc:160-170); for backward queries bins anchor at
    * `from` (the high end) and descend. Multi-func output = one column per
    * function, named by its token. */
  def groupAggregate(q: GroupAggregateQuery): DataFrame = {
    require(q.metrics.nonEmpty, "group-aggregate requires >=1 metric")
    if (q.metrics.size > 1) {
      // reference plans >1 column as a downsample+join (SURVEY §2.5);
      // a filter here is keyed by the (single) func name and replicates
      // across every metric column of the join layout, exactly like the
      // reference's layout_aggregate_filters duplication loop
      // (query_plan_builder.cc:205-233)
      require(q.funcs.size == 1,
        "group-aggregate over several metrics supports exactly one func")
      val metricFilters = q.filters.map { case (name, f) =>
        if (name.nonEmpty && name != q.funcs.head.token)
          throw new BadQuery(
            s"filter names unknown func '$name' (the query's func is '${q.funcs.head.token}')")
        f
      }.headOption.map(f => q.metrics.map(_ -> f).toMap).getOrElse(Map.empty)
      return groupAggregateJoin(GroupAggregateJoinQuery(q.metrics, q.funcs.head,
        q.step, q.range, q.where, metricFilters, q.combiner,
        q.orderBy, q.limit, q.offset, q.apply, q.location))
    }
    val metric = q.metrics.head
    val outMetric = SeriesName.groupAggregateMetric(metric, q.funcs.map(_.token))
    val ids = resolvedIds(Seq(metric), q.where, q.groupBy,
      renameMetric = Some(outMetric), location = q.location)
    var df = rollupGroupAggregate(q, ids).getOrElse {
      // bin in a SEPARATE column: first/last/min_ts/max_ts aggregate over
      // the real per-sample ts; collapsing ts to the bin before the agg
      // would silently turn them into min/max-by-value
      val binned = scan(ids, q.range, Seq(metric))
        .withColumn("__bin", binColumn(q.range, q.step))
      val aggCols = q.funcs.map(f => aggColumn(f).as(f.token))
      binned.groupBy(col("out_name").as("series"), col("__bin"))
        .agg(aggCols.head, aggCols.tail: _*)
        .withColumnRenamed("__bin", "ts")
    }
    // HAVING-style filter on aggregate components; reference allows only
    // min/max/mean to be filtered (query_plan_builder.cc:76-104).
    if (q.filters.nonEmpty) {
      val conds = q.filters.toSeq.map { case (name, f) =>
        val target = if (name.isEmpty) q.funcs.head.token else name
        if (!Seq("min", "max", "mean").contains(target))
          throw new BadQuery(
            s"aggregate filter on '$target' is not supported (only min/max/mean)")
        if (!q.funcs.exists(_.token == target))
          throw new BadQuery(s"filter names unknown func '$target'")
        valueFilterCond(col(target), f)
      }
      df = df.where(combine(conds, q.combiner))
    }
    val out = ApplyNodes.chain(df, q.apply, q.funcs.map(_.token))
    finish(out, q.orderBy, q.range.forward, q.limit, q.offset)
  }

  /** Serve a group-aggregate from a materialized rollup (SURVEY §4
    * "aggregate pushdown": the reference answers these from SubtreeRef
    * stats without touching leaves; interior nodes + leaf edges,
    * nbtree.h:457). Applicable whenever some rollup's fine step divides
    * the query step (forward ranges). A fine bin is served from the
    * rollup when it lies wholly inside the range AND inside one query bin
    * (query bins anchor at `range.from`, so an unaligned `from` makes
    * every fine bin that straddles a bin boundary an edge); the remaining
    * edge samples are scanned raw, aggregated to the same accumulator
    * shape, and combined under the accumulator combination law — exact
    * for every function (sum is FP-reassociated, as any partial
    * aggregation is). Fully-aligned ranges have no edges and skip the raw
    * scan subtree entirely. Group-by-tag re-keying composes (combining
    * across source series is the same law). */
  private def rollupGroupAggregate(q: GroupAggregateQuery, ids: DataFrame,
      keepTsMin: Boolean = false): Option[DataFrame] = {
    val metric = q.metrics.head
    val span = if (q.range.forward) q.range.to - q.range.from
               else q.range.from - q.range.to
    ctx.rollups.filter { case (fine, _) =>
      // guard: below MinServedBins fine bins the union+recombine overhead
      // exceeds what the rollup saves — short ranges scan raw (the
      // reference has the same effect structurally: a subtree covering
      // few leaves is read at the leaves, nbtree.h:457)
      fine > 0 && q.step % fine == 0 && span >= Engine.RollupMinServedBins * fine
    }
      // coarsest eligible rollup wins: its interior row count shrinks by
      // the fine-step ratio (the reference likewise answers from the
      // highest subtree level that still covers the bins). A level that
      // ABSTAINS (no interior bin at its coarseness, or too sparse for
      // hybrid serving) falls through to the next-finer one — on a
      // (hour, day) ladder a 1d-step unaligned query has zero interior
      // DAY bins but serves fine from the HOUR level; only when every
      // level abstains does the query scan raw
      .sortBy { case (fine, _) => -fine }
      .to(LazyList)
      .flatMap { case (fine, rollup) =>
      val from = q.range.from
      // query-bin label of a point: the one anchored-bin rule ([[binOf]])
      def qbin(c: Column): Column = binOf(c, q.range, q.step)
      // a fine bin [F, F+fine) is interior iff every point it can hold is
      // inside the range and inside one query bin
      def interiorOf(f: Column): Column = {
        val inRange =
          if (q.range.forward) f >= from && f + fine <= q.range.to
          else f > q.range.to && f + (fine - 1) <= from
        inRange && qbin(f) === qbin(f + (fine - 1))
      }
      // ---- driver-side Long replicas of qbin/interior, used to ENUMERATE
      // the edge fine-bins up front (pure arithmetic on bin starts — no
      // data is touched). Every non-interior bin that intersects the range
      // must straddle the range start, the range end, or a query-bin
      // boundary, so it contains one of the O(span/step) special points:
      // candidates are the fine bins holding each such point.
      def qbinL(x: Long): Long =
        if (q.range.forward) from + Math.floorDiv(x - from, q.step) * q.step
        else from - Math.floorDiv(from - x, q.step) * q.step
      def interiorL(f: Long): Boolean = {
        val inRange =
          if (q.range.forward) f >= from && f + fine <= q.range.to
          else f > q.range.to && f + (fine - 1) <= from
        inRange && qbinL(f) == qbinL(f + fine - 1)
      }
      def intersectsL(f: Long): Boolean =
        if (q.range.forward) f < q.range.to && f + fine > from
        else f <= from && f + fine - 1 >= q.range.to + 1
      val nBoundaries = span / q.step + 2
      // merged [lo, hi) ts-windows covering exactly the edge fine-bins;
      // None = too many query bins to enumerate (fall back to scanning the
      // range with the per-row interior filter — correct, just unpruned)
      val edgeWindows: Option[Seq[(Long, Long)]] =
        if (nBoundaries > 100000) None
        else {
          val boundaries = (0L to nBoundaries).map { k =>
            if (q.range.forward) from + k * q.step else from - k * q.step
          }
          val edges = (boundaries :+ q.range.to :+ from)
            .map(p => p - Math.floorMod(p, fine)).distinct
            .filter(f => intersectsL(f) && !interiorL(f)).sorted
          val merged = edges.foldLeft(List.empty[(Long, Long)]) {
            case ((lo, hi) :: rest, f) if f <= hi => (lo, math.max(hi, f + fine)) :: rest
            case (acc, f) => (f, f + fine) :: acc
          }.reverse
          Some(merged)
        }
      // abstain when NO bin is interior (e.g. step == fine with an
      // unaligned range makes every fine bin straddle a query boundary):
      // the rollup would answer nothing and the whole range would rescan
      // raw anyway, plus the recombine overhead — strictly worse than the
      // plain one-pass aggregation
      val noInterior = edgeWindows.exists { ws =>
        val minTs = if (q.range.forward) from else q.range.to + 1
        val maxTs = if (q.range.forward) q.range.to - 1 else from
        val totalBins =
          (maxTs - Math.floorMod(maxTs, fine) - (minTs - Math.floorMod(minTs, fine))) / fine + 1
        totalBins <= ws.map { case (lo, hi) => (hi - lo) / fine }.sum
      }
      // density guard (Engine.RollupMinDensity): hybrid serving must still
      // scan raw edges, so it only pays when the interior read is actually
      // smaller than the raw rows it replaces. Fully-aligned ranges (zero
      // edge windows) skip raw entirely and are served at any density.
      val fullyAligned = edgeWindows.contains(Nil)
      // def, not val: when noInterior already decides abstention (the
      // phase-misaligned ladder level), the density statistic — a Spark
      // action over every registered rollup on first touch — is never
      // forced during plan construction
      def tooSparse =
        !fullyAligned && rollupDensities(fine) < Engine.RollupMinDensity
      if (noInterior || tooSparse) None
      else Some {
        // only the accumulator columns the requested functions read travel
        // through the union + combine (min/max/cnt → 3 plain columns, not
        // the full 10-column struct-agg law)
        val accs =
          if (keepTsMin) (Rollup.neededAccs(q.funcs) :+ "ts_min").distinct
          else Rollup.neededAccs(q.funcs)
        val idsSel = ids.select("series_id", "out_name")
        // fully aligned: the driver-side enumeration proved zero edge
        // bins, so every in-range fine bin is interior and the per-row
        // qbin-equality check (two pmods per rollup row) is redundant —
        // the range bounds alone select the same rows
        val interiorCond =
          if (fullyAligned) {
            if (q.range.forward) col("bin") >= from && col("bin") + fine <= q.range.to
            else col("bin") > q.range.to && col("bin") + (fine - 1) <= from
          } else interiorOf(col("bin"))
        val interior = joinResolved(rollup.where(interiorCond), idsSel)
          .select(col("out_name") +: qbin(col("bin")).as("bin") +:
            accs.map(col): _*)
        val acc = edgeWindows match {
          case Some(Nil) => interior // fully aligned: no edges at all
          case windows =>
            // each raw edge sample becomes a singleton accumulator row and
            // rides the ONE combine aggregation below — no separate edge
            // pre-aggregation stage (one less shuffle, here and at 100 TB:
            // singletons collapse map-side in the combine agg's partial)
            val raw = scan(ids, q.range, Seq(metric))
            val rawEdges = windows match {
              case Some(ws) if ws.size <= 128 =>
                // the edge windows as a pushdown-able ts predicate: Parquet
                // row-group/page stats prune the ~(step⁄fine)⁻¹ share of
                // I/O the interior bins already answer, instead of reading
                // everything and dropping rows post-scan
                raw.where(ws.map { case (lo, hi) =>
                  col("ts") >= lo && col("ts") < hi }.reduce(_ || _))
              case _ =>
                val fineBin = col("ts") - pmod(col("ts"), lit(fine))
                raw.where(!interiorOf(fineBin))
            }
            interior.unionByName(rawEdges
              .select(col("out_name") +: binColumn(q.range, q.step).as("bin") +:
                accs.map(n => Rollup.singletonAcc(n).as(n)): _*))
        }
        val combineAggs = Rollup.combineAggsFor(accs)
        val combined = acc
          .groupBy(col("out_name").as("series"), col("bin").as("ts"))
          .agg(combineAggs.head, combineAggs.tail: _*)
        combined.select(
          col("series") +: col("ts") +: (q.funcs.map(f => Rollup.extract(f).as(f.token)) ++
            (if (keepTsMin) Seq(col("ts_min").as("__ts_min")) else Nil)): _*)
      }
    }
      .headOption
  }

  // ------------------------------------------------------------------ join

  /** Align N metrics sharing the same tag set on timestamp → one wide row
    * per (tag set, ts) with one nullable column per metric (null = the
    * presence bitmap of the reference's tuple payload, tuples.h:26-50). */
  def join(q: JoinQuery): DataFrame = {
    val wide = alignedWide(q.metrics, q.where, q.range, q.filters, identity, q.location)
    val withFilters = applyJoinCombiner(wide, q.metrics, q.filters, q.combiner)
    val out = ApplyNodes.chain(withFilters, q.apply, q.metrics)
    finish(out, q.orderBy, q.range.forward, q.limit, q.offset)
  }

  /** Beyond-reference `asof-join`: each left-metric sample carries the
    * most recent right-metric value at-or-before its timestamp within
    * the same tag set (TimeJoins.asof — union/carry-forward, ONE shuffle
    * on the tag key, no per-row probing). Output shape matches `join`
    * (series "left|right tags", one column per metric); the right column
    * is null when nothing qualifies or the match exceeds `tolerance`. */
  def asofJoin(q: AsofJoinQuery): DataFrame = {
    val cat = locationFiltered(seriesFor(Seq(q.left, q.right), q.where), q.location)
    // the bucketed layout's own alignment key makes the tag-key exchange
    // local, exactly as in join() (writeBucketedByTagkey)
    val factsHaveKey = ctx.samples.columns.contains("tagkey")
    val withKey =
      if (factsHaveKey) cat.select(col("series_id"), col("metric"))
      else cat.select(col("series_id"), col("metric"),
        tagSuffixOf(col("tags")).as("__tk"))
    val factCols = Seq("series_id", "ts", "value") ++
      (if (factsHaveKey) Seq("tagkey") else Nil)
    val f0 = joinResolved(
        tsDayPruned(facts(Seq(q.left, q.right)), q.range)
          .select(factCols.map(col): _*),
        withKey)
      .where(rangeCond(q.range))
    val f = if (factsHaveKey) f0.withColumnRenamed("tagkey", "__tk") else f0
    // per-side value filters run during the scan, BEFORE alignment: a
    // filtered-out right sample must not supply a carried value
    def side(metric: String): DataFrame = {
      val base = f.where(col("metric") === metric)
      val filtered = q.filters.get(metric)
        .orElse(if (metric == q.left) q.filters.get("") else None)
        .map(vf => base.where(valueFilterCond(col("value"), vf)))
        .getOrElse(base)
      filtered.select(col("__tk"), col("ts"), col("value").as(metric))
    }
    val joined = graft.ops.TimeJoins.asof(side(q.left), side(q.right),
      Seq("__tk"), Seq(q.right), q.toleranceNs)
    val joinName = q.left + "|" + q.right
    val named = joined.select(
      when(col("__tk") === "", lit(joinName))
        .otherwise(concat(lit(joinName + " "), col("__tk"))).as("series"),
      col("ts"), col(q.left), col(q.right))
    val out = ApplyNodes.chain(named, q.apply, Seq(q.left, q.right))
    finish(out, q.orderBy, q.range.forward, q.limit, q.offset)
  }

  def groupAggregateJoin(q: GroupAggregateJoinQuery): DataFrame = {
    if (q.filters.nonEmpty) {
      // the reference converts each filter against the single downsampling
      // func and only min/max/mean have a filterable aggregate component
      // (convert_aggregate_filter, query_plan_builder.cc:58-107)
      if (!Seq("min", "max", "mean").contains(q.func.token))
        throw new BadQuery(
          s"aggregate filter can't be used with func '${q.func.token}' (only min/max/mean)")
      val unknown = q.filters.keys.filterNot(n => n.isEmpty || q.metrics.contains(n))
      if (unknown.nonEmpty)
        throw new BadQuery(s"filter names unknown metric(s): ${unknown.mkString(", ")}")
    }
    val wide = alignedWide(q.metrics, q.where, q.range, Map.empty,
      df => df.withColumn("__bin", binColumn(q.range, q.step))
        .groupBy("series_id", "metric", "tagkey", "__bin")
        .agg(aggColumn(q.func).as("value"))
        .withColumnRenamed("__bin", "ts"), q.location)
    val filtered = applyAggregateJoinFilters(wide, q.metrics, q.filters, q.combiner)
    val out = ApplyNodes.chain(filtered, q.apply, q.metrics)
    finish(out, q.orderBy, q.range.forward, q.limit, q.offset)
  }

  /** Post-aggregation per-metric filters for group-aggregate-join: a
    * metric slot whose downsampled value fails its filter becomes absent
    * (the reference's AggregateFilter drops the bin from that column's
    * stream before tuple assembly), then the row survives when the
    * ALL/ANY combiner holds over the filtered metrics' presence —
    * mirroring [[applyJoinCombiner]] on the raw-join side. Form-2 (bare
    * gt/lt) binds to the first metric, like the raw join.
    *
    * DELIBERATE DEVIATION from the reference: there the `"="` mode applies
    * WITHIN one column's AggregateFilter across that filter's components
    * (queryparser.cc:792-829) — a no-op when a filter has a single
    * component, which every JSON-expressible filter does — and rows with
    * failing slots are emitted as partial tuples. Here the mode is given
    * CROSS-column meaning (row survives iff ALL/ANY filtered slots are
    * present), matching [[applyJoinCombiner]]; e.g. a single-metric filter
    * under default ALL drops rows the reference would keep with an absent
    * slot. Oracle-locked in `ts_group_aggregate_join_having` /
    * `ts_group_aggregate_multi_having` / `_bare`. */
  private def applyAggregateJoinFilters(
      wide: DataFrame, metrics: Seq[String],
      filters: Map[String, ValueFilter], combiner: FilterCombiner): DataFrame =
    if (filters.isEmpty) wide
    else {
      val named = metrics.flatMap { m =>
        filters.get(m).orElse(if (m == metrics.head) filters.get("") else None)
          .map(m -> _)
      }
      val nulled = named.foldLeft(wide) { case (df, (m, f)) =>
        df.withColumn(m, when(valueFilterCond(col(m), f), col(m)))
      }
      if (named.isEmpty) nulled
      else nulled.where(combine(named.map { case (m, _) => col(m).isNotNull }, combiner))
    }

  /** Shared scan→(optional transform)→pivot pipeline for the join kinds. */
  private def alignedWide(
      metrics: Seq[String], where: Where, range: TimeRange,
      filters: Map[String, ValueFilter],
      transform: DataFrame => DataFrame,
      location: Option[LocationFilter] = None): DataFrame = {
    require(metrics.size >= 2, "join requires at least 2 metrics")
    // when the layout carries the alignment key (TsdbLayout
    // .writeBucketedByTagkey), use the fact table's own bucketed tagkey
    // column: the groupBy(tagkey, ts) pivot then reads co-located buckets
    // and plans with no hash exchange (guarded in LayoutSpec)
    val factsHaveKey = ctx.samples.columns.contains("tagkey")
    val ids0 = locationFiltered(seriesFor(metrics, where), location)
    val ids =
      if (factsHaveKey) ids0.select(col("series_id"), col("metric"))
      else ids0.select(col("series_id"), col("metric"),
        tagSuffixOf(col("tags")).as("tagkey"))
    val factCols = Seq("series_id", "ts", "value") ++
      (if (factsHaveKey) Seq("tagkey") else Nil)
    var f = joinResolved(
        tsDayPruned(facts(metrics), range).select(factCols.map(col): _*), ids)
      .where(rangeCond(range))
    // per-metric value filters run during the scan, before tuple assembly
    // (reference replicates filters across the zig-zag id layout,
    // query_plan_builder.cc:178-203)
    if (filters.nonEmpty) {
      val conds = metrics.map { m =>
        filters.get(m).orElse(if (m == metrics.head) filters.get("") else None) match {
          case Some(vf) => col("metric") =!= m || valueFilterCond(col("value"), vf)
          case None => lit(true)
        }
      }
      f = f.where(conds.reduce(_ && _))
    }
    val t = transform(f)
    val seriesCol = when(col("tagkey") === "", lit(SeriesName.joinMetric(metrics)))
      .otherwise(concat_ws(" ", lit(SeriesName.joinMetric(metrics)), col("tagkey")))
    // max, not first: deterministic under duplicate (series, ts) samples
    // (the oracle SQL aggregates the same way)
    t.groupBy(col("tagkey"), col("ts"))
      .pivot("metric", metrics)
      .agg(max(col("value")))
      .withColumn("series", seriesCol)
      .drop("tagkey")
      .select(col("series") +: col("ts") +: metrics.map(col): _*)
  }

  private def applyJoinCombiner(
      wide: DataFrame, metrics: Seq[String],
      filters: Map[String, ValueFilter], combiner: FilterCombiner): DataFrame =
    if (filters.isEmpty) wide
    else {
      val filtered = metrics.filter(m =>
        filters.contains(m) || (m == metrics.head && filters.contains("")))
      val conds = filtered.map(col(_).isNotNull)
      if (conds.isEmpty) wide else wide.where(combine(conds, combiner))
    }

  // -------------------------------------------------------------- metadata

  def search(q: SearchQuery): DataFrame = {
    val base = if (q.metric.isEmpty) catalog else seriesFor(Seq(q.metric), q.where)
    ordered(base.select(col("series_id"), col("name")), Seq(col("name")),
      q.limit, q.offset)
  }

  /** Regex match over full series names — the reference's
    * PlainSeriesMatcher::regex_match (plain_series_matcher.h:87-89). */
  def searchRegex(pattern: String): DataFrame =
    ordered(catalog.where(col("name").rlike(pattern))
      .select(col("series_id"), col("name")), Seq(col("name")))

  /** Fuzzy series resolution (SeriesRetreiver::fuzzy_match,
    * queryparser.cc:210-275 — vestigial in the reference): the metric is
    * matched as a PREFIX (`metric\S*`), and each where-tag must appear
    * with one of its listed values anywhere in the tag list (the
    * reference builds `(?:\s k=v1|\s k=v2)` alternations over the
    * canonical name; here the catalog's tags map makes that a direct
    * lookup — same result, no regex engine on the hot path). */
  def searchFuzzy(metricPrefix: String, where: Where = Where.All): DataFrame =
    ordered(whereCond(catalog.where(col("metric").startsWith(metricPrefix)), where)
      .select(col("series_id"), col("name")), Seq(col("name")))

  def suggest(q: SuggestQuery): DataFrame = {
    val sw = q.startsWith.getOrElse("")
    val base = q.kind match {
      case SuggestKind.MetricNames =>
        catalog.select(col("metric").as("name")).distinct()
          .where(col("name").startsWith(sw))
      case SuggestKind.TagNames =>
        val base = q.metric.map(m => catalog.where(col("metric") === m))
          .getOrElse(catalog)
        base.select(explode(map_keys(col("tags"))).as("name")).distinct()
          .where(col("name").startsWith(sw))
      case SuggestKind.TagValues =>
        val tag = q.tag.getOrElse(throw new BadQuery("suggest tag-values needs 'tag'"))
        val base = q.metric.map(m => catalog.where(col("metric") === m))
          .getOrElse(catalog)
        base.select(col("tags").getItem(tag).as("name"))
          .where(col("name").isNotNull && col("name").startsWith(sw))
          .distinct()
    }
    // reference: suggest results flow through the same Limiter node chain
    ordered(base, Seq(col("name")), q.limit, q.offset)
  }

  // ----------------------------------------------------------- primitives

  /** Catalog subset for the given metrics under the where clause. */
  def seriesFor(metrics: Seq[String], where: Where): DataFrame =
    whereCond(catalog.where(col("metric").isin(metrics: _*)), where)

  /** Apply a where clause to a catalog subset. */
  private def whereCond(base: DataFrame, where: Where): DataFrame =
    where match {
      case Where.All => base
      case Where.TagsIn(tags) =>
        tags.foldLeft(base) { case (df, (k, vs)) =>
          df.where(col("tags").getItem(k).isin(vs: _*))
        }
      case Where.ExplicitSeries(list) =>
        val conds = list.map(_.map { case (k, v) => col("tags").getItem(k) === v }
          .reduceOption(_ && _).getOrElse(lit(true)))
        base.where(conds.reduceOption(_ || _).getOrElse(lit(true)))
    }

  /** Apply a `where-location` clause to a catalog subset (after tag
    * `where`, before name rendering): bbox → declarative range predicate;
    * knn → TakeOrderedAndProject top-k over the located candidates.
    *
    * knn selects the k nearest LOCATIONS (tag sets), not catalog rows:
    * a multi-metric statement (join / group-aggregate-join) must keep
    * every metric's series at a selected location, or the k-cut could
    * keep metric m1 but drop co-located m2 and fabricate absent tuple
    * slots. For single-metric queries this is identical to a per-series
    * top-k (the rendered-name tiebreak differs from the tag-suffix
    * tiebreak only by a constant metric prefix). */
  private def locationFiltered(base: DataFrame, loc: Option[LocationFilter]): DataFrame =
    loc match {
      case None => base
      case Some(LocationFilter.Box(lonMin, lonMax, latMin, latMax)) =>
        graft.spatial.Spatial.rangeQuery(base, lonMin, lonMax, latMin, latMax)
      case Some(LocationFilter.Knn(lon, lat, k, radiusOpt)) =>
        val keyed = base.withColumn("__tk", tagSuffixOf(col("tags")))
        // ONE candidate point per tag set (min-struct pick): location is a
        // per-series catalog column, so if coordinates ever diverged across
        // a tag set's metrics, a plain distinct would emit duplicate __tk
        // rows — burning k slots and fanning out the join below.
        // Null lon/lat rows are dropped BEFORE the pick: null struct
        // fields sort first but the struct itself isn't null, so a tag set
        // mixing located and unlocated series would otherwise pick the
        // null-field struct and Spatial's isNotNull filter would drop a
        // tag set that has real coordinates
        val locs = keyed
          .where(col("lon").isNotNull && col("lat").isNotNull)
          .groupBy(col("__tk"))
          .agg(min(struct(col("lon"), col("lat"))).as("__p"))
          .select(col("__tk").as("name"),
            col("__p.lon").as("lon"), col("__p.lat").as("lat"))
        val sel = (radiusOpt match {
          case None => graft.spatial.Spatial.knn(locs, lon, lat, k)
          case Some(radius) =>
            // "k nearest within radius": grid-pruned candidates, then
            // top-k — only cells intersecting the disc are scanned
            graft.spatial.Spatial.knnPruned(locs, lon, lat, k,
              radius, cellDeg = math.max(radius, 1.0))
        }).select(col("name").as("__tk"))
        keyed.join(broadcast(sel), "__tk").drop("__tk")
    }

  /** Resolve metrics+where to (series_id, out_name) where out_name carries
    * the group-by-tag re-keying (GROUP drops tags, PIVOT keeps only listed;
    * seriesparser.cc:309-354) and optional metric rename. */

  private def resolvedIds(
      metrics: Seq[String], where: Where, groupBy: Option[GroupByTag],
      renameMetric: Option[String] = None,
      location: Option[LocationFilter] = None): DataFrame = {
    val base = locationFiltered(seriesFor(metrics, where), location)
    val metricCol = renameMetric.map(lit).getOrElse(col("metric"))
    val tagsCol = groupBy match {
      case None => col("tags")
      case Some(GroupByTag(GroupByOp.Pivot, keep)) =>
        map_filter(col("tags"), (k, _) => array_contains(lit(keep.toArray), k))
      case Some(GroupByTag(GroupByOp.Group, drop)) =>
        map_filter(col("tags"), (k, _) => !array_contains(lit(drop.toArray), k))
    }
    base.select(col("series_id"), renderName(metricCol, tagsCol).as("out_name"))
  }

  /** The fact table restricted to `metrics` when the physical layout
    * carries a `metric` partition column ([[graft.model.TsdbLayout]]) —
    * the predicate prunes (metric, ts_day) directories before any I/O.
    * On a plain layout this is a no-op and series pruning alone applies. */
  private def facts(metrics: Seq[String]): DataFrame =
    if (ctx.samples.columns.contains("metric") && metrics.nonEmpty)
      ctx.samples.where(col("metric").isin(metrics: _*))
    else ctx.samples

  /** Directory-level time pruning: when the fact table carries the
    * layout's `ts_day` partition column (TsdbLayout.writeSamples), the
    * query range also bounds it, so Catalyst prunes (metric, ts_day)
    * directories before any I/O — the second level of the two-level
    * pruning that makes a range query touch only its days at 100 TB
    * (the reference's analog: the inverted index + per-volume ranges).
    * Must run BEFORE any projection that drops the partition column.
    * On a plain layout this is a no-op; `rangeCond` still filters rows. */
  private def tsDayPruned(df: DataFrame, r: TimeRange): DataFrame =
    if (!df.columns.contains("ts_day")) df
    else {
      val (lo, hi) = if (r.forward) (r.from, r.to - 1) else (r.to + 1, r.from)
      df.where(col("ts_day") >= Math.floorDiv(lo, Engine.NsPerDay) &&
        col("ts_day") <= Math.floorDiv(hi, Engine.NsPerDay))
    }

  /** Facts restricted to the resolved ids ([[joinResolved]]) and the
    * time range. */
  private def scan(ids: DataFrame, range: TimeRange, metrics: Seq[String]): DataFrame =
    joinResolved(tsDayPruned(facts(metrics), range),
        ids.select("series_id", "out_name"))
      .where(rangeCond(range))

  /** Semi-open [from, to) forward; (to, from] backward (reference
    * operator.h:88-100: direction from begin/end comparison). */
  private def rangeCond(r: TimeRange): Column =
    if (r.forward) col("ts") >= r.from && col("ts") < r.to
    else col("ts") <= r.from && col("ts") > r.to

  private def valueFilterCond(value: Column, f: ValueFilter): Column = {
    val conds = Seq(
      f.gt.map(value > _), f.ge.map(value >= _),
      f.lt.map(value < _), f.le.map(value <= _)).flatten
    conds.reduceOption(_ && _).getOrElse(lit(true))
  }

  private def combine(conds: Seq[Column], c: FilterCombiner): Column = c match {
    case FilterCombiner.All => conds.reduce(_ && _)
    case FilterCombiner.Any => conds.reduce(_ || _)
  }

  /** bin start for a point column: anchored at range.from, descending
    * for backward. Pure Long arithmetic (d − d % step) — `/` on Long
    * columns is double division in Spark and loses ns precision past
    * 2^53. The ONE anchored-bin rule: the scan paths bin `ts` through
    * [[binColumn]] and the index-serving paths bin window/bin starts
    * through this directly — a fix to the anchoring applies to all of
    * them or the serve-equals-scan pins break. */
  private def binOf(c: Column, range: TimeRange, step: Long): Column = {
    require(step > 0, "step must be positive")
    if (range.forward) {
      val d = c - range.from
      lit(range.from) + (d - pmod(d, lit(step)))
    } else {
      val d = lit(range.from) - c
      lit(range.from) - (d - pmod(d, lit(step)))
    }
  }

  private def binColumn(range: TimeRange, step: Long): Column =
    binOf(col("ts"), range, step)

  /** The 11 aggregation functions over (ts, value) groups (SURVEY §2.3).
    * All outputs are DoubleType like the reference's float64 payload —
    * including the *_timestamp functions (ns→double, same precision loss).
    * Ties resolve to the earliest value/timestamp via struct ordering, so
    * results are deterministic under Spark's unordered aggregation. */
  def aggColumn(f: AggFunc): Column = f match {
    case AggFunc.Min  => min(col("value"))
    case AggFunc.Max  => max(col("value"))
    case AggFunc.Sum  => sum(col("value"))
    case AggFunc.Cnt  => count(col("value")).cast(DoubleType)
    case AggFunc.Mean => avg(col("value"))
    case AggFunc.First => min(struct(col("ts"), col("value"))).getField("value")
    case AggFunc.Last  => max(struct(col("ts"), col("value"))).getField("value")
    case AggFunc.MinTimestamp =>
      min(struct(col("value"), col("ts"))).getField("ts").cast(DoubleType)
    case AggFunc.MaxTimestamp =>
      max(struct(col("value"), col("ts"))).getField("ts").cast(DoubleType)
    case AggFunc.FirstTimestamp => min(col("ts")).cast(DoubleType)
    case AggFunc.LastTimestamp  => max(col("ts")).cast(DoubleType)
  }

  /** Render `metric k=v ...` from a metric column and a map column with
    * sorted unique keys (canonical form, seriesparser.cc:112). */
  def renderName(metric: Column, tags: Column): Column = {
    val suffix = tagSuffixOf(tags)
    when(suffix === "", metric).otherwise(concat_ws(" ", metric, suffix))
  }

  private def tagSuffixOf(tags: Column): Column =
    array_join(
      transform(array_sort(map_entries(tags)),
        e => concat_ws("=", e.getField("key"), e.getField("value"))),
      " ")

  /** order-by + limit/offset epilogue. Series order = (series, ts); time
    * order = (ts, series); backward ranges emit descending timestamps. */
  private def finish(df: DataFrame, orderBy: OrderBy, forward: Boolean,
      limit: Option[Long], offset: Option[Long]): DataFrame = {
    val ts = if (forward) col("ts").asc else col("ts").desc
    ordered(df, orderBy match {
      case OrderBy.Series => Seq(col("series").asc, ts)
      case OrderBy.Time   => Seq(ts, col("series").asc)
    }, limit, offset)
  }

  /** The ONE ordering of every answer tail: `df` sorted by `keys`, then
    * paged by `offset`/`limit`.
    *
    *   - A page keeps `orderBy`, which plans a take-ordered top-k (a
    *     bounded heap per task, no sampling job).
    *   - An unpaged answer whose optimizer estimate ([[graft.PlanSize]])
    *     is at most what Spark reads in one task (the session's
    *     `spark.sql.files.maxPartitionBytes`) sorts in ONE task:
    *     `coalesce(1)` is narrow, so there is no range exchange and no
    *     `RangePartitioner` sampling job over the input — the reference
    *     never sorts globally either (its per-series runs are already
    *     ordered). The last stage, back to the previous exchange or the
    *     scan, runs as that one task.
    *   - An unknown or larger estimate keeps the range sort (`orderBy`).
    *
    * The estimate is read off the one-task frame itself: a sort and a
    * coalesce pass their input's estimate through, and the optimized
    * plan stays cached on the frame that is returned, so the small case
    * pays no second optimizer pass.
    *
    * Both sorts order rows identically; rows that tie on every key may
    * come out in a different order (EquivalenceSpec pins this). */
  private def ordered(df: DataFrame, keys: Seq[Column],
      limit: Option[Long] = None, offset: Option[Long] = None): DataFrame =
    if (limit.nonEmpty || offset.exists(_ > 0)) {
      val sorted = df.orderBy(keys: _*)
      val afterOffset =
        offset.filter(_ > 0).map(o => sorted.offset(o.toInt)).getOrElse(sorted)
      limit.map(l => afterOffset.limit(l.toInt)).getOrElse(afterOffset)
    } else {
      val oneTask = df.coalesce(1).sortWithinPartitions(keys: _*)
      val taskBytes = oneTask.queryExecution.sparkSession.sessionState.conf
        .filesMaxPartitionBytes
      if (graft.PlanSize.estimate(oneTask).exists(_ <= taskBytes)) oneTask
      else df.orderBy(keys: _*)
    }
}
