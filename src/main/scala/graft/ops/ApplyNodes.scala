package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.query.Ast.{ApplySpec, BadQuery}

/** The `apply` post-processing pipeline — all 18 registered node tokens of
  * the reference (stdb/query/query_processing/, registry
  * queryprocessor_framework.cc:13-46) as DataFrame transformations.
  *
  * Input/output shape: `(series: String, ts: Long, <value cols: Double>)`;
  * scalar streams have one value column (`value`), tuple streams (join /
  * group-aggregate output) one per slot. Null = absent slot, mirroring the
  * reference's tuple presence bitmap.
  *
  * Stateful per-series nodes (rate, cusum, sma, cma) compile to window
  * functions partitioned by series — at 100 TB these shuffle once on the
  * series key and then stream; no state ever materializes per key beyond
  * the window frame. EWMA is genuinely recursive, so it runs as
  * `flatMapSortedGroups` over each series (sorted-iterator, memory-bounded).
  *
  * Known deviations from reference behavior (deliberate, bug-for-bug
  * copies avoided): CMA here is the standard expanding mean (the reference
  * double-counts state, sliding_window.cc:182-223); top-N weights every
  * interval (the reference's first interval is lost to zero-initialized
  * state, top.cc:46-70); limit/offset actually skip (limiter.cc:19-28
  * never counts skipped rows).
  */
object ApplyNodes {

  /** Run the pipeline. `valueCols` = the tuple slot columns of `df`. */
  def chain(df: DataFrame, specs: Seq[ApplySpec], valueCols: Seq[String]): DataFrame =
    specs.foldLeft((df, valueCols)) { case ((d, cols), spec) => node(d, spec, cols) }._1

  /** One node. Apply specs come straight from the statement JSON, so
    * every refusal while building a node (its own checks, a duration or
    * number that does not parse, a SAX alphabet out of range) surfaces
    * as a [[BadQuery]] that names the node. */
  def node(df: DataFrame, spec: ApplySpec, cols: Seq[String]): (DataFrame, Seq[String]) =
    try build(df, spec, cols) catch {
      case e: BadQuery => throw e
      case e: IllegalArgumentException => throw new BadQuery(
        s"apply node '${spec.name}': " +
          Option(e.getMessage).getOrElse("").stripPrefix("requirement failed: "))
    }

  private def build(df: DataFrame, spec: ApplySpec, cols: Seq[String]): (DataFrame, Seq[String]) = {
    def num(key: String): Double = spec.params.get(key) match {
      case Some(d: Double) => d
      case Some(s: String) if s.toDoubleOption.isDefined => s.toDouble
      case other => throw new IllegalArgumentException(
        s"needs numeric param '$key', got $other")
    }
    spec.name match {
      case "abs" =>
        (cols.foldLeft(df)((d, c) => d.withColumn(c, abs(col(c)))), cols)

      case "scale" =>
        val weights = spec.params.get("weights") match {
          case Some(ws: Seq[_]) => ws.map(_.toString.toDouble)
          case _ => throw new IllegalArgumentException("needs a 'weights' list")
        }
        require(weights.size == cols.size,
          s"${weights.size} weights for ${cols.size} columns")
        (cols.zip(weights).foldLeft(df) { case (d, (c, w)) =>
          d.withColumn(c, col(c) * w)
        }, cols)

      case op @ ("sum" | "diff" | "multiply" | "divide") =>
        val ignoreMissing = spec.params.get("ignore_missing").contains(true)
        val unit = if (op == "sum" || op == "diff") 0.0 else 1.0
        def slot(c: String): Column =
          if (ignoreMissing) coalesce(col(c), lit(unit))
          else coalesce(col(c), lit(Double.NaN))
        val folded = cols.map(slot).reduce { (a, b) =>
          op match {
            case "sum" => a + b; case "diff" => a - b
            case "multiply" => a * b; case "divide" => a / b
          }
        }
        (df.withColumn("value", folded).drop(cols.filterNot(_ == "value"): _*),
          Seq("value"))

      case "rate" =>
        // Δx/Δt per second; previous point defaults to (0, 0) (rate.cc:17-49)
        val w = seriesWindow
        (cols.foldLeft(withOrd(df, cols)) { (d, c) =>
          d.withColumn(c,
            (col(c) - coalesce(lag(col(c), 1).over(w), lit(0.0))) /
              (col("ts") - coalesce(lag(col("ts"), 1).over(w), lit(0L))) * 1e9)
        }.drop("__ord"), cols)

      case "accumulate" | "cusum" =>
        val w = seriesWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        (cols.foldLeft(withOrd(df, cols))((d, c) =>
          d.withColumn(c, sum(col(c)).over(w))).drop("__ord"), cols)

      case "ewma" => (ewma(df, cols, decay = num("decay"), delta = false), cols)
      case "ewma-error" => (ewma(df, cols, decay = num("decay"), delta = true), cols)

      case "sma" | "sma-error" =>
        // prediction = mean of the previous N inputs, zero-padded buffer
        // (sliding_window.cc:105-180): value *before* adding current.
        val n = num("window-width").toInt
        require(n > 0, "window-width must be positive")
        val w = seriesWindow.rowsBetween(-n, -1)
        (cols.foldLeft(withOrd(df, cols)) { (d, c) =>
          val sma = coalesce(sum(col(c)).over(w), lit(0.0)) / n
          d.withColumn(c, if (spec.name == "sma") sma else col(c) - sma)
        }.drop("__ord"), cols)

      case "cma" =>
        val w = seriesWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        (cols.foldLeft(withOrd(df, cols))((d, c) =>
          d.withColumn(c, avg(col(c)).over(w))).drop("__ord"), cols)

      case "eval" => evalNode(df, spec, cols)

      case "top" =>
        val n = num("N").toInt
        // time-weighted sum: Σ (ts_{i+1}-ts_i) × x_i / 1e9 (top.cc:46-70)
        val w = seriesWindow
        val weighted = withOrd(df, cols)
          .withColumn("__dt", (lead(col("ts"), 1).over(w) - col("ts")).cast(DoubleType) / 1e9)
          .groupBy(col("series"))
          .agg(max(col("ts")).as("ts"),
            sum(col(cols.head) * coalesce(col("__dt"), lit(0.0))).as("value"))
          .orderBy(col("value").desc, col("series"))
          .limit(n)
        (weighted.select("series", "ts", "value"), Seq("value"))

      case "frequent-items" | "heavy-hitters" =>
        // SpaceSaver sketch (spacesaver.h:12-153). Exact rewrite: emit the
        // series whose (weighted) count exceeds (portion - error) × total.
        // At 100 TB swap in a CountMinSketch TypedImperativeAggregate; the
        // exact groupBy is itself a single partial-agg shuffle of |series|
        // rows, which is usually fine.
        val portion = num("portion")
        val error = num("error")
        val weight = if (spec.name == "heavy-hitters") col(cols.head) else lit(1.0)
        val counted = df.withColumn("__w", weight)
        // the grand total rides along as a broadcast scalar instead of a
        // separate .first() action, which would scan the input twice
        val total = counted.agg(sum(col("__w")).as("__total"))
        val out = counted.groupBy(col("series"))
          .agg(max(col("ts")).as("ts"), sum(col("__w")).as("value"))
          .crossJoin(broadcast(total))
          .where(col("value") > lit(portion - error) * col("__total"))
          .orderBy(col("value").desc, col("series"))
        (out.select("series", "ts", "value"), Seq("value"))

      case "sax" =>
        // SAX word per trailing window (the reference reserves the SAX_WORD
        // payload, basic.h:77, without shipping an encoder; standard
        // Lin/Keogh semantics implemented in SaxExpressions). Output rows
        // carry a string `word` column; short windows yield null.
        val w = num("window-width").toInt
        val paa = num("paa").toInt
        val alphabet = num("alphabet").toInt
        require(cols.size == 1, "applies to scalar streams only")
        require(w > 0 && paa > 0 && w % paa == 0,
          "window-width must divide into paa segments")
        val win = seriesWindow.rowsBetween(-(w - 1), Window.currentRow)
        val arr = collect_list(col(cols.head).cast(DoubleType)).over(win)
        val word = when(size(arr) === w,
          graft.functions.SaxExpressions.saxWord(arr, paa, alphabet))
        (withOrd(df, cols).withColumn("word", word)
          .drop("__ord").drop(cols: _*), Seq.empty)

      case "fill" =>
        // beyond-reference: materialize the REGULLAR (regular-grid) series
        // the reference's EWMA demands but nothing in its pipeline can
        // produce (basic.h REGULLAR flag; sliding_window.cc RegullarExpected)
        val stepStr = spec.params.get("step") match {
          case Some(s: String) => s
          case _ => throw new IllegalArgumentException(
            "needs duration param 'step'")
        }
        val method = spec.params.get("method") match {
          case Some(s: String) => s
          case None => "ffill"
          case other => throw new IllegalArgumentException(
            s"bad 'method' $other")
        }
        (fill(df, cols, graft.time.TimeUtil.parseDuration(stepStr), method), cols)

      case "limit" =>
        (df.limit(num("limit").toInt), cols)
      case "offset" =>
        (df.offset(num("offset").toInt), cols)

      case _ => throw new IllegalArgumentException("unknown node")
    }
  }

  /** Per-series window ordered by (ts, __ord): duplicate timestamps within
    * a series would otherwise make every lag/lead/rolling node
    * nondeterministic (and engine-vs-oracle divergent). `__ord` is a
    * struct of the ORIGINAL value columns, captured before any node
    * rewrites them. */
  private def seriesWindow =
    Window.partitionBy(col("series")).orderBy(col("ts"), col("__ord"))

  /** Capture the tie-break struct; call before using [[seriesWindow]]. */
  private def withOrd(df: DataFrame, cols: Seq[String]): DataFrame =
    df.withColumn("__ord", struct(cols.map(col): _*))

  /** EWMA with the reference's 10-sample arithmetic warm-up
    * (sliding_window.cc:7-103): for samples 1..11 the output is the input
    * itself; after the 11th, state = mean(x1..x11) seeded then
    * v = d·x + (1−d)·v, and each output is the prediction *before* the
    * current sample. `delta` outputs x − prediction (ewma-error). */
  def ewma(df: DataFrame, cols: Seq[String], decay: Double, delta: Boolean): DataFrame = {
    val warmup = 10
    val spark = df.sparkSession
    val others = df.columns.filterNot(c => c == "series" || c == "ts" || cols.contains(c))
    require(others.isEmpty, s"unexpected non-slot columns ${others.toSeq}")
    val packed = df.select(col("series"), col("ts"),
      array(cols.map(col): _*).as("vs"))
    // Boxed slot elements: tuple streams (join / group-aggregate output)
    // carry null for absent slots, and a primitive Seq[Double] decoder
    // throws on them. Nulls pass through without advancing EWMA state,
    // mirroring the reference's presence bitmap skip.
    implicit val enc = Encoders.product[(String, Long, Seq[java.lang.Double])]
    val ds: Dataset[(String, Long, Seq[java.lang.Double])] =
      packed.as[(String, Long, Seq[java.lang.Double])]
    val out = ds.groupByKey(_._1)(Encoders.STRING)
      .flatMapSortedGroups(col("ts"), col("vs")) { (series: String, it: Iterator[(String, Long, Seq[java.lang.Double])]) =>
        val nSlots = cols.size
        val state = Array.fill(nSlots)(new EwmaState(decay, warmup))
        it.map { case (_, ts, vs) =>
          val outVs = Array.tabulate[java.lang.Double](nSlots) { i =>
            val x = vs(i)
            if (x == null || x.isNaN) x
            else {
              val pred = state(i).get(x)
              state(i).add(x)
              java.lang.Double.valueOf(if (delta) x - pred else pred)
            }
          }
          (series, ts, outVs.toSeq)
        }
      }
    val unpacked = out.toDF("series", "ts", "vs")
    cols.zipWithIndex.foldLeft(unpacked) { case (d, (c, i)) =>
      d.withColumn(c, col("vs").getItem(i))
    }.drop("vs")
  }

  /** Gap-fill onto a regular grid: per series, grid points run from its
    * first to its last timestamp in `stepNs` strides; grid points with no
    * existing row are inserted with null slots, then every null slot is
    * filled — `ffill` carries the last present value forward, `linear`
    * interpolates between the surrounding present values (leading /
    * trailing gaps stay null = absent slot, and off-grid original rows
    * pass through untouched, so fill composes with raw scans as well as
    * downsampled streams).
    *
    * Scale shape: one groupBy for per-series extents, a sequence-explode
    * bounded by span/step rows per series, an anti-join on (series, ts),
    * and per-series window fills — everything keyed by series; no global
    * shuffle. A year of 1s grid is 31M rows per series — pick `stepNs`
    * for the grid you can afford, exactly as with group-aggregate. */
  def fill(df: DataFrame, cols: Seq[String], stepNs: Long,
      method: String): DataFrame = {
    require(stepNs > 0, "fill step must be positive")
    require(Seq("ffill", "linear").contains(method),
      s"fill method must be ffill or linear, got '$method'")
    val ext = df.groupBy(col("series"))
      .agg(min(col("ts")).as("__mn"), max(col("ts")).as("__mx"))
    val grid = ext.select(col("series"),
      explode(sequence(col("__mn"), col("__mx"), lit(stepNs))).as("ts"))
    val inserted = grid
      .join(df.select("series", "ts"), Seq("series", "ts"), "left_anti")
      .select(col("series") :: col("ts") ::
        cols.map(c => lit(null).cast(DoubleType).as(c)).toList: _*)
    val union = withOrd(df, cols).unionByName(withOrd(inserted, cols))
    val wPrev = seriesWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = seriesWindow.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    cols.foldLeft(union) { (d, c) =>
      val filled = method match {
        case "ffill" => last(col(c), ignoreNulls = true).over(wPrev)
        case "linear" =>
          val vp = last(col(c), ignoreNulls = true).over(wPrev)
          val tp = last(when(col(c).isNotNull, col("ts")), ignoreNulls = true).over(wPrev)
          val vn = first(col(c), ignoreNulls = true).over(wNext)
          val tn = first(when(col(c).isNotNull, col("ts")), ignoreNulls = true).over(wNext)
          when(col(c).isNotNull, col(c)).otherwise(
            vp + (vn - vp) * ((col("ts") - tp).cast(DoubleType) /
              (tn - tp).cast(DoubleType)))
      }
      d.withColumn(c, filled)
    }.drop("__ord")
  }

  private final class EwmaState(decay: Double, warmupN: Int) {
    private var warmup = 0
    private var v = 0.0
    def get(default: Double): Double = if (warmup <= warmupN) default else v
    def add(x: Double): Unit = {
      if (warmup < warmupN) { v += x; warmup += 1 }
      else if (warmup == warmupN) {
        warmup += 1
        v = (v + x) / warmup
        v = x * decay + v * (1.0 - decay)
      } else v = x * decay + v * (1.0 - decay)
    }
  }

  /** `eval`: arithmetic expression over the join's metric column names
    * (eval.cc:18-195, muparser). Catalyst *is* the expression engine here:
    * the expression text is rewritten to backtick-quoted column refs and
    * handed to `expr`. NaN results are dropped like the reference. */
  private def evalNode(df: DataFrame, spec: ApplySpec, cols: Seq[String]): (DataFrame, Seq[String]) = {
    val exprText = spec.params.get("expr") match {
      case Some(s: String) => s
      case _ => throw new IllegalArgumentException("needs 'expr'")
    }
    val quoted = quoteMetricRefs(exprText, cols)
    val out = df.withColumn("value", expr(quoted).cast(DoubleType))
      .where(!isnan(col("value")) && col("value").isNotNull)
      .drop(cols.filterNot(_ == "value"): _*)
    (out, Seq("value"))
  }

  /** Backtick-quote metric-name references in an eval expression. Single
    * left-to-right pass (replaced text is never re-scanned, so one metric
    * being a substring of another cannot corrupt the output); longest
    * metric wins at each position; a match must sit on identifier
    * boundaries so substrings of function names or other identifiers are
    * left alone. Identifier chars include '.' because metric names do. */
  private[graft] def quoteMetricRefs(exprText: String, cols: Seq[String]): String = {
    val sorted = cols.filter(_.nonEmpty).sortBy(-_.length)
    def isIdent(ch: Char) = ch.isLetterOrDigit || ch == '_' || ch == '.'
    val sb = new StringBuilder
    var i = 0
    while (i < exprText.length) {
      val hit = sorted.find { c =>
        exprText.startsWith(c, i) &&
          (i == 0 || !isIdent(exprText.charAt(i - 1))) &&
          (i + c.length == exprText.length || !isIdent(exprText.charAt(i + c.length)))
      }
      hit match {
        case Some(c) => sb.append('`').append(c).append('`'); i += c.length
        case None => sb.append(exprText.charAt(i)); i += 1
      }
    }
    sb.toString
  }
}
