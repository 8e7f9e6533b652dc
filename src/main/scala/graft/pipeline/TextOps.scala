package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ScopedCache
import graft.model.ParquetDirs

/** Text-analysis and curation operators for training corpora: token
  * counting, quality scoring, language identification, fingerprinting
  * (min-hash + winnowing), PII scanning, benchmark decontamination,
  * repetition signals, deterministic splits (content-hash) and sampling
  * (rate-stratified + exact-k), TF-IDF keyword extraction, token-window
  * chunking, and per-shard sequence packing.
  *
  * All pure column expressions (codegen'd, no UDFs); regex patterns are
  * restricted to constructs with identical semantics in Java regex (Spark)
  * and RE2 (DuckDB oracle): character classes, +, |.
  */
object TextOps {

  /** Whitespace token count (single-space tokenization). */
  def tokenCountWs(text: Column): Column = size(split(text, " "))

  /** BPE-ish token count: runs of lowercase letters, runs of digits, or
    * single non-alphanumeric non-space characters each count as a token —
    * a cheap proxy for subword tokenizer output length. */
  val TokenRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(text, lit(TokenRegex), lit(0)))

  /** Quality-score features + composite score in [0, 1]:
    * short docs and stopword-free docs score low (heuristic curation
    * signal, not a model). Pure projection — composes with streaming
    * frames unchanged (see [[graft.streaming.TsdbStream.corpusIngest]]).
    * `keep` passes extra input columns through (e.g. `source` for an
    * ingest record). */
  def quality(df: DataFrame, idCol: String, textCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val words = split(col(textCol), " ")
    val stop = array(GopherStopwords.map(lit): _*)
    val nTokens = size(words)
    val stopRatio = size(array_intersect(words, stop)).cast("double") /
      size(array_distinct(words))
    val meanLen = aggregate(words, lit(0L),
      (acc, w) => acc + length(w)).cast("double") / nTokens
    df.select((col(idCol).as("id") +: keep.map(col)) ++ Seq(
      length(col(textCol)).as("n_chars"),
      nTokens.as("n_tokens"),
      round(meanLen, 6).as("mean_token_len"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(
        least(nTokens.cast("double") / 100.0, lit(1.0)) * 0.5 +
          stopRatio * 0.5, 6).as("quality")): _*)
  }

  /** Marker-word sets per language (the n-gram-heuristic skeleton: score =
    * |words ∩ markers|, predict argmax, ties broken by language order).
    * Real deployments learn char-n-gram profiles; the plan shape — a
    * per-language score column + greatest() — is identical. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("window", "group", "join"),
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("data", "row", "table"),
    "fr" -> Seq("merge", "sort", "key"),
    "zh" -> Seq("hash", "scan", "filter"))

  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = array_distinct(split(col(textCol), " "))
    val scored = LangMarkers.map { case (lang, ms) =>
      lang -> size(array_intersect(words, array(ms.map(lit): _*)))
    }
    // argmax with first-in-order tie-break: fold left keeping (best, lang)
    val first = scored.head
    val (bestScore, bestLang) = scored.tail.foldLeft(
      (first._2, lit(first._1))) { case ((bs, bl), (lang, sc)) =>
      (greatest(bs, sc), when(sc > bs, lit(lang)).otherwise(bl))
    }
    df.select(col(idCol).as("id"), bestLang.as("lang_pred"),
      bestScore.as("score"))
  }

  /** Document fingerprint: min 60-bit hash over word k-shingles (the
    * 1-fingerprint degenerate case of winnowing; content-defined, stable
    * under doc reordering of equal shingles). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    Dedup.shingles(df, idCol, textCol, k)
      .groupBy(col("id"))
      .agg(min(Dedup.hash60(col("shingle"))).as("fingerprint"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003): over the
    * positional k-shingle hash sequence, select the minimum hash of every
    * w-length window; the distinct selected hashes are the document's
    * fingerprints. Guarantees any shared run of w+k-1 words between two
    * documents shares a fingerprint — the multi-fingerprint upgrade of
    * [[fingerprint]] (which is the w=∞ degenerate case).
    *
    * Plan shape: one codegen shingling kernel per doc → per-doc window
    * min (docs are independent partitions; no cross-doc shuffle until the
    * final distinct) → distinct (id, fingerprint). */
  def winnow(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 1, "winnow window must be >= 1")
    val sh = df.select(col(idCol).as("id"),
      posexplode(graft.functions.TextExpressions.wordShinglesAll(col(textCol), k))
        .as(Seq("pos", "shingle")))
      .withColumn("h", Dedup.hash60(col("shingle")))
    val win = Window.partitionBy("id").orderBy("pos").rowsBetween(-(w - 1), 0)
    sh.withColumn("sel", min(col("h")).over(win))
      .where(col("pos") >= w - 1) // full windows only
      .select(col("id"), col("sel").as("fingerprint"))
      .distinct()
  }

  /** PII patterns — restricted to regex constructs with identical
    * semantics in Java regex (Spark) and RE2 (DuckDB): classes, bounded
    * repetition, alternation. Pattern quality is deployment-specific;
    * the operator's plan shape (codegen'd regexp counts, one scan) is
    * the part that matters at corpus scale. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "emails" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z][a-zA-Z]+",
    "phones" -> "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ips" -> "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}")

  /** Benchmark decontamination: per document, the fraction of its
    * distinct k-shingles that appear anywhere in `bench` (the eval /
    * benchmark corpus), plus a `contaminated` flag at `threshold`.
    * The standard guard against test-set leakage into training data.
    *
    * Plan shape: the benchmark's distinct shingle hashes are explicitly
    * [[broadcast]] — eval sets are MBs while the corpus is TBs, so the
    * corpus side joins map-side with no shuffle; per-doc totals come from
    * the shingling kernel's array length (map-side, no aggregation pass).
    * The flag compares the UNROUNDED fraction (the reported `contamination`
    * column is rounded for cross-engine display parity). */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, k: Int = 3,
      threshold: Double = 0.05): DataFrame = {
    val benchSh = bench
      .select(explode(
        graft.functions.TextExpressions.wordShingles(col(benchTextCol), k))
        .as("shingle"))
      .select(Dedup.hash60(col("shingle")).as("h")).distinct()
    val hits = Dedup.shingleHashes(docs, idCol, textCol, k)
      .join(broadcast(benchSh), Seq("h"))
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
    val sizes = docs.select(col(idCol).as("id"),
      size(graft.functions.TextExpressions.wordShingles(col(textCol), k))
        .as("n_shingles"))
    val frac = col("n_overlap").cast("double") /
      greatest(col("n_shingles"), lit(1)).cast("double")
    sizes.join(hits, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .select(col("id"), col("n_shingles"), col("n_overlap"),
        round(frac, 6).as("contamination"),
        (frac >= threshold).as("contaminated"))
  }

  /** Bloom-filter bit positions for a benchmark shingle set (Bloom
    * 1970): each distinct k-shingle hash sets `numHashes` positions in
    * an `mBits`-slot table, probe i of hash h at
    * hash60(h ':' i) mod mBits — salted re-hashing instead of
    * Kirsch–Mitzenmacher double hashing because it replays as plain
    * md5 arithmetic in SQL. Returned as the DISTINCT set-position
    * table (`pos`), which is what bounds it: **≤ mBits rows no matter
    * how many shingles the benchmark suite holds** — the
    * [[contamination]] broadcast side grows with the eval corpora,
    * this one is capped at m/8 bytes forever (the sampled-quantile /
    * KMV "bounded twin" discipline applied to set membership).
    *
    * Persist the result as parquet and ingest batches probe the index
    * alone — benchmark text is never re-read (the
    * [[graft.pipeline.Dedup.writeCorpusIndex]] lifecycle). */
  def bloomBits(bench: DataFrame, benchTextCol: String, k: Int = 3,
      mBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    require(mBits > 0 && numHashes > 0, "mBits and numHashes must be positive")
    bench
      .select(explode(
        graft.functions.TextExpressions.wordShingles(col(benchTextCol), k))
        .as("shingle"))
      .select(Dedup.hash60(col("shingle")).as("h")).distinct()
      .select(explode(sequence(lit(0), lit(numHashes - 1))).as("i"), col("h"))
      .select((Dedup.hash60(
          concat_ws(":", col("h").cast("string"), col("i").cast("string")))
        % mBits).as("pos"))
      .distinct()
  }

  /** [[contamination]] with the benchmark side compressed to a Bloom
    * filter ([[bloomBits]]): a shingle counts as overlapping iff ALL
    * `numHashes` of its probe positions are set. Same output schema and
    * threshold rule as the exact form; false positives only, so per-doc
    * `n_overlap` and `contamination` are ≥ the exact form's and the
    * flagged set is a superset (spec-pinned) — the safe direction for
    * decontamination (never under-flags). FP rate ≈ (1−e^(−kn/m))^k,
    * deterministic: the probe hashing is the same md5 arithmetic on
    * both engines, so an oracle replays bit-for-bit, FPs included.
    *
    * Plan shape: the bloom table broadcasts (≤ mBits rows — FIXED as
    * benchmarks grow, where [[contamination]]'s shingle-set broadcast
    * scales with them); probes expand in-row per (doc, shingle, i) and
    * meet it map-side; both aggregations are doc-keyed. The corpus
    * side never shuffles wider than its (doc, shingle) frame. */
  def contaminationBloom(docs: DataFrame, idCol: String, textCol: String,
      bloom: DataFrame, k: Int = 3, mBits: Int = 1 << 20,
      numHashes: Int = 5, threshold: Double = 0.05): DataFrame = {
    val hits = Dedup.shingleHashes(docs, idCol, textCol, k)
      .select(col("id"), col("h"),
        explode(sequence(lit(0), lit(numHashes - 1))).as("i"))
      .select(col("id"), col("h"), (Dedup.hash60(
          concat_ws(":", col("h").cast("string"), col("i").cast("string")))
        % mBits).as("pos"))
      .join(broadcast(bloom), Seq("pos")) // bloom pos distinct: no fanout
      .groupBy("id", "h").agg(count(lit(1)).as("n_set"))
      .where(col("n_set") === numHashes)
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
    val sizes = docs.select(col(idCol).as("id"),
      size(graft.functions.TextExpressions.wordShingles(col(textCol), k))
        .as("n_shingles"))
    val frac = col("n_overlap").cast("double") /
      greatest(col("n_shingles"), lit(1)).cast("double")
    sizes.join(hits, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .select(col("id"), col("n_shingles"), col("n_overlap"),
        round(frac, 6).as("contamination"),
        (frac >= threshold).as("contaminated"))
  }

  /** Packs a [[bloomBits]] set-position table into the literal bitset
    * (LSB-first within each byte) the in-row probe kernel reads. A
    * driver-side index LOAD, not a data pass: the input is the ≤ mBits
    * distinct-position table (m/8 bytes packed — 16 KiB at m = 2¹⁷),
    * the same size class as a broadcast codebook. */
  def packBloom(bloom: DataFrame, mBits: Int): Array[Byte] = {
    val bits = new Array[Byte]((mBits + 7) >> 3)
    bloom.select(col("pos").cast("long")).collect().foreach { r =>
      val p = r.getLong(0)
      require(p >= 0 && p < mBits, s"bloom position $p outside mBits=$mBits")
      bits((p >> 3).toInt) = (bits((p >> 3).toInt) | (1 << (p & 7).toInt)).toByte
    }
    bits
  }

  /** [[contaminationBloom]] with the probe folded in-row against the
    * [[packBloom]]-packed table: identical arithmetic (same shingling,
    * same salted hash60 probes, same all-`numHashes`-set rule — the two
    * forms and the oracle agree bit-for-bit, false positives included),
    * but the plan is a PURE PROJECTION of the corpus scan — the join
    * form's (doc × shingle × probe) row explosion, broadcast join and
    * two doc-keyed aggregations disappear; zero shuffle at any corpus
    * size. Also the streaming form: with no aggregation or state, the
    * same call gates an executing stream stateless (no watermark, no
    * state store — each arriving document flags in its own micro-batch).
    */
  def contaminationBloomPacked(docs: DataFrame, idCol: String,
      textCol: String, bits: Array[Byte], k: Int = 3, mBits: Int = 1 << 20,
      numHashes: Int = 5, threshold: Double = 0.05): DataFrame = {
    val frac = col("n_overlap").cast("double") /
      greatest(col("n_shingles"), lit(1)).cast("double")
    docs
      .select(col(idCol).as("id"),
        graft.functions.TextExpressions.bloomOverlap(col(textCol), k, bits,
          mBits, numHashes).as("__bo"))
      .select(col("id"), col("__bo").getItem(0).as("n_shingles"),
        col("__bo").getItem(1).cast("long").as("n_overlap"))
      .select(col("id"), col("n_shingles"), col("n_overlap"),
        round(frac, 6).as("contamination"),
        (frac >= threshold).as("contaminated"))
  }

  /** Gopher-style repetition signals over positional (all-occurrence)
    * k-grams: `top_ngram_frac` = share of gram occurrences taken by the
    * most frequent gram; `dup_ngram_frac` = share of occurrences whose
    * gram appears more than once. High values mark boilerplate / looping
    * generations. Two partial-aggregatable groupBys, both keyed by doc —
    * no cross-document shuffle at any scale. */
  def repetition(df: DataFrame, idCol: String, textCol: String,
      k: Int = 2): DataFrame = {
    val counts = df.select(col(idCol).as("id"),
        explode(graft.functions.TextExpressions.wordShinglesAll(col(textCol), k))
          .as("g"))
      .groupBy("id", "g").agg(count(lit(1)).as("c"))
    counts.groupBy("id").agg(
        sum(col("c")).as("n_grams"),
        max(col("c")).as("top"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup"))
      .select(col("id"), col("n_grams"),
        round(col("top").cast("double") / col("n_grams"), 6).as("top_ngram_frac"),
        round(col("dup").cast("double") / col("n_grams"), 6).as("dup_ngram_frac"))
  }

  /** Deterministic train/val/test assignment by CONTENT hash: bucket =
    * hash60(text) mod 100, test = [0, testPct), val = [testPct,
    * testPct+valPct), train = the rest. Hashing the content (not the id or
    * position) keeps byte-identical duplicates in one split — the property
    * that stops train/test leakage surviving a later dedup pass — and the
    * assignment is reproducible run-to-run with no stored split table. */
  def assignSplits(df: DataFrame, idCol: String, textCol: String,
      valPct: Int = 10, testPct: Int = 10): DataFrame = {
    require(valPct >= 0 && testPct >= 0 && valPct + testPct <= 100,
      "split percentages must be non-negative and sum to <= 100")
    df.select(col(idCol).as("id"),
        pmod(Dedup.hash60(col(textCol)), lit(100L)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < testPct, "test")
          .when(col("bucket") < testPct + valPct, "val")
          .otherwise("train"))
  }

  /** Split-leakage AUDIT: given a near-duplicate pair frame and a
    * split assignment, the matrix of pair counts per unordered split
    * combination — off-diagonal cells are train/test leakage (a
    * near-dup pair straddling splits lets the model memorize its way
    * to the eval score). The verification half of [[assignSplits]] +
    * group-safe splitting: prevention assigns by group, this MEASURES
    * what any assignment actually leaked, so a pipeline can gate a
    * release on `n_pairs = 0` off the diagonal. Split names order
    * lexicographically within a cell (split_a ≤ split_b — pairs are
    * unordered). Pairs with a side missing from `splits` drop out
    * (inner joins): no assignment, no judgement.
    *
    * Scale shape: the split table is one row per DOCUMENT (corpus-
    * sized), so the two joins are ordinary key equi-joins of the pair
    * frame against it — Catalyst broadcasts only while the split
    * table fits the threshold; beyond that they shuffle on the pair
    * ids, which is still pair-bounded work per join. The groupBy
    * output is tiny (≤ splits² rows) either way. */
  def splitLeakage(pairs: DataFrame, splits: DataFrame,
      idACol: String = "id_a", idBCol: String = "id_b",
      idCol: String = "id", splitCol: String = "split"): DataFrame =
    pairs
      .join(splits.select(col(idCol).as(idACol), col(splitCol).as("__sa")),
        idACol)
      .join(splits.select(col(idCol).as(idBCol), col(splitCol).as("__sb")),
        idBCol)
      .groupBy(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .agg(count(lit(1)).as("n_pairs"))

  /** Hash-deterministic stratified sampling: keep a document iff
    * hash60(text) mod 1e6 < rate(stratum)·1e6. Per-stratum rates ride a
    * broadcast-joined table rather than a literal CASE chain — at corpus
    * scale the stratum map (per-domain mixture weights) can hold thousands
    * of entries and change independently of the job. Unlisted strata get
    * `defaultRate`; the sample is reproducible and composes with
    * [[assignSplits]] (both key on content hash, independent moduli). */
  def stratifiedSample(df: DataFrame, textCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double = 1.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ratesDf = rates.toSeq.toDF("__stratum", "__rate")
    df.withColumn("__u", pmod(Dedup.hash60(col(textCol)), lit(1000000L)))
      .join(broadcast(ratesDf), col(stratumCol) === col("__stratum"), "left")
      .where(col("__u") <
        coalesce(col("__rate"), lit(defaultRate)) * 1000000.0)
      .drop("__stratum", "__rate", "__u")
  }

  /** Per-document top-k terms by tf-idf: tf = in-doc occurrence count,
    * idf = ln(N / docfreq), rank by (rounded score desc, term asc) —
    * rounding before the rank keeps the ordering identical across
    * engines whose ln() may differ in the last ulp.
    *
    * Plan shape: one explode + two partial-aggregatable groupBys; the
    * docfreq table is vocabulary-sized and joins the (doc, term) counts
    * on the term key — at corpus scale that join shuffles by term, which
    * is exactly the key both sides are already aggregated on. The final
    * top-k is a per-doc window rank (doc-keyed, no global sort). */
  def tfidf(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // corpus size as a broadcast 1-row frame, not a driver-side count():
    // the operator stays a single declarative plan (one job at scale)
    val nDf = df.agg(count(lit(1)).cast("double").as("n"))
    val terms = df.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("term"))
    val tf = terms.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val score = round(col("tf") * log(col("n") / col("df")), 6)
    val ranked = tf.join(dfreq, "term").crossJoin(broadcast(nDf))
      .select(col("id"), col("term"), score.as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("id").orderBy(col("score").desc, col("term"))))
    ranked.where(col("rank") <= k)
      .select(col("id"), col("rank"), col("term"), col("score"))
  }

  /** Token-window chunking: each document's whitespace tokens cut into
    * windows of `width` tokens advancing by `width - overlap` (the
    * sequence preparation step before tokenization/packing in a training
    * pipeline). Output one row per (doc, chunk): index, text, length;
    * the final chunk may be short. All in-row array ops (sequence /
    * slice / array_join) — a single codegen'd projection per document,
    * no shuffle at any scale. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      width: Int, overlap: Int = 0): DataFrame = {
    require(width > 0 && overlap >= 0 && overlap < width,
      "need width > 0 and 0 <= overlap < width")
    val step = width - overlap
    val toks = split(col(textCol), " ")
    df.select(col(idCol).as("id"), toks.as("__toks"))
      .select(col("id"), col("__toks"),
        posexplode(sequence(lit(0), greatest(size(col("__toks")) - 1, lit(0)),
          lit(step))).as(Seq("chunk_idx", "start")))
      .select(col("id"), col("chunk_idx"),
        array_join(slice(col("__toks"), col("start") + 1, lit(width)), " ")
          .as("chunk_text"),
        least(size(col("__toks")) - col("start"), lit(width)).as("n_tokens"))
  }

  /** Exact-k deterministic sample per stratum: the k documents with the
    * smallest (content hash, id) in each stratum — a reproducible
    * fixed-SIZE counterpart to [[stratifiedSample]]'s fixed-RATE form
    * (and like it, nested: raising k only adds documents). Output keeps
    * the input columns plus `rank` (1..k by hash order).
    *
    * Scale shape: the rank-filtered window compiles to WindowGroupLimit
    * in Spark 4 — each map task keeps only k rows per stratum BEFORE the
    * shuffle, so a skewed stratum costs k rows per task, not its full
    * size (pinned in PlanShapeSpec). */
  def sampleKPerStratum(df: DataFrame, idCol: String, textCol: String,
      stratumCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "k must be positive")
    df.withColumn("__h", Dedup.hash60(col(textCol)))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(stratumCol)).orderBy(col("__h"), col(idCol))))
      .where(col("rank") <= k)
      .drop("__h")
  }

  /** Sequential sequence packing: rows (docs or chunks) are laid out in
    * `orderCols` order within each shard and cut into training sequences
    * of `budget` tokens by START offset — row i goes to sequence
    * floor(start_i / budget) where start_i is the running token total
    * before it (concat-and-cut semantics; a row that straddles a cut
    * belongs to the sequence it starts in, so sequences are
    * approximately budget-sized without splitting rows).
    *
    * Packing is PER SHARD (source, split, worker...) — the layout real
    * pipelines use, and what keeps this scale-correct: the running sum
    * is a window within each shard, never a global single-partition
    * cumsum. Deterministic given (shardCol, orderCols). */
  def packSequences(df: DataFrame, shardCol: String, orderCols: Seq[String],
      tokenCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, "token budget must be positive")
    val w = Window.partitionBy(col(shardCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__start",
        coalesce(sum(col(tokenCol).cast("long")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"__start div $budget"))
      .withColumn("seq_pos", pmod(col("__start"), lit(budget)))
      .drop("__start")
  }

  /** Collapse consecutive duplicate tokens ("the de-looping edit"):
    * "a b b b c" → "a b c" — the cheap cleanup for stutter artifacts
    * (generation loops, scraped marquee text). Keeps token i iff it
    * differs from token i−1; only IMMEDIATE repeats collapse (repeated
    * longer phrases are [[repetition]]'s signal and [[segmentDedup]]'s
    * edit). One in-row projection; the cleaned text's hash rides out so
    * the edit is verifiable. */
  def collapseRepeats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = split(col(textCol), " ")
    df.select(col(idCol).as("id"), ws.as("__ws"))
      .select(col("id"), size(col("__ws")).as("n_tokens"),
        filter(col("__ws"), (w, i) =>
          i === 0 || w =!= get(col("__ws"), i - 1)).as("__kept"))
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - size(col("__kept"))).as("n_collapsed"),
        md5(array_join(col("__kept"), " ")).as("clean_hash"))
  }

  case class PackIn(shard: String, id: Long, tok: Long)
  case class PackOut(shard: String, id: Long, n_tokens: Long,
    bin_id: Long, bin_pos: Long)

  /** Boundary-respecting greedy sequence packing: within each shard, in
    * id order, rows accumulate into the current bin until the NEXT row
    * would overflow `budget`, then a fresh bin opens — no row ever
    * straddles two training sequences (the property
    * [[packSequences]]' concat-and-cut trades away; this is the form
    * for corpora where crossing a document boundary mid-sequence is not
    * acceptable). A row larger than the whole budget gets a bin alone.
    * Output: (shard, id, n_tokens, bin_id, bin_pos).
    *
    * The fold is inherently sequential (bin fill is running state), so
    * it runs as one ordered pass per shard (`flatMapSortedGroups`, the
    * EWMA-recursion idiom) — shards bound the state and the pass, never
    * a global scan; integer arithmetic only, replayed by the oracle as
    * a per-shard recursive CTE. */
  def packGreedyBins(df: DataFrame, shardCol: String, idCol: String,
      tokenCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders}
    require(budget > 0, "token budget must be positive")
    implicit val inEnc: Encoder[PackIn] = Encoders.product[PackIn]
    implicit val outEnc: Encoder[PackOut] = Encoders.product[PackOut]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    df.select(col(shardCol).cast("string").as("shard"),
        col(idCol).cast("long").as("id"),
        col(tokenCol).cast("long").as("tok")).as[PackIn]
      .groupByKey(_.shard)
      .flatMapSortedGroups(col("id")) { (k: String, rows: Iterator[PackIn]) =>
        var bin = 0L
        var fill = 0L
        rows.map { r =>
          if (fill > 0 && fill + r.tok > budget) { bin += 1; fill = 0 }
          val out = PackOut(k, r.id, r.tok, bin, fill)
          fill += r.tok
          out
        }
      }.toDF()
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each raw
    * document by how much more likely its hashed n-gram features are
    * under a TARGET corpus's bucket-unigram model than under the raw
    * corpus's own — log w(x) = Σ_grams [ln p̂_target(b(g)) − ln p̂_raw(b(g))]
    * with hashed k-gram buckets b(g) = hash60(g) mod `buckets` and
    * add-`alpha` smoothed bucket probabilities. Positive scores mark
    * documents that look more like the target (e.g. curated/eval-domain
    * text) than like the average of the raw pool — the paper then samples
    * by weight; the deterministic counterpart here is a threshold flag
    * (`selected` = logw_micro ≥ `minLogwMicro`), which stays map-side at
    * any scale where a global weighted sample would need a shuffle.
    *
    * Cross-engine determinism: the per-bucket log-ratio is FIXED-POINT —
    * rounded to integer micro-units once per bucket (`buckets` ln() calls
    * total) — so each document's score is an exact integer sum whose
    * value is independent of Spark's partial-aggregation order, and the
    * DuckDB oracle replays it bit-identically. `logw` is just
    * logw_micro/1e6 for human use.
    *
    * Plan shape (100 TB): one shingling pass over raw feeds BOTH the raw
    * bucket model and the per-doc bucket counts (scoped-cached, released
    * by [[graft.ScopedCache.release]]); the models collapse to
    * `buckets` rows, the log-ratio table broadcasts, and scoring is a
    * doc-keyed partial-aggregatable sum. The target side (an eval set /
    * domain exemplar, MBs vs the corpus's TBs) is one small scan. At
    * index-build time the lr table can be persisted and reused across
    * corpus shards exactly like the IVF codebook.
    *
    * @return one row per raw document: (id, n_grams, logw_micro, logw,
    *         selected); docs with fewer than k tokens appear with
    *         n_grams=0 and logw_micro=0. */
  /** Hashed-k-gram bucket key over an exploded gram column `g`. */
  private def gramBucket(buckets: Int): Column =
    pmod(Dedup.hash60(col("g")), lit(buckets.toLong)).as("b")

  /** Corpus-wide hashed-k-gram bucket model (b, count) — the shared
    * construction of every bucket-model operator ([[dsirWeights]]'
    * target model, [[ingestDrift]]'s two sides): one definition so
    * their oracles can never drift apart. */
  private def bucketModel(df: DataFrame, textCol: String, cName: String,
      buckets: Int, k: Int): DataFrame = df
    .select(explode(
      graft.functions.TextExpressions.wordShinglesAll(col(textCol), k)).as("g"))
    .select(gramBucket(buckets)).groupBy("b").agg(count(lit(1)).as(cName))

  /** Per-doc hashed-k-gram bucket counts (id, b, f), scoped-cached —
    * the shared spine of the fixed-point bucket models ([[dsirWeights]],
    * [[ngramPerplexity]]): model fit and doc scoring both consume it. */
  private def docBucketCounts(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, k: Int): DataFrame =
    ScopedCache.cache(df
      .select(col(idCol).as("id"), explode(
        graft.functions.TextExpressions.wordShinglesAll(col(textCol), k)).as("g"))
      .select(col("id"), gramBucket(buckets)).groupBy("id", "b")
      .agg(count(lit(1)).as("f")))

  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 64, k: Int = 2, alpha: Double = 1.0,
      minLogwMicro: Long = 0L): DataFrame = {
    require(buckets > 0 && k > 0, "need buckets > 0 and k > 0")
    val aB = lit(alpha * buckets)
    val targetModel = bucketModel(target, textCol, "tc", buckets, k)
    val docBuckets = docBucketCounts(raw, idCol, textCol, buckets, k)
    val rawModel = docBuckets.groupBy("b").agg(sum("f").as("rc"))
    val spark = raw.sparkSession
    val allB = spark.range(0, buckets).select(col("id").as("b"))
    // model totals as unpartitioned window sums over the `buckets`-row
    // joined table (every bucket of both models is present after the
    // left joins, so the window total IS the model total) — same
    // arithmetic as a scalar crossJoin but with no BroadcastNestedLoop
    // node anywhere in the plan, and the single-partition window only
    // ever sees `buckets` rows (an index-build cost, not corpus-sized)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val tcF = coalesce(col("tc"), lit(0L))
    val rcF = coalesce(col("rc"), lit(0L))
    val lr = allB.join(targetModel, Seq("b"), "left")
      .join(rawModel, Seq("b"), "left")
      .select(col("b"), round(log(
          ((tcF + alpha) / (sum(tcF).over(wAll).cast("double") + aB)) /
          ((rcF + alpha) / (sum(rcF).over(wAll).cast("double") + aB))) * 1e6)
        .cast("long").as("lr"))
    val scored = docBuckets.join(broadcast(lr), Seq("b"))
      .groupBy("id").agg(sum("f").as("n_grams"),
        sum(col("f") * col("lr")).as("logw_micro"))
    raw.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("logw_micro"), lit(0L)).as("logw_micro"))
      .withColumn("logw", round(col("logw_micro") / 1e6, 6))
      .withColumn("selected", col("logw_micro") >= minLogwMicro)
  }

  /** Distribution-drift monitor for continuous ingest: KL(batch ‖
    * corpus) over add-α-smoothed hashed-k-gram bucket models, reported
    * PER BUCKET so the drift localizes (which vocabulary region moved),
    * with each term in fixed-point micro-nats — the total divergence is
    * an exact integer sum of the `kl_micro` column. [[dsirWeights]]'
    * two-model machinery pointed at monitoring instead of selection:
    * the readout a crawl-pipeline owner alerts on per ingest batch.
    *
    * Scale shape: each side collapses to a `buckets`-row model (one
    * partial-aggregatable groupBy per side); everything after joins
    * `buckets`-row tables, with totals as unpartitioned window sums
    * over those rows only. */
  def ingestDrift(corpus: DataFrame, batch: DataFrame, textCol: String,
      buckets: Int = 64, k: Int = 2, alpha: Double = 1.0): DataFrame = {
    require(buckets > 0 && k > 0, "need buckets > 0 and k > 0")
    val aB = lit(alpha * buckets)
    val spark = corpus.sparkSession
    val allB = spark.range(0, buckets).select(col("id").as("b"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val bc = coalesce(col("bc"), lit(0L))
    val cc = coalesce(col("cc"), lit(0L))
    val p = (bc + alpha) / (sum(bc).over(wAll).cast("double") + aB)
    val q = (cc + alpha) / (sum(cc).over(wAll).cast("double") + aB)
    allB.join(bucketModel(batch, textCol, "bc", buckets, k), Seq("b"), "left")
      .join(bucketModel(corpus, textCol, "cc", buckets, k), Seq("b"), "left")
      .select(col("b"), bc.as("batch_n"), cc.as("corpus_n"),
        round(p, 6).as("p_batch"), round(q, 6).as("q_corpus"),
        round(p * log(p / q) * 1e6).cast("long").as("kl_micro"))
  }

  /** N-gram LM perplexity scoring — the CCNet-style quality filter
    * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data"): score each document by the average
    * negative log-probability of its hashed k-gram buckets under an
    * add-α-smoothed bucket model, and select documents under the
    * threshold (improbable = boilerplate/garbage, the cut CCNet makes
    * with a KenLM model). The model here is fitted on the input corpus
    * itself to keep the entry self-contained; production fits once on a
    * trusted corpus and reuses it (same convention as [[dsirWeights]],
    * whose importance ratio is this operator's two-model sibling).
    *
    * Exactness contract (same trick as DSIR): the per-bucket negative
    * log-prob is fixed-point micro-nats (round(−ln P · 1e6) as a long),
    * so each document's total `nll_micro` is an exact integer sum —
    * aggregation-order independent and oracle-replayable bit-for-bit —
    * and `selected` compares integers (`nll_micro ≤ threshold · n_grams`)
    * rather than a divided double. `avg_nll` is derived for reading.
    *
    * Scale shape: one doc-keyed partial-aggregatable groupBy for the
    * per-doc bucket counts (scope-cached: model fit and scoring share
    * it), a `buckets`-row model table that broadcasts, and unpartitioned
    * window totals over that table only (no corpus-sized window). */
  def ngramPerplexity(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 64, k: Int = 2, alpha: Double = 1.0,
      maxAvgNllMicro: Long = 4130000L): DataFrame = {
    require(buckets > 0 && k > 0, "need buckets > 0 and k > 0")
    val aB = lit(alpha * buckets)
    val docBuckets = docBucketCounts(df, idCol, textCol, buckets, k)
    val model = docBuckets.groupBy("b").agg(sum("f").as("c"))
    val spark = df.sparkSession
    val allB = spark.range(0, buckets).select(col("id").as("b"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val cF = coalesce(col("c"), lit(0L))
    val nll = allB.join(model, Seq("b"), "left")
      .select(col("b"), round(-log(
          (cF + alpha) / (sum(cF).over(wAll).cast("double") + aB)) * 1e6)
        .cast("long").as("nll"))
    val scored = docBuckets.join(broadcast(nll), Seq("b"))
      .groupBy("id").agg(sum("f").as("n_grams"),
        sum(col("f") * col("nll")).as("nll_micro"))
    df.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("nll_micro"), lit(0L)).as("nll_micro"))
      // round the integer micro ratio FIRST: micro-halves (.5 on a ratio
      // of longs) are exactly representable, so both engines round them
      // identically — round(x/1e6/n, 6) is not cross-engine-stable when
      // the extra division lands a value on a 7th-decimal half (Spark
      // rounds the shortest decimal repr HALF_UP, DuckDB the binary
      // double, and they disagree exactly there; measured at sf0.1)
      .withColumn("avg_nll", when(col("n_grams") > 0,
        round(col("nll_micro") / col("n_grams").cast("double")).cast("long")
          / lit(1e6)))
      // gramless documents (fewer than k tokens) are NOT selected: the
      // filter exists to cut uninformative docs, and 0 <= 0 would give
      // exactly those a free pass
      .withColumn("selected", col("n_grams") > 0 &&
        col("nll_micro") <= lit(maxAvgNllMicro) * col("n_grams"))
  }

  /** Exact-substring duplicate spans — the shingle-hash form of
    * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499): a
    * k-token span OCCURRENCE is duplicated when the identical span
    * occurs anywhere else in the corpus (another document, or again in
    * the same one). Output per document: total span occurrences
    * (`n_spans` = tokens − k + 1), duplicated occurrences
    * (`n_dup_spans`), and their ratio (`dup_fraction`) — the signal
    * substring-level dedup cuts on, where document-level near-dup (which
    * needs whole-doc Jaccard overlap) misses templated boilerplate pasted
    * into otherwise-distinct documents. Documents shorter than k tokens
    * have no spans and drop out.
    *
    * Scale shape: positional spans come from the codegen shingling
    * kernel (one in-row array per doc, no cross-row work), collapse to
    * per-(doc, span-hash) counts in one partial-aggregatable groupBy,
    * and the global occurrence table derives from THOSE counts — so the
    * span-keyed shuffle carries distinct (doc, span) rows, not every
    * occurrence. The count join is hash-keyed on the same column both
    * sides are already aggregated on. A true suffix array finds
    * arbitrary-length repeats; fixed-k spans (k ≈ 50 tokens in the
    * paper; smaller here for the synthetic corpus) are the standard
    * scalable approximation — any repeat of length ≥ k is caught. */
  def substringSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    // perDoc feeds both the global count and the join back onto itself;
    // scope-cache it so the corpus-wide shingling pass runs once (column
    // pruning specializes the two aggregate consumers — ReuseExchange
    // cannot dedupe them, same trap Dedup.minhashPairs documents)
    val perDoc = ScopedCache.cache(df.select(col(idCol).as("id"),
        explode(graft.functions.TextExpressions.wordShinglesAll(col(textCol), k))
          .as("g"))
      .select(col("id"), Dedup.hash60(col("g")).as("h"))
      .groupBy("id", "h").agg(count(lit(1)).as("c")))
    val global = perDoc.groupBy("h").agg(sum(col("c")).as("n_occ"))
    perDoc.join(global, "h")
      .groupBy("id")
      .agg(sum(col("c")).as("n_spans"),
        sum(when(col("n_occ") >= 2, col("c")).otherwise(lit(0L)))
          .as("n_dup_spans"))
      .select(col("id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6)
          .as("dup_fraction"))
  }

  /** BM25 batch retrieval: score every document against each query of a
    * bounded query set and keep the top `k` per query — the retrieval
    * step of data-selection / RAG-style pipelines run as ONE batch plan
    * instead of per-query index probes. Uses the Lucene BM25 variant:
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (never negative), tf
    * saturation tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).
    *
    * Cross-engine determinism: avgdl enters as dl·(N/T) with N (docs)
    * and T (total tokens) integer-derived scalars, so both engines
    * compute identical doubles; scores round to 1e-6 BEFORE ranking so
    * ln() ulp drift cannot reorder the top-k cut; ties break on doc id.
    *
    * Scale shape: doc tokens explode once and a broadcast semi-join to
    * the query-term set prunes the explosion before the one
    * (doc, term)-keyed partial-aggregatable groupBy; df and the corpus
    * totals are term-count-sized frames that broadcast; per-query top-k
    * is a rank filter Spark 4 plans as WindowGroupLimit (map-side k per
    * query before the shuffle). Nothing corpus-sized is ever sorted. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, Seq[String])],
      k1: Double = 1.2, b: Double = 0.75, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (q, ts) => ts.map(q -> _) }
      .toDF("query_id", "term")
    val totals = df.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens"))
    val toks = df.select(col(idCol).as("id"), split(col(textCol), " ").as("__t"))
      .select(col("id"), size(col("__t")).cast("long").as("dl"),
        explode(col("__t")).as("term"))
    // scope-cached: tf feeds both dfreq and the scoring join — column
    // pruning specializes the two aggregate consumers, so without the
    // cache the corpus-wide token explode would run twice (the
    // minhashPairs trap this file documents)
    val tf = ScopedCache.cache(toks
      .join(broadcast(qterms.select("term").distinct()), Seq("term"), "left_semi")
      .groupBy(col("id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df_t") + lit(0.5)) / (col("df_t") + lit(0.5)))
    val tfNorm = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("dl") * (col("n_docs").cast("double") / col("n_tokens"))))
    val scored = tf.join(broadcast(qterms), "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(totals))
      .groupBy(col("query_id"), col("id"))
      .agg(round(sum(idf * tfNorm), 6).as("score"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("doc_id"), col("score"))
  }

  /** Byte-pair-encoding trainer (Sennrich/Haddow/Birch 2016, "Neural
    * Machine Translation of Rare Words with Subword Units"): learn
    * `rounds` merges over the corpus WORD-TYPE table and return the
    * final vocabulary states `(word, f, st)` where `st` is the word's
    * space-joined subword symbols. Training operates on word types
    * weighted by frequency (the type table is Zipf-small relative to
    * the corpus — the classic trainer shape), so each round is one
    * vocab-sized pair count + a 1-row argmax (a driver action, index
    * build like [[graft.pipeline.Similarity.fitCodebook]]'s Lloyd
    * rounds) + one string replace over the vocab.
    *
    * Determinism: merge ties break lexicographically; pair counting is
    * overlapping 2-grams (the reference get_stats); merging is a
    * left-to-right fold that greedily merges non-overlapping occurrences
    * (the reference behavior — a last token produced by THIS round's
    * merge can't merge again, because it no longer equals the pair's
    * left symbol); everything is integer/string arithmetic, so the
    * oracle replay is exact with no FP anywhere. */
  def bpeVocab(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    // scope-cached: every round's argmax and the final tokenize join
    // re-read this aggregation (same rationale as fitCodebook's cache)
    val words = ScopedCache.cache(
      df.select(explode(split(col(textCol), " ")).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("f")))
    // character split via split("") (not a '.' regex: Java and RE2
    // disagree on which line separators '.' matches), empties dropped —
    // Java's split keeps a trailing "" that DuckDB's does not
    var vocab = words.select(col("word"), col("f"),
      array_join(filter(split(col("word"), ""), x => length(x) > 0), " ")
        .as("st"))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val best = vocab
        .select(col("f"), explode(
          graft.functions.TextExpressions.wordShinglesAll(col("st"), 2)).as("pair"))
        .groupBy("pair").agg(sum(col("f")).as("c"))
        .orderBy(col("c").desc, col("pair")).limit(1)
        .collect()
      if (best.isEmpty) done = true // every word is a single symbol
      else {
        val p = best(0).getString(0)
        val Array(pa, pb) = p.split(" ", 2)
        val merged = pa + pb
        // greedy leftmost merge as a fold over the symbol list: append
        // each symbol, except when the accumulated string ends with
        // " <pa>" and the incoming symbol is <pb> — then the tail
        // becomes " <merged>". The leading-space seed makes the
        // ends-with test uniform for the first symbol.
        val ss = split(col("st"), " ")
        val foldSeed = concat(lit(" "), element_at(ss, 1))
        val folded = aggregate(
          slice(ss, lit(2), greatest(size(ss) - 1, lit(0))), foldSeed,
          (acc, x) => when(
            call_function("endswith", acc, lit(s" $pa")) && x === lit(pb),
            concat(call_function("substring", acc, lit(1),
              length(acc) - lit(pa.length + 1)), lit(s" $merged")))
            .otherwise(concat(acc, lit(" "), x)))
        // truncate the lineage: without this, round r's argmax (and the
        // final tokenize) re-executes all r prior folds — O(rounds²)
        // passes and an ever-deeper nested plan (same device as the
        // connected-components rounds)
        vocab = vocab.withColumn("st", ltrim(folded)).localCheckpoint(true)
      }
      r += 1
    }
    vocab
  }

  /** Tokenize with a trained BPE vocabulary: per-document word count and
    * BPE token count. The corpus-scale step is one explode + a broadcast
    * join against the (type-table-sized) vocabulary states — documents
    * never re-run the merges; they look their words' final
    * segmentations up. */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val vocab = bpeVocab(df, textCol, rounds)
      .select(col("word"), size(split(col("st"), " ")).as("nt"))
    val counts = df
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("word"))
      .where(length(col("word")) > 0)
      .join(broadcast(vocab), "word")
      .groupBy("id").agg(count(lit(1)).as("n_words"),
        sum(col("nt")).cast("long").as("n_bpe_tokens"))
    // keep empty/whitespace-only documents as (0, 0) rows — per-doc
    // stats must cover every input id (the sibling curation ops do)
    df.select(col(idCol).as("id")).join(counts, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Redact PII in place — the write-path completion of [[piiScan]]:
    * every [[PiiPatterns]] match is replaced by its typed placeholder
    * (`[EMAILS]`, `[PHONES]`, `[IPS]`), with per-pattern replacement
    * counts kept so the redaction is auditable. One chained
    * regexp_replace projection per document — a single scan, no
    * shuffle; the patterns are the RE2∩Java-compatible set piiScan
    * already proves match-identical across engines, so the redacted
    * text (and its hash) is cross-engine exact. */
  def piiRedact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = PiiPatterns.map { case (name, re) =>
      size(regexp_extract_all(col(textCol), lit(re), lit(0))).as(s"n_$name")
    }
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (name, re)) =>
        regexp_replace(c, re, s"[${name.toUpperCase}]")
    }
    df.select(col(idCol).as("id") +: counts :+ redacted.as("text_redacted"): _*)
      .withColumn("n_redacted",
        PiiPatterns.map { case (name, _) => col(s"n_$name") }
          .reduce(_ + _))
  }

  /** Per-document PII counts + a redaction-needed flag. One scan, all
    * counts codegen'd column expressions. */
  def piiScan(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = PiiPatterns.map { case (name, re) =>
      size(regexp_extract_all(col(textCol), lit(re), lit(0))).as(s"n_$name")
    }
    val flag = PiiPatterns.map { case (name, _) => col(s"n_$name") > 0 }
      .reduce(_ || _)
    df.select(col(idCol).as("id") +: counts: _*)
      .withColumn("has_pii", flag)
  }

  /** The Gopher rule-set stopword list (Rae et al. 2021 §A1.1 uses 8
    * English function words; this corpus's function-word set) — a doc
    * must contain at least [[gopherRules]]' `minStop` DISTINCT members. */
  val GopherStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Gopher-style heuristic quality GATES (Rae et al. 2021, Appendix A):
    * unlike [[quality]]'s soft score, each signal is a hard boolean rule
    * and `keep` is their conjunction — the filter stage real corpora run
    * before any model-based scoring. Signals: word count in
    * [minWords, maxWords], mean word length in [3, 10], symbol-to-word
    * ratio ('#' or '...') <= 0.1, fraction of words containing an
    * alphabetic character >= 0.8, >= `minStop` distinct stopwords.
    *
    * One codegen'd projection per document — no shuffle at any corpus
    * size; flags ride along so a rejected doc carries WHY it failed
    * (the audit column downstream debugging needs). */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minStop: Int = 2): DataFrame = {
    val words = split(col(textCol), " ")
    val nWords = size(words)
    val meanLen = aggregate(words, lit(0L),
      (acc, w) => acc + length(w)).cast("double") / nWords
    val nSymbols = size(regexp_extract_all(col(textCol),
      lit("#|[.][.][.]"), lit(0)))
    val alphaFrac = size(filter(words,
      w => w.rlike("[a-zA-Z]"))).cast("double") / nWords
    val nStop = size(array_intersect(array_distinct(words),
      array(GopherStopwords.map(lit): _*)))
    df.select(col(idCol).as("id"),
        nWords.as("n_words"),
        round(meanLen, 6).as("mean_word_len"),
        round(nSymbols.cast("double") / nWords, 6).as("symbol_ratio"),
        round(alphaFrac, 6).as("alpha_frac"),
        nStop.as("n_stop"))
      .withColumn("flag_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("flag_mean_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("flag_symbol", col("symbol_ratio") <= 0.1)
      .withColumn("flag_alpha", col("alpha_frac") >= 0.8)
      .withColumn("flag_stop", col("n_stop") >= minStop)
      .withColumn("keep",
        col("flag_word_count") && col("flag_mean_len") &&
          col("flag_symbol") && col("flag_alpha") && col("flag_stop"))
  }

  /** Temperature-scaled mixture reweighting (the multilingual-sampling
    * rule of Conneau/Lample 2019 §3.1 at α = 0.5): a stratum with cᵢ
    * tokens gets weight wᵢ = √cᵢ / Σⱼ√cⱼ — up-weighting small strata
    * relative to proportional sampling — and sampling rate
    * min(1, targetTokens·wᵢ/cᵢ). The output table is the per-stratum
    * recipe [[stratifiedSample]] consumes as its `rates` map: this
    * operator DERIVES the mixture, that one applies it.
    *
    * Plan shape: one partial-aggregatable groupBy to stratum token
    * counts, then the normalizer as a global window over that
    * STRATA-SIZED aggregate (thousands of rows at most — the single
    * partition is the recipe table, not the corpus), so the corpus is
    * scanned exactly once. √ (not pow) keeps the arithmetic
    * bit-identical across engines. */
  def temperatureMixture(df: DataFrame, stratumCol: String, textCol: String,
      targetTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(targetTokens > 0, "targetTokens must be positive")
    val counts = df.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCountWs(col(textCol)).cast("long")).as("n_tokens"))
    val z = sum(sqrt(col("n_tokens"))).over(Window.partitionBy())
    val weight = sqrt(col("n_tokens")) / col("z")
    val rate = least(lit(1.0), weight * targetTokens / col("n_tokens"))
    counts.withColumn("z", z)
      .select(col("stratum"), col("n_docs"), col("n_tokens"),
        round(weight, 6).as("weight"),
        round(rate, 6).as("rate"),
        round(round(rate, 6) * col("n_tokens"), 0).cast("long")
          .as("expected_tokens"))
  }

  /** Vocabulary coverage / OOV rate: learn the top-`vocabSize` word
    * vocabulary (count desc, word asc — the deterministic cut) and score
    * each document's fraction of tokens outside it. The readout that
    * tells a tokenizer owner how much of a candidate corpus their vocab
    * actually covers.
    *
    * Scale shape: the vocabulary cut is TakeOrderedAndProject (per-task
    * top-V heap over the word counts, never a full sort) and the
    * per-token membership test is a broadcast join — the corpus side
    * carries one extra boolean per token, no shuffle beyond the
    * vocabulary-sized word count. */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val vocab = df.select(explode(split(col(textCol), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(vocabSize)
      .select(col("word"), lit(true).as("in_vocab"))
    df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("word"))
      .join(broadcast(vocab), Seq("word"), "left_outer")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  /** Deterministic global shuffle for training order: each document goes
    * to shard hash(text#id) mod `nShards` at position = its hash rank
    * within the shard. Salting the content hash with the id keeps
    * byte-identical duplicates apart (a pure content hash would pin them
    * to adjacent positions of one shard — the clumping a shuffle exists
    * to destroy); the order is reproducible run-to-run with no stored
    * permutation table.
    *
    * Scale shape: the rank is a window PER SHARD — thousands of
    * independent shard sorts, never a global one; a training job reads
    * shards in parallel and each is internally hash-ordered. */
  def shardShuffle(df: DataFrame, idCol: String, textCol: String,
      nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards > 0, "nShards must be positive")
    val h = Dedup.hash60(concat(col(textCol), lit("#"),
      col(idCol).cast("string")))
    df.select(col(idCol).as("id"), h.as("__h"))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)).cast("int"))
      .withColumn("seq", row_number().over(
        Window.partitionBy("shard").orderBy(col("__h"), col("id"))))
      .select(col("id"), col("shard"), col("seq"))
  }

  /** Hashed bag-of-words feature vector — the fastText feature map
    * (Joulin et al. 2016) in its hashed form: split on ' ', drop empty
    * tokens, hash60 mod `buckets`, count per bucket. ONE compiled
    * kernel call per document ([[graft.functions.TextExpressions
    * .bowCounts]]); the composable HOF form (a `filter` per bucket
    * over a `transform`ed hash array) evaluates O(buckets · tokens)
    * interpreted lambdas per row and cost ~3 ms/doc at 32 buckets —
    * spec-pinned value-identical to the kernel. */
  def bowFeatures(textCol: Column, buckets: Int): Column =
    graft.functions.TextExpressions.bowCounts(textCol, buckets)

  /** Elliott "fast sigmoid" 0.5 + 0.5·m/(1+|m|): the logistic link with
    * ONLY +,·,/,abs — every op IEEE-identical across engines, unlike
    * exp() whose last ulp is libm-specific. What makes the whole trainer
    * below engine-exact instead of approximately reproducible. */
  private def elliott(m: Column): Column =
    lit(0.5) + lit(0.5) * m / (lit(1.0) + abs(m))

  /** A trained [[trainTextClassifier]] model: bias + per-bucket weights
    * + the per-bucket feature MEANS the features were centered on
    * (centering is what conditions full-batch GD on correlated count
    * features — without it every margin moves together and the
    * threshold direction never separates). */
  case class TextClassifierModel(bias: Double, weights: Seq[Double],
      means: Seq[Double])

  /** Centered margin: w0 + Σ_b (x_b − μ_b)·w_b, folded in bucket order
    * (the order the oracle's list_sum replays bit-for-bit). */
  private def classifierMargin(xs: Column, m: TextClassifierModel): Column = {
    val centered = zip_with(xs, array(m.means.map(lit): _*),
      (x, mu) => x.cast("double") - mu)
    lit(m.bias) + aggregate(
      zip_with(centered, array(m.weights.map(lit): _*), (c, wc) => c * wc),
      lit(0.0), (a, e) => a + e)
  }

  /** Train a linear text classifier (fastText shape: hashed
    * bag-of-words → centering → linear → sigmoid link) by full-batch
    * gradient descent INSIDE the engine. Determinism contract, the same
    * idiom as [[dsirWeights]]: per-document gradient contributions
    * quantize to integer micro-units before the cross-partition sum, so
    * gradients are exact integer sums (aggregation-order independent)
    * and the weight recursion — scalar double arithmetic on those
    * integers — is bit-identical on any cluster layout and replayable
    * CTE-for-CTE by a SQL oracle. The link is [[elliott]] and the
    * feature means are exact integer sums over exact division, keeping
    * every float op engine-exact.
    *
    * Scale shape: the mean pass and each GD round are ONE
    * partial-aggregatable `agg` over the cached feature frame
    * (buckets+1 integer sums — a driver-sized result, the index-build
    * action pattern of [[Similarity.fitCodebook]]); the feature
    * projection is in-row. Labels come from any column — the fastText
    * quality-classifier recipe distills a teacher signal (a rule, a
    * metadata flag) into a parametric content model.
    *
    * @return the model after `rounds` full-batch steps from zero init
    *         at learning rate `lr` (per-example average gradient) */
  def trainTextClassifier(df: DataFrame, textCol: String, labelCol: String,
      buckets: Int = 32, rounds: Int = 6, lr: Double = 0.2): TextClassifierModel = {
    require(buckets > 0 && rounds >= 0, "need buckets > 0 and rounds >= 0")
    val feats = df.select(col(labelCol).cast("int").as("y"),
      bowFeatures(col(textCol), buckets).as("xs")).cache()
    try {
      val n = feats.count()
      require(n > 0, "cannot train on an empty corpus")
      val sums = feats.agg(
        sum(element_at(col("xs"), 1).cast("long")).as("s0"),
        (1 until buckets).map(b =>
          sum(element_at(col("xs"), b + 1).cast("long")).as(s"s$b")): _*).head()
      val mu = Vector.tabulate(buckets)(b => sums.getLong(b).toDouble / n)
      var model = TextClassifierModel(0.0, Vector.fill(buckets)(0.0), mu)
      for (_ <- 0 until rounds) {
        // the margin walks the 32-bucket fold once per ROW (staged as
        // its own column), not once per gradient component
        val scored = feats.withColumn("__d",
          elliott(classifierMargin(col("xs"), model)) - col("y"))
        val aggs = (0 until buckets).map(b =>
          sum(round(col("__d") * (element_at(col("xs"), b + 1).cast("double")
            - mu(b)) * 1e6).cast("long")).as(s"g$b")) :+
          sum(round(col("__d") * 1e6).cast("long")).as("gz")
        val row = scored.agg(aggs.head, aggs.tail: _*).head()
        model = model.copy(
          bias = model.bias - lr * (row.getLong(buckets) / 1e6) / n,
          weights = Vector.tabulate(buckets)(b =>
            model.weights(b) - lr * (row.getLong(b) / 1e6) / n))
      }
      model
    } finally feats.unpersist(false)
  }

  /** Persist a trained classifier (bias at index -1; weights and means
    * by bucket index) — the train-once / score-everywhere split, same
    * idiom as [[Similarity.writeCodebook]]. */
  def writeClassifier(spark: org.apache.spark.sql.SparkSession,
      model: TextClassifierModel, path: String): Unit = {
    val rows = (-1, model.bias, 0.0) +:
      model.weights.indices.map(b => (b, model.weights(b), model.means(b)))
    spark.createDataFrame(rows).toDF("b", "w", "mu")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def readClassifier(spark: org.apache.spark.sql.SparkSession,
      path: String): TextClassifierModel = {
    val rows = ParquetDirs.read(spark, path).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    val (biasRows, wRows) = rows.partition(_._1 == -1)
    TextClassifierModel(biasRows.head._2,
      wRows.map(_._2).toVector, wRows.map(_._3).toVector)
  }

  /** Append the model's (rounded) sigmoid score to any frame — batch or
    * streaming (stateless: the model rides as plan literals, features
    * are one compiled kernel call per row). */
  def withClassifierScore(df: DataFrame, textCol: String,
      model: TextClassifierModel, as: String = "score"): DataFrame =
    df.withColumn("__xs", bowFeatures(col(textCol), model.weights.size))
      .withColumn(as,
        round(elliott(classifierMargin(col("__xs"), model)), 6))
      .drop("__xs")

  /** Score documents under a [[trainTextClassifier]] model: per doc the
    * (rounded) sigmoid score and the >= 0.5 prediction, with the label
    * alongside for evaluation. Shuffle-free in-row projections — the
    * model rides as plan literals, at any corpus size. */
  def scoreTextClassifier(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, model: TextClassifierModel): DataFrame =
    withClassifierScore(df, textCol, model)
      .select(col(idCol).as("id"), col(labelCol).cast("int").as("label"),
        col("score"))
      .withColumn("pred", col("score") >= 0.5)

  /** Segment-level corpus dedup (the RefinedWeb/FineWeb line-dedup rule
    * in fixed-width form — this corpus has no newlines, so a "line" is a
    * `segTokens`-token segment): any segment whose exact text occurs in
    * >= `minDocs` DISTINCT documents is removed from every document, and
    * the survivors are reassembled in order. Unlike [[substringSpans]]
    * (which only scores span duplication), this op performs the edit —
    * the output carries the cleaned text and its hash. Within-doc
    * repeats alone do not trigger removal (that is [[repetition]]'s
    * signal): the rule targets cross-document boilerplate.
    *
    * Scale shape: segments collapse to a (hash → distinct-doc count)
    * table (two partial-aggregatable groupBys keyed by the hash), the
    * removal join is keyed on the column both sides are aggregated by,
    * and reassembly is a doc-keyed sort_array over each doc's own
    * segments — bounded by document length, no cross-doc shuffle. The
    * operator makes TWO corpus passes (hash-count, then edit) — the
    * inherent structure of global substring dedup (Lee et al. 2022 pay
    * the same in the suffix-array build); a deployment amortizes pass
    * one by persisting the duplicate-hash table. */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 10, minDocs: Int = 2): DataFrame = {
    require(segTokens > 0 && minDocs >= 2,
      "need segTokens > 0 and minDocs >= 2")
    val ws = split(col(textCol), " ")
    val k = lit(segTokens)
    val segs = df.select(col(idCol).as("id"),
      posexplode(transform(
        sequence(lit(0), floor((size(ws) + segTokens - 1) / k).cast("int") - 1),
        i => array_join(slice(ws, i * k + 1, k), " "))).as(Seq("pos", "seg")))
      .withColumn("h", Dedup.hash60(col("seg")))
    val dup = segs.select("h", "id").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("h"), lit(true).as("dup"))
    segs.join(dup, Seq("h"), "left_outer")
      .groupBy("id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(col("dup").isNull,
            struct(col("pos"), col("seg"))))),
          s => s.getField("seg")), " ").as("text_clean"))
      .select(col("id"), col("n_segments"), col("n_removed"),
        md5(col("text_clean")).as("clean_hash"))
  }
}
