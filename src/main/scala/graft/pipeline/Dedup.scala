package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ScopedCache
import graft.model.ParquetDirs

/** Document deduplication operators for large-scale corpus curation:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * All hashing is `hash60` (first 60 bits of md5) so results are
  * reproducible across engines (the DuckDB oracle computes the identical
  * value); a production deployment would swap in `xxhash64` (cheaper,
  * same plan shape — one codegen'd expression per row).
  *
  * Scale notes (100 TB): every operator here is a groupBy/join on a
  * derived key — no driver-side state, no collect. The shingle joins are
  * the hot spot: `jaccardPairs` is quadratic in docs sharing a shingle, so
  * at scale (a) drop ultra-frequent shingles first (`maxShingleFreq`), and
  * (b) prefer `minhashPairs`, whose band buckets bound the join fan-out;
  * both shuffles are on hash keys and AQE handles residual skew.
  */
object Dedup {

  /** 60-bit cross-engine-stable hash (DuckDB:
    * `CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)`). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Exact dedup: one representative (min id) per distinct text. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct word k-shingles per document: (id, shingle). The shingling
    * kernel ([[graft.functions.TextExpressions.WordShingles]]) dedups
    * within the document, and each document is one input row, so the
    * output is globally distinct with no extra shuffle. */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.TextExpressions.wordShingles(col(textCol), k))
        .as("shingle"))

  /** Distinct hashed shingles per document: (id, h). Joining/intersecting
    * on 8-byte longs instead of k-word strings is the scale form — string
    * equality on shuffle keys costs length, longs cost 8 bytes. (60-bit
    * collisions are ~n²/2⁶¹ — negligible against corpus sizes where this
    * engine applies.) */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    // fused shingle+hash kernel: the explode carries longs, never the
    // shingle strings (same (id, h) rows as hash60-over-shingles)
    df.select(col(idCol).as("id"),
        explode(graft.functions.TextExpressions
          .shingleHash60s(col(textCol), k)).as("h"))

  /** In-row posting-list pair expansion — the ONE spine of every pair
    * operator here ([[jaccardPairs]], [[containmentPairs]],
    * [[winnowPairs]], the LSH candidate pass): group (key, id) rows into
    * per-key id arrays, drop hot keys (`cap` — the quadratic-blow-up
    * guard, a free `size(ids) <= cap` filter on the aggregated array),
    * and expand candidate pairs in-row (<= cap² rows per key) instead of
    * a corpus-scale hash self-join — two shuffles fewer than the join
    * form. `ordered = true` keeps both directions (containment);
    * otherwise id_a < id_b. Returns raw expanded pairs — callers
    * aggregate (co-occurrence counts) or distinct (LSH candidates). */
  private def postingPairs(src: DataFrame, keyCol: String,
      cap: Option[Int], ordered: Boolean = false): DataFrame = {
    val grouped = src.groupBy(keyCol).agg(collect_list(col("id")).as("ids"))
    val pruned = cap.fold(grouped)(c => grouped.where(size(col("ids")) <= c))
    pruned
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(if (ordered) col("id_a") =!= col("id_b")
        else col("id_a") < col("id_b"))
  }

  /** Exact n-gram Jaccard similarity pairs (id_a < id_b, jac >= threshold).
    * `maxShingleFreq` drops shingles shared by more than that many docs
    * before the self-join — the standard guard against quadratic blow-up
    * on boilerplate shingles (they contribute little to Jaccard anyway).
    * ON by default: an unbounded shingle self-join is a scale-killer (one
    * shingle shared by f docs fans out f² join rows); pass `None` only
    * for corpora known to be boilerplate-free. */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      maxShingleFreq: Option[Int] = Some(128)): DataFrame = {
    val inter = postingPairs(shingleHashes(df, idCol, textCol, k), "h",
        maxShingleFreq)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("c"))
    // the shingling kernel dedups within the document, so the per-doc
    // distinct-shingle count is just the array length — map-side, no
    // aggregation pass over the exploded rows
    val sizes = df.select(col(idCol).as("id"),
      size(graft.functions.TextExpressions.wordShingles(col(textCol), k)).as("n"))
    inter
      .join(sizes.withColumnRenamed("n", "na").withColumnRenamed("id", "id_a"), "id_a")
      .join(sizes.withColumnRenamed("n", "nb").withColumnRenamed("id", "id_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Candidate near-dup pairs via shared WINNOWING fingerprints — the
    * document-pair use Schleimer et al. 2003 built winnowing for
    * (plagiarism / shared-passage detection): pairs of documents sharing
    * >= `minShared` distinct selected fingerprints. Winnowing's
    * guarantee — any shared run of w+k−1 words shares a fingerprint —
    * makes this catch LONG LOCAL overlaps that whole-document Jaccard
    * dilutes away when the rest of the documents differ.
    *
    * Same capped posting-array shape as [[jaccardPairs]] (in-row pair
    * expansion per fingerprint, hot fingerprints dropped before any
    * fan-out), over a fingerprint set ~1/w the size of the shingle
    * set — proportionally cheaper at corpus scale.
    *
    * The default `minShared = 1` keeps the guarantee's minimal case (a
    * single shared w+k−1 run yields exactly one shared fingerprint);
    * raise it to demand longer/multiple overlaps when single-fingerprint
    * coincidences are too noisy for the corpus. */
  def winnowPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 1,
      maxFpFreq: Option[Int] = Some(128)): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    postingPairs(TextOps.winnow(df, idCol, textCol, k, w), "fingerprint",
        maxFpFreq)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Containment pairs — |A∩B| / |A| per ORDERED pair (a, b), kept when
    * it clears `threshold`: detects a document CONTAINED in another
    * (quotes, snippets, a page embedded in a crawl of its aggregator),
    * which symmetric Jaccard misses whenever the containing document is
    * much larger (J = |A|/|B| stays small while containment is ~1).
    * The asymmetric counterpart of [[jaccardPairs]] — Broder 1997's
    * second resemblance measure. Output: (id_a, id_b, containment)
    * with id_a the contained side; both directions of a pair can
    * qualify (near-identical docs contain each other).
    *
    * Same scale shape as [[jaccardPairs]]: posting-list arrays with the
    * hot-shingle cap, in-row candidate expansion, intersection counts
    * from one partial-aggregatable groupBy, map-side sizes. */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      maxShingleFreq: Option[Int] = Some(128)): DataFrame = {
    val inter = postingPairs(shingleHashes(df, idCol, textCol, k), "h",
        maxShingleFreq, ordered = true) // both directions kept
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("c"))
    val sizes = df.select(col(idCol).as("id"),
      size(graft.functions.TextExpressions.wordShingles(col(textCol), k)).as("n"))
    inter
      .join(sizes.withColumnRenamed("n", "na").withColumnRenamed("id", "id_a"), "id_a")
      .select(col("id_a"), col("id_b"),
        (col("c").cast("double") / col("na")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Modulus of the MinHash permutation family: the Mersenne prime 2³¹−1.
    * Affine products stay < 2⁶² so the identical BIGINT arithmetic runs in
    * both Spark and the DuckDB oracle without overflow. */
  val MinhashPrime = 2147483647L

  /** Deterministic affine-permutation parameters (aᵢ ∈ [1,M), bᵢ ∈ [0,M)),
    * from a fixed-seed LCG so Spark plans and generated oracle SQL agree. */
  def permParams(numPerm: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numPerm)(
      (rnd.nextInt(Int.MaxValue - 1).toLong + 1L, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature bands per document: (id, band, band_key).
    *
    * One md5-derived base hash per distinct shingle, then the classic
    * affine family hᵢ = (aᵢ·h + bᵢ) mod (2³¹−1). The signature is computed
    * as `numPerm` min-aggregate columns in a single groupBy — no per-perm
    * row explosion, one partial-aggregatable shuffle of |docs| skinny
    * rows regardless of corpus size. */
  /** Per-document MinHash signature computed IN-ROW: `(id, set,
    * m0..m{numPerm−1})` where `set` is the distinct-shingle hash array
    * and each mᵢ = min over the array of (aᵢ·(h mod M) + bᵢ) mod M.
    *
    * The scale point: the shingle array never leaves its row, so
    * signature construction is a pure codegen'd projection of the
    * document scan — ZERO shuffle at any corpus size. (The exploded
    * alternative — groupBy(id) with numPerm min-aggregates — shuffles
    * |docs × shingles| skinny rows; partial aggregation thins it, but at
    * 100 TB that exchange is still the dedup stack's dominant data
    * movement. Same arithmetic, so the DuckDB oracle is unchanged.)
    * Documents with fewer than k words have no shingles and are dropped,
    * exactly as they produce no rows in the exploded form. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      k: Int, numPerm: Int): DataFrame = {
    val params = permParams(numPerm)
    // both kernels ([[graft.functions.TextKernels.shingleHash60s]],
    // MinhashSig) are whole-stage-codegen: the previous composable form
    // (transform + array_min per perm) ran numPerm interpreted lambdas
    // per shingle — r14 measured it losing to the exploded groupBy it
    // was meant to replace; the kernel wins over both
    df.select(col(idCol).as("id"),
        graft.functions.TextExpressions
          .shingleHash60s(col(textCol), k).as("set"))
      .where(size(col("set")) > 0)
      .withColumn("__sig", graft.functions.TextExpressions
        .minhashSig(col("set"), params, MinhashPrime))
      .select(Seq(col("id"), col("set")) ++
        (0 until numPerm).map(i =>
          element_at(col("__sig"), i + 1).as(s"m$i")): _*)
  }

  /** Band structs `(band, band_key)` over a [[minhashSignature]] frame's
    * m-columns: band_key = comma-joined minima of the band's perms. */
  private def bandCols(numPerm: Int, bands: Int): Seq[Column] = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    val rowsPerBand = numPerm / bands
    (0 until bands).map { b =>
      val ks = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"m$i"))
      struct(lit(b).as("band"), concat_ws(",", ks: _*).as("band_key"))
    }
  }

  /** MinHash signature bands per document: (id, band, band_key) — the
    * persistable LSH index rows ([[dedupAgainstCorpus]]'s production
    * corpus-side input). In-row signature, so this is projection-only. */
  def minhashBands(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, numPerm: Int, bands: Int): DataFrame =
    minhashSignature(df, idCol, textCol, k, numPerm)
      .select(col("id"), explode(array(bandCols(numPerm, bands): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))

  /** MinHash+LSH near-dup pairs: band-bucket candidates, then exact
    * Jaccard verification (so output has no LSH false positives; recall
    * is governed by numPerm/bands vs threshold).
    *
    * Signature form: groupBy-over-exploded-shingles, NOT
    * [[minhashSignature]]'s in-row array algebra. Same arithmetic, but
    * min-aggregates are whole-stage-codegen'd while higher-order array
    * lambdas are interpreted (measured ~2× on the self-dedup entry), and
    * the exchange is harmless: a doc's exploded rows are co-partitioned
    * by construction, so partial aggregation collapses them to ONE row
    * per doc before any data moves. The in-row form wins where the
    * signature must be a pure projection — the corpus side of
    * [[dedupAgainstCorpus]] and the [[minhashBands]] index build. */
  /** Pair-set recall/precision: compare an APPROXIMATE near-dup pair
    * set (e.g. [[minhashPairs]]' LSH-verified pairs, or a SimHash
    * band's) against an exact baseline — the readout that makes a
    * candidate-generation index TRUSTABLE before trading the exact
    * pass away (the [[graft.pipeline.Similarity.recallAtK]] discipline
    * for dedup: tune bands/permutations against a measured recall, not
    * a hope). Both sides dedup on the unordered (id_a, id_b) key
    * first, so overlapping bands can't inflate a hit. Output: ONE row
    * (n_exact, n_approx, n_hit, precision, recall), ratios 6dp; with
    * an empty exact (or approx) side the corresponding ratio is null —
    * no baseline, no judgement — guarded EXPLICITLY rather than via
    * Spark's non-ANSI divide-by-zero-null, so the contract holds under
    * any session ANSI setting and mirrors can replay it with CASE WHEN
    * (DuckDB's float division would otherwise yield inf/nan here).
    *
    * Scale shape: both inputs are pair-sized (never corpus-sized); the
    * hit count is one equi-join of the two, and the three counts meet
    * through single-row cross joins. */
  def pairEval(approx: DataFrame, exact: DataFrame,
      idACol: String = "id_a", idBCol: String = "id_b"): DataFrame = {
    val a = approx.select(col(idACol), col(idBCol)).distinct()
    val e = exact.select(col(idACol), col(idBCol)).distinct()
    e.agg(count(lit(1)).as("n_exact"))
      .crossJoin(a.agg(count(lit(1)).as("n_approx")))
      .crossJoin(e.join(a, Seq(idACol, idBCol))
        .agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_approx"), col("n_hit"),
        when(col("n_approx") > 0,
          round(col("n_hit") / col("n_approx"), 6)).as("precision"),
        when(col("n_exact") > 0,
          round(col("n_hit") / col("n_exact"), 6)).as("recall"))
  }

  /** The LSH banding TUNING TABLE: [[pairEval]] of every (numPerm,
    * bands) config against ONE exact [[jaccardPairs]] baseline — a
    * (num_perm, bands, n_exact, n_approx, n_hit, precision, recall)
    * row per config, the artifact an operator reads to pick a banding
    * BEFORE trading the exact pass away at corpus scale.
    *
    * Same pair sets as running [[minhashPairs]]/[[jaccardPairs]] per
    * config, but the CORPUS IS SCANNED ONCE (the scope-cached
    * shingle-hash frame feeds the exact posting spine, every signature
    * build, and both verification sides; configs sharing a numPerm
    * share one cached signature frame) and — r15 — the BANDING IS ONE
    * PASS: every config's band keys are tagged and unioned into one
    * bucket groupBy + one in-row pair expansion, and each distinct
    * candidate pair is Jaccard-verified ONCE across configs (the
    * verification of a pair does not depend on which banding proposed
    * it). Per-config results are recovered by pair-sized semi-joins.
    * Measured 7.0 → ~5.0 s warm at sf0.1 for the one-scan form (r12);
    * the one-pass banding is wall-clock-neutral at sf0.1 (the suite is
    * per-job-overhead-bound there — r14 verdict) and drops 5 jobs /
    * one bucket exchange per extra config (`Probe entries`, r15), which is
    * the part that grows with corpus size.
    * `maxShingleFreq` caps the exact
    * spine only (the [[jaccardPairs]] parameter); LSH candidates stay
    * uncapped, as in [[minhashPairs]].
    *
    * Contiguous row-block banding makes the verified pair sets NEST at
    * fixed numPerm (a coarse band collides only if every constituent
    * finer band does), so the recall column is monotone in `bands`
    * down each numPerm group — the property that makes the table
    * readable as a dial. */
  def bandingSweep(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double, configs: Seq[(Int, Int)],
      maxShingleFreq: Option[Int] = Some(128)): DataFrame = {
    require(configs.nonEmpty, "need at least one (numPerm, bands) config")
    // ONE corpus scan: the per-doc shingle-hash ARRAY is cached; the
    // exact posting spine explodes it (cached arrays, not a re-shingle)
    // and each signature frame is an in-row kernel projection of it —
    // nothing re-reads the corpus and no signature groupBy shuffles
    // (r14, the minhashPairs/minhashSignature kernel form)
    val sets = ScopedCache.cache(df.select(col(idCol).as("id"),
        graft.functions.TextExpressions
          .shingleHash60s(col(textCol), k).as("set"))
      .where(size(col("set")) > 0))
    // exact sizes exactly as jaccardPairs derives them: the in-row
    // shingle-array length (hash-collision-proof), map-side
    val sizes = sets.select(col("id"), size(col("set")).as("n"))
    // pair-sized and consumed 2× per config by pairEval (hit join +
    // count) — cache or the posting spine re-runs once per consumer
    val exact = ScopedCache.cache(
      postingPairs(sets.select(col("id"), explode(col("set")).as("h")),
          "h", maxShingleFreq)
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
        .join(sizes.toDF("id_a", "na"), "id_a")
        .join(sizes.toDF("id_b", "nb"), "id_b")
        .where(col("c").cast("double") / (col("na") + col("nb") - col("c"))
          >= threshold)
        .select("id_a", "id_b"))
    // one signature frame per DISTINCT numPerm, shared by its bandings
    val sigByPerm = configs.map(_._1).distinct.map { np =>
      np -> ScopedCache.cache(sets
        .withColumn("__sig", graft.functions.TextExpressions
          .minhashSig(col("set"), permParams(np), MinhashPrime))
        .select(Seq(col("id"), col("set")) ++
          (0 until np).map(i =>
            element_at(col("__sig"), i + 1).as(s"m$i")): _*))
    }.toMap
    // ONE banding pass for every config (r15): the configs' band keys
    // are tagged with their config index and unioned into ONE bucket
    // groupBy + ONE in-row pair expansion (previously one
    // explode/groupBy/expand round per config), and each DISTINCT
    // candidate pair is verified ONCE across configs (the Jaccard
    // verification of a pair is config-independent at fixed threshold;
    // the four per-config set-array joins were the sweep's dominant
    // remaining cost). Per-config verified sets are recovered by a
    // pair-sized semi-join — identical sets by construction.
    val tagged = configs.zipWithIndex.map { case ((np, b), i) =>
      sigByPerm(np).select(col("id"),
          explode(array(bandCols(np, b): _*)).as("bk0"))
        .select(col("id"),
          struct(lit(i).as("cfg"), col("bk0").as("key")).as("bk"))
    }.reduce(_ unionByName _)
    val candByCfg = ScopedCache.cache(tagged
      .groupBy("bk").agg(collect_list(col("id")).as("ids"))
      .select(col("bk.cfg").as("cfg"), explode(col("ids")).as("id_a"),
        col("ids"))
      .select(col("cfg"), col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct())
    val verified = ScopedCache.cache(candByCfg
      .select("id_a", "id_b").distinct()
      .join(sets.select(col("id").as("id_a"), col("set").as("sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("sb")), "id_b")
      .where((size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb")))) >= threshold)
      .select("id_a", "id_b"))
    configs.zipWithIndex.map { case ((np, b), i) =>
      pairEval(candByCfg.where(col("cfg") === i)
        .select("id_a", "id_b").join(verified, Seq("id_a", "id_b")), exact)
        .select(lit(np).as("num_perm"), lit(b).as("bands"),
          col("n_exact"), col("n_approx"), col("n_hit"),
          col("precision"), col("recall"))
    }.reduce(_ unionByName _)
  }

  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numPerm: Int = 32, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    // the in-row kernel signature ([[minhashSignature]] — ZERO shuffle:
    // the shingle array never leaves its row), cached as one skinny row
    // per document for its three consumers (band explode, verification
    // sets ×2 sides). The previous form groupBy'd exploded shingle rows
    // — same arithmetic, but an exchange of |docs × shingles| rows that
    // at corpus scale was the dedup stack's dominant data movement
    // (r14: the codegen kernel removed the reason to explode at all).
    val sig = ScopedCache.cache(minhashSignature(df, idCol, textCol, k, numPerm))
    // bucket posting lists instead of a band self-join: one groupBy per
    // band bucket, candidate pairs expand in-row from each bucket's id
    // array (LSH buckets are small by design — that is the point of the
    // banding), then distinct across bands
    val cand = postingPairs(
        sig.select(col("id"),
          explode(array(bandCols(numPerm, bands): _*)).as("bk")),
        "bk", cap = None)
      .distinct()
    val sets = sig.select(col("id"), col("set"))
    cand
      .join(sets.select(col("id").as("id_a"), col("set").as("sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb")))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** 60-bit SimHash per document: majority vote per bit over word hashes
    * (ones*2 >= total → 1), computed IN-ROW by one compiled kernel call
    * ([[graft.functions.TextKernels.simhash60]]) — a pure projection of
    * the document scan, like [[minhashSignature]]. (The exploded
    * alternative — words × 60 skinny rows through two groupBys — is the
    * same arithmetic but 60× the map-side volume before partial
    * aggregation thins it; at corpus scale that explosion is pure
    * waste.) Null-text documents are dropped, as the exploded form
    * dropped them (explode of a null array emits no rows). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.TextExpressions.simhash60(col(textCol)).as("simhash"))

  /** SimHash near-duplicate pairs: hamming(simhashₐ, simhash_b) <= maxDist.
    *
    * LSH banding over the 60-bit fingerprint: split into `bands` equal
    * bit slices; by pigeonhole any pair within maxDist <= bands − 1
    * differing bits shares at least one identical slice, so candidates
    * come from a band-key equi-join — never an all-pairs join — and
    * recall is EXACT (unlike MinHash LSH's probabilistic recall).
    * Verification is one xor+popcount per candidate. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, bands: Int = 4): DataFrame = {
    require(maxDist < bands, s"exact recall needs maxDist < bands")
    require(60 % bands == 0, "bands must divide 60")
    val width = 60 / bands
    val mask = (1L << width) - 1
    val sh = simhash(df, idCol, textCol)
    val bandStructs = (0 until bands).map { i =>
      struct(lit(i).as("band"),
        expr(s"shiftright(simhash, ${i * width}) & $mask").as("bk"))
    }
    // bucket posting lists (see minhashPairs): pairs expand in-row from
    // each band bucket's member array, carrying both fingerprints for the
    // xor+popcount verification
    val buckets = sh.select(explode(array(bandStructs: _*)).as("x"),
        struct(col("id"), col("simhash")).as("m"))
      .groupBy(col("x")).agg(collect_list(col("m")).as("ms"))
    val cand = buckets
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
    cand.select(col("id_a"), col("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** Persist the SimHash fingerprint index: one (cid, simhash) row per
    * corpus document — 8 bytes of index per doc, written once at
    * curation time. Band keys are NOT materialized: they are a pure
    * in-row bit-slice of the fingerprint, re-derived at probe time
    * ([[simhashAgainstIndex]]) for whatever banding the probe uses —
    * one index serves every (maxDist, bands) policy, unlike the
    * MinHash index whose band keys depend on build parameters. */
  def writeSimhashIndex(corpus: DataFrame, path: String, idCol: String,
      textCol: String): Unit =
    StagedStore.sizedForWrite(simhash(corpus, idCol, textCol)
        .select(col("id").as("cid"), col("simhash").as("cs")))
      .write.mode("overwrite").parquet(s"$path/simhash")

  /** Incremental SimHash near-dup: each batch document checked against
    * a PERSISTED fingerprint index ([[writeSimhashIndex]]) for a
    * corpus fingerprint within `maxDist` bits — the SimHash face of
    * [[dedupAgainstIndex]], with [[simhashPairs]]' exact-recall
    * pigeonhole banding (maxDist < bands). The corpus text is never
    * re-read and the index is never shuffled: the batch's band keys
    * broadcast onto the index's in-row-derived band rows, so every
    * corpus participation is a broadcast probe on the index scan;
    * candidates verify with one xor+popcount; ties resolve to the MIN
    * corpus id and the reported hamming is recomputed from the chosen
    * pair's fingerprints (deterministic, mirror-replayable). Output:
    * one row per batch doc — (id, dup_of, hamming, status
    * "near"|"new"). */
  def simhashAgainstIndex(indexSh: DataFrame /* (cid, cs) */,
      batch: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, bands: Int = 4): DataFrame = {
    require(maxDist < bands, s"exact recall needs maxDist < bands")
    require(60 % bands == 0, "bands must divide 60")
    val width = 60 / bands
    val mask = (1L << width) - 1
    def bandRows(df: DataFrame, id: String, sh: String): DataFrame =
      df.select(col(id), posexplode(array((0 until bands).map(i =>
          expr(s"shiftright($sh, ${i * width}) & $mask")): _*))
        .as(Seq("band", "bk")))
    val bsh = ScopedCache.cache(simhash(batch, idCol, textCol))
    val cand = bandRows(indexSh, "cid", "cs")
      .join(broadcast(bandRows(bsh, "id", "simhash")
        .withColumnRenamed("id", "bid")), Seq("band", "bk"))
      .select("bid", "cid").distinct()
    // verify probes the INDEX side too (the candidate list is
    // batch-bounded and broadcast) — without the hint a corpus-sized
    // index above the auto-broadcast threshold would sort-merge-shuffle
    // here, exactly what this operator exists to avoid
    val near = indexSh
      .join(broadcast(cand.join(
        broadcast(bsh.select(col("id").as("bid"),
          col("simhash").as("bs"))), "bid")), "cid")
      .where(bit_count(col("bs").bitwiseXOR(col("cs"))) <= maxDist)
      .groupBy("bid").agg(min(col("cid")).as("dup_of"))
    // result assembly: batch-bounded frames broadcast, and the chosen
    // corpus fingerprints are fetched by one candidate-filtered probe
    // of the index (batch-sized — the corpus-sized index itself never
    // shuffles); the hamming of the CHOSEN pair recomputes from the
    // two fingerprints
    val chosen = indexSh
      .join(broadcast(near.select(col("dup_of").as("cid")).distinct()), "cid")
      .select(col("cid").as("dup_of"), col("cs"))
    bsh.select(col("id"), col("simhash").as("bs"))
      .join(broadcast(near.withColumnRenamed("bid", "id")), Seq("id"), "left")
      .join(broadcast(chosen), Seq("dup_of"), "left")
      .select(col("id"), col("dup_of"),
        when(col("dup_of").isNotNull,
          bit_count(col("bs").bitwiseXOR(col("cs")))).as("hamming"),
        when(col("dup_of").isNotNull, lit("near")).otherwise(lit("new"))
          .as("status"))
  }

  /** Connected components over near-duplicate pairs — the step that turns
    * pairwise similarity into a KEEP/DROP decision: every document in a
    * component gets the component's minimum id as `group_id`, so `id ==
    * group_id` marks the canonical representative and everything else is
    * a duplicate of it.
    *
    * Iterative min-label propagation to a fixpoint (each round: label ←
    * min(label, neighbours' labels); converges in ≤ component-diameter
    * rounds, capped by `maxIter`). This is the standard distributed CC
    * shape — every round is one equi-join + one partial-aggregatable
    * groupBy, no driver-side graph state; `localCheckpoint` truncates the
    * growing lineage each round. At 100 TB the alternating
    * large-star/small-star variant halves the round count, but the
    * per-round plan is identical.
    *
    * Input: pair frame with `id_a < id_b` columns (any near-dup operator
    * here). Output: (id, group_id) for every id appearing in a pair.
    *
    * Small-graph fast path: when the materialized edge list is under
    * `driverMaxEdges`, union-find runs on the driver in one pass — the
    * same bounded-collect principle as Spark's broadcast-join threshold
    * (the near-dup graph is typically orders smaller than the corpus;
    * 1M edges ≈ 16 MB). Larger graphs take the distributed rounds. */
  def dedupGroups(pairs: DataFrame, maxIter: Int = 50,
      driverMaxEdges: Long = 1000000L): DataFrame = {
    // materialize the edge list ONCE: every propagation round joins it,
    // and without this the (possibly expensive) upstream pair computation
    // would re-execute per round
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint()
    // the driver fast path reads ids as longs (and would also change the
    // output id type); any other id type — string doc keys, ints — takes
    // the distributed rounds, which are type-agnostic
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && edges.count() <= driverMaxEdges) return {
      // path-compressing union-find with min-id roots (iterative find —
      // no recursion-depth hazard on degenerate chains)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      val verts = scala.collection.mutable.HashSet.empty[Long]
      def find(x0: Long): Long = {
        var root = x0
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var y = x0
        while (parent.getOrElse(y, y) != y) { val next = parent(y); parent(y) = root; y = next }
        root
      }
      edges.select(col("src"), col("dst")).collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        verts += a; verts += b
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      verts.toSeq.sorted.map(id => (id, find(id)))
        .toDF("id", "group_id")
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nl")).as("nbr"))
      val propagated = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
      // pointer jump: label ← label(label). Labels only decrease, so the
      // shortcut is safe, and composing it with the neighbour step makes
      // label chains halve per round — O(log diameter) rounds instead of
      // O(diameter) on long chain-shaped components
      val updated = propagated
        .join(propagated.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"), col("prev"),
          coalesce(col("ll"), col("label")).as("label"))
        .localCheckpoint()
      // the convergence probe reads the checkpointed blocks — no recompute
      changed = updated.where(col("label") =!= col("prev")).count()
      labels = updated.select(col("id"), col("label"))
      iter += 1
    }
    labels.select(col("id"), col("label").as("group_id"))
  }

  /** Incremental (batch-vs-corpus) dedup — the continuous-ingest form of
    * near-dup removal: flag each document of an incoming `batch` that
    * duplicates the EXISTING `corpus`, without ever comparing corpus docs
    * to each other (that pass already ran when the corpus was curated).
    *
    * Output, one row per batch document:
    * `(id, exact_dup_of, near_dup_of, status)` where `exact_dup_of` is the
    * minimum corpus id with byte-identical text, `near_dup_of` the minimum
    * corpus id whose exact n-gram Jaccard clears `threshold` among
    * MinHash-LSH band candidates, and `status` one of
    * `'exact' | 'near' | 'new'` (exact wins when both fire).
    *
    * Scale shape (the point of the operator): the corpus side — the 100 TB
    * side — is NEVER shuffled at corpus size. Signatures are in-row
    * projections ([[minhashSignature]]), the batch's content hashes, band
    * keys and shingle-hash sets all broadcast (an ingest batch is bounded
    * by design), so every corpus participation is a broadcast-hash-join
    * probe on its own scan:
    *   - exact:      corpus md5 ⋈_bcast batch md5
    *   - candidates + verify: corpus (band key, set) rows ⋈_bcast batch
    *     band keys — only band-matched rows survive, so the downstream
    *     pair-dedup, set-Jaccard and min-reduction are candidate-sized
    * In production the corpus band keys are persisted at curation time
    * ([[writeCorpusIndex]]) and each batch probes the index parquet
    * ([[dedupAgainstIndex]] — the corpus text is never re-read);
    * recomputing them here keeps the one-shot form self-contained. */
  def dedupAgainstCorpus(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numPerm: Int = 32, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    // the corpus signature is an IN-ROW projection of the corpus scan
    // (minhashSignature — no shuffle), and its band rows carry the
    // verification set along, so candidate discovery AND verification
    // need this single corpus pass: scan → project → broadcast-probe.
    val ch = corpus.select(col(idCol).as("cid"), md5(col(textCol)).as("th"))
    val cbands = minhashSignature(corpus, idCol, textCol, k, numPerm)
      .select(col("id").as("cid"), col("set").as("cset"),
        explode(array(bandCols(numPerm, bands): _*)).as("bk"))
    probeCorpusSide(ch, cbands, batch, idCol, textCol, k, numPerm, bands,
      threshold)
  }

  /** Persist the curation-time corpus dedup index at `path`: `hashes` =
    * (cid, th) content hashes, `bands` = (cid, band, band_key, cset)
    * LSH band rows carrying each document's verification set. Both are
    * in-row projections of ONE corpus scan each (no shuffle) — the
    * write that turns [[dedupAgainstIndex]]'s probe input into an index
    * READ, so continuous ingest never touches the corpus text again.
    * The band rows carry the set (×bands storage) precisely so the
    * probe needs no second corpus-keyed join at query time. */
  def writeCorpusIndex(corpus: DataFrame, path: String, idCol: String,
      textCol: String, k: Int = 3, numPerm: Int = 32,
      bands: Int = 8): Unit = {
    val (hashes, bandRows) =
      corpusIndexFrames(corpus, idCol, textCol, k, numPerm, bands)
    StagedStore.sizedForWrite(hashes)
      .write.mode("overwrite").parquet(s"$path/hashes")
    StagedStore.sizedForWrite(bandRows)
      .write.mode("overwrite").parquet(s"$path/bands")
  }

  /** The corpus index's two projection frames — ONE definition shared
    * by [[writeCorpusIndex]] (full build), [[appendCorpusIndex]] (the
    * lifecycle append) and [[graft.pipeline.CorpusStore]]'s per-batch
    * partitions, so an appended batch's index rows are bit-identical
    * to what a full rewrite would have produced for the same documents
    * (append+probe == rewrite+probe, spec-pinned). Both are in-row
    * projections of one corpus scan each: no shuffle, batch-sized when
    * the input is a batch. */
  private[pipeline] def corpusIndexFrames(corpus: DataFrame, idCol: String,
      textCol: String, k: Int, numPerm: Int,
      bands: Int): (DataFrame, DataFrame) = (
    corpus.select(col(idCol).as("cid"), md5(col(textCol)).as("th")),
    minhashSignature(corpus, idCol, textCol, k, numPerm)
      .select(col("id").as("cid"), col("set").as("cset"),
        explode(array(bandCols(numPerm, bands): _*)).as("bk"))
      .select(col("cid"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"), col("cset")))

  /** Append `accepted` documents' rows to an EXISTING
    * [[writeCorpusIndex]] index at `path` — the index-maintenance half
    * of accepting a batch into the corpus: without it the index serves
    * only the curation-time corpus and silently under-matches from the
    * first accepted batch onward (the reference registers new series
    * on FIRST WRITE — standalone_database_session.cc:39-87 — never
    * only at save time). Same in-row projections as the full build
    * ([[corpusIndexFrames]]), append mode: cost is accepted-batch-
    * sized, never corpus-sized. `k`/`numPerm`/`bands` MUST equal the
    * index build's — a mismatched append poisons the index with
    * incomparable band keys; this bare form checks what parquet can
    * check (the existing index's schema), and
    * [[graft.pipeline.CorpusStore]] is the fully-checked form, with
    * the recipe registered in an index-catalog manifest and appends
    * validated against it. */
  def appendCorpusIndex(accepted: DataFrame, path: String, idCol: String,
      textCol: String, k: Int = 3, numPerm: Int = 32,
      bands: Int = 8): Unit = {
    val spark = accepted.sparkSession
    val (hashes, bandRows) =
      corpusIndexFrames(accepted, idCol, textCol, k, numPerm, bands)
    // loud structural guard: appending to a non-index, the two
    // directories swapped, OR a CorpusStore's __batch-PARTITIONED
    // layout (whose appends must go through the store so the batch
    // identity is kept — flat rows at the root of a partitioned
    // directory are unreadable) must fail here, not corrupt silently.
    // EXACT column-set equality, not subset: extra existing columns
    // mean a different layout
    Seq("hashes" -> hashes, "bands" -> bandRows).foreach { case (sub, df) =>
      val existing = ParquetDirs.read(spark, s"$path/$sub")
      require(df.columns.toSet == existing.columns.toSet,
        s"appendCorpusIndex: $path/$sub does not have the FLAT " +
          s"corpus-index schema (existing: " +
          s"${existing.columns.mkString(", ")}; appending: " +
          s"${df.columns.mkString(", ")}) — a partitioned CorpusStore " +
          s"index appends through CorpusStore.acceptBatch")
      StagedStore.sizedForWrite(df).write.mode("append").parquet(s"$path/$sub")
    }
  }

  /** [[dedupAgainstCorpus]] probing a PERSISTED [[writeCorpusIndex]]
    * index instead of recomputing corpus signatures per call — the
    * production shape for continuous ingest: band keys and content
    * hashes are written once at curation time; each arriving batch
    * broadcast-probes the index parquet and the corpus text is never
    * re-read (PlanShapeSpec pins that the only file scans are the index
    * paths). `k`/`numPerm`/`bands` must match the index build. */
  def dedupAgainstIndex(corpusHashes: DataFrame, corpusBands: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numPerm: Int = 32, bands: Int = 8,
      threshold: Double = 0.8): DataFrame =
    probeCorpusSide(
      corpusHashes.select(col("cid"), col("th")),
      corpusBands.select(col("cid"), col("cset"),
        struct(col("band").as("band"), col("band_key").as("band_key"))
          .as("bk")),
      batch, idCol, textCol, k, numPerm, bands, threshold)

  /** The ONE incremental-dedup probe ([[dedupAgainstCorpus]] and
    * [[dedupAgainstIndex]] differ only in where the corpus-side frames
    * come from — a live scan or a persisted index). The corpus side is
    * NEVER shuffled: the batch's content hashes, band keys and shingle
    * sets all broadcast (an ingest batch is bounded by design), so every
    * corpus participation is a broadcast-hash-join probe on its own
    * scan. Only band-matched rows survive, so everything downstream (the
    * (bid, cid) dedup, Jaccard, min-reduction) is candidate-sized. */
  private def probeCorpusSide(
      corpusHashes: DataFrame /* (cid, th) */,
      corpusBandRows: DataFrame /* (cid, cset, bk) */,
      batch: DataFrame, idCol: String, textCol: String,
      k: Int, numPerm: Int, bands: Int, threshold: Double): DataFrame = {
    // exact: min corpus id per batch content hash
    val bh = batch.select(col(idCol).as("id"), md5(col(textCol)).as("th"))
    val exactDup = corpusHashes.join(broadcast(bh), "th")
      .groupBy("id").agg(min(col("cid")).as("exact_dup_of"))
    // the batch signature (bounded by design) feeds two consumers — its
    // band keys and its verification sets, both broadcast — so cache the
    // skinny per-doc frame once
    val bsig = ScopedCache.cache(minhashSignature(batch, idCol, textCol, k, numPerm))
    val bb = bsig.select(col("id").as("bid"),
      explode(array(bandCols(numPerm, bands): _*)).as("bk"))
    val cand = corpusBandRows.join(broadcast(bb), "bk")
      .groupBy("bid", "cid").agg(first(col("cset")).as("cset"))
    // exact-Jaccard verify on the signature sets: |A∩B| / |A∪B| over the
    // distinct-shingle hash arrays (≡ c/(na+nb−c), the oracle's form)
    val nearDup = cand
      .join(broadcast(bsig.select(col("id").as("bid"), col("set").as("bset"))),
        "bid")
      .where(size(array_intersect(col("bset"), col("cset"))).cast("double") /
        size(array_union(col("bset"), col("cset"))) >= threshold)
      .groupBy(col("bid").as("id")).agg(min(col("cid")).as("near_dup_of"))
    // result assembly: both dup maps are batch-bounded — broadcast them
    // so the assembly never shuffles either
    batch.select(col(idCol).as("id"))
      .join(broadcast(exactDup), Seq("id"), "left")
      .join(broadcast(nearDup), Seq("id"), "left")
      .select(col("id"), col("exact_dup_of"), col("near_dup_of"),
        when(col("exact_dup_of").isNotNull, lit("exact"))
          .when(col("near_dup_of").isNotNull, lit("near"))
          .otherwise(lit("new")).as("status"))
  }

  /** Embedding near-duplicate pairs, SRP-bucketed — the scale path:
    * cosine >= threshold among candidates sharing a sign-random-projection
    * bucket ([[Similarity.srpBucket]]). Candidates come from a bucket-key
    * equi-join — never an all-pairs join — and verification is one
    * codegen'd cosine per candidate.
    *
    * RECALL < 1: pairs whose embeddings land in different buckets are
    * missed (at sf0.001, 2 of the 14 exact pairs survive `bits = 6`);
    * lower `bits` → bigger buckets → higher recall at higher join cost.
    * The name carries the trade so call sites opt in explicitly;
    * [[embeddingDupPairsExact]] is the full-recall quadratic baseline. */
  def embeddingDupPairsBucketed(
      df: DataFrame, idCol: String, embCol: String,
      threshold: Double, bits: Int = 6): DataFrame = {
    val e = df.select(col(idCol).as("id"), col(embCol).as("e"),
      Similarity.srpBucket(col(embCol), bits).as("bucket"))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Similarity.cosine(col("a.e"), col("b.e")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Exact (full-recall) embedding near-dup pairs — the quadratic
    * brute-force baseline the bucketed form is verified against. The
    * `id_a < id_b` non-equi join plans as BroadcastNestedLoop: fine for
    * oracle-scale corpora, a deliberate non-option at 100 TB. */
  def embeddingDupPairsExact(
      df: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(embCol).as("ea"))
    val b = df.select(col(idCol).as("id_b"), col(embCol).as("eb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("ea"), col("eb")).as("cos"))
      .where(col("cos") >= threshold)
  }
}
