package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ScopedCache
import graft.model.ParquetDirs

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exact baseline; the scale path buckets
  * vectors by sign-random-projection (SRP) so the candidate join touches
  * only same-bucket vectors. Everything is column expressions (whole-stage
  * codegen) — no UDFs, no driver-side math.
  *
  * Scale notes (100 TB): brute-force is a broadcast of the *query* set
  * (small) against a full scan of the corpus — one pass, no shuffle, then
  * a top-k per query (partial top-k map-side via the window over qid).
  * SRP-bucketed ANN turns that scan into a bucket-key equi-join; recall is
  * tuned by `bits` (fewer bits → bigger buckets → higher recall/cost). An
  * IVF variant would replace the bucket key with nearest-centroid ids from
  * a broadcast k-means codebook — same join shape.
  */
object Similarity {

  /** Ceiling on the codebook size the in-row assignment kernel
    * ([[graft.functions.VectorExpressions.VecNearestCells]]) accepts —
    * generous for fitted codebooks (tens to a few hundred cells) while
    * refusing the regime where O(nlist · dim) per-row work per
    * assignment pass stops being the right plan: a corpus needing that
    * many cells should serve from a persisted cell-partitioned index
    * ([[graft.pipeline.EmbeddingStore]]), not recompute assignments
    * per statement. */
  val MaxInRowProbeCenters = 1024

  /** Elementwise dot product in double precision — a native codegen'd
    * Catalyst expression ([[graft.functions.VectorExpressions.VecDot]]);
    * sequential fold order, bit-identical to the oracle's list arithmetic. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-pass cosine (same IEEE op sequence as dot/(‖a‖‖b‖)). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecCosine(a, b)

  /** Exact top-k cosine neighbors for each query vector.
    * @param corpus (id, embedding) — the searched set
    * @param queries (qid, embedding) — small; broadcast
    * @return (qid, id, rank, cos) with rank 1..k, self-matches excluded */
  def knnBrute(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "id", qidCol: String = "qid",
      embCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(embCol).as("ce"))
    val q = queries.select(col(qidCol).as("qid"), col(embCol).as("qe"))
    val scored = c.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("id"), cosine(col("qe"), col("ce")).as("cos"))
    topK(scored, k)
  }

  /** Sign-random-projection bucket: bit i = sign(embedding[i]) for the
    * first `bits` dims (a fixed axis-aligned projection — deterministic
    * and oracle-reproducible; random hyperplanes would broadcast a
    * plane matrix and fold dot-product signs the same way). Codegen'd
    * ([[graft.functions.VectorExpressions.VecSrpBucket]]) — the previous
    * `aggregate(sequence(...))` form ran as an interpreted HOF per row. */
  def srpBucket(emb: Column, bits: Int): Column =
    graft.functions.VectorExpressions.vecSrpBucket(emb, bits)

  /** ANN top-k restricted to the query's SRP bucket. Same output shape as
    * [[knnBrute]]; vectors in other buckets are never scored (recall<1).
    * The zero-flip case of [[knnMultiprobe]] — one probe path for both. */
  def knnBucketed(
      corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 6,
      idCol: String = "id", qidCol: String = "qid",
      embCol: String = "embedding"): DataFrame =
    knnSrp(corpus, queries, k, bits, Seq(0L), idCol, qidCol, embCol)

  /** Multi-probe variant of [[knnBucketed]] (Lv et al. 2007,
    * "Multi-Probe LSH"): each query probes its own SRP bucket plus every
    * bucket at Hamming distance 1 (one sign bit flipped) — the standard
    * recall/cost lever: the scored fraction grows to ~(bits+1)/2^bits of
    * the corpus while recall approaches brute force (a near neighbor on
    * the far side of ONE projection boundary is found; [[knnBucketed]]
    * misses it). The probe fan-out is QUERY-side only (bits+1 broadcast
    * rows per query); each corpus vector keeps exactly one bucket, so
    * probe buckets partition the corpus and no pair dedup is needed. */
  def knnMultiprobe(
      corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 6,
      idCol: String = "id", qidCol: String = "qid",
      embCol: String = "embedding"): DataFrame =
    knnSrp(corpus, queries, k, bits,
      0L +: (0 until bits).map(j => 1L << j), idCol, qidCol, embCol)

  /** The one SRP probe path behind [[knnBucketed]] and [[knnMultiprobe]]:
    * corpus keyed by its single bucket; queries expanded over
    * `probeFlips` (bucket XOR flip — {0} = single probe); broadcast
    * bucket equi-join, self-exclusion, cosine top-k. */
  private def knnSrp(
      corpus: DataFrame, queries: DataFrame, k: Int, bits: Int,
      probeFlips: Seq[Long], idCol: String, qidCol: String,
      embCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(embCol).as("ce"),
      srpBucket(col(embCol), bits).as("bucket"))
    val flips = array(probeFlips.map(lit): _*)
    val q = queries.select(col(qidCol).as("qid"), col(embCol).as("qe"),
        srpBucket(col(embCol), bits).as("__b0"))
      .withColumn("__flip", explode(flips))
      .withColumn("bucket", col("__b0").bitwiseXOR(col("__flip")))
      .drop("__b0", "__flip")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), cosine(col("qe"), col("ce")).as("cos"))
    topK(scored, k)
  }

  /** Deterministic Lloyd's k-means codebook: init = the `nlist` vectors
    * with the SMALLEST `hash60(id)` (ties to lower id), then `iters`
    * rounds of (argmin assignment, per-cell element-wise mean). The
    * hash-minimal seed is a uniform random draw from the corpus that is
    * still fully deterministic and SQL-replayable — unlike lowest-id
    * seeding, which inherits whatever spatial correlation id assignment
    * carries (ingest order, shard order) and can seed every center in
    * one corner of the space, costing IVF recall at scale. Centroid
    * coordinates are rounded to 6 decimals after each round so the
    * result is independent of partial-aggregation order — the whole fit
    * replays bit-identically in plain SQL, which is what lets the IVF
    * entry be oracle-checked. A cell that loses all members simply
    * drops out (symmetric in the oracle).
    *
    * Each round is one in-row assignment map ([[cellsFor]]'s codegen
    * kernel — no shuffle ever carries a vector) + one partial-aggregated
    * (cell, dim) mean — at 100 TB this is the standard distributed
    * k-means cost, paid once at index-build time.
    */
  def fitCodebook(
      corpus: DataFrame, nlist: Int, iters: Int,
      idCol: String = "id", embCol: String = "embedding"): Seq[(Int, Seq[Double])] = {
    import org.apache.spark.sql.expressions.Window
    val spark = corpus.sparkSession
    // cached for the fit: every iteration (and the init) re-reads this
    // projection; at corpus scale persist it once instead of re-scanning
    // and re-casting the raw table per Lloyd round
    val e = corpus.select(col(idCol).as("id"),
      col(embCol).cast("array<double>").as("v")).cache()
    var centers: Seq[(Int, Seq[Double])] =
      e.select(col("id"), col("v"),
          graft.pipeline.Dedup.hash60(col("id").cast("string")).as("__hk"))
        .orderBy("__hk", "id").limit(nlist).collect().zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
    try for (_ <- 0 until iters) {
      // in-row argmin over plan-literal centers (cellsFor): the round's
      // assignment is a pure map — only the partial-aggregated
      // (cell, pos) means reach the exchange, never a vector. The
      // (cell, pos, m) result is nlist × dim rows (codebook-sized), so
      // it collects directly and assembles per-cell vectors on the
      // driver — the previous second groupBy (collect_list per cell)
      // paid one more exchange per Lloyd round for rows this small.
      // Numerically identical: the mean aggregation is unchanged
      val assigned = cellsFor(centers, e, "id", "v", 1)
      centers = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(round(avg(col("x")), 6).as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).map { case (c, rows) =>
          (c, rows.sortBy(_._2).map(_._3).toSeq)
        }.toSeq.sortBy(_._1)
    } finally e.unpersist()
    centers
  }

  /** Squared L2 via the x·x + c·c − 2·x·c expansion — three sequential-fold
    * [[dot]] calls, so the value is bit-identical to the oracle's
    * list-arithmetic replay of the same expansion. */
  private def sqDist(a: Column, b: Column): Column =
    dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)

  /** IVF (inverted-file) ANN: the [[fitCodebook]] cells partition the
    * corpus; each query probes its `nprobe` nearest centroids and scores
    * only those cells. Unlike SRP buckets the cells adapt to the data
    * distribution, which is the standard recall/cost improvement at
    * corpus scale.
    *
    * Plan shape: codebook is tiny (nlist × dim literals, broadcast) →
    * cell assignment is a broadcast map over the corpus (one pass) →
    * candidate generation is a cell-key equi-join → same top-k as the
    * exact variant. At 100 TB the corpus pass is the only full scan, and
    * it happens once at index-build time (persist the cell column;
    * queries touch nprobe/nlist of the data).
    */
  def knnIvf(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 2, iters: Int = 2,
      idCol: String = "id", qidCol: String = "qid",
      embCol: String = "embedding"): DataFrame =
    knnIvfWith(fitCodebook(corpus, nlist, iters, idCol, embCol),
      corpus, queries, k, nprobe, idCol, qidCol, embCol)

  /** Per-cell distance outliers: each IVF cell's `k` members FARTHEST
    * from their centroid — the least cluster-typical examples, surfaced
    * for triage. SemDeDup's complement: that operator drops the most
    * typical of each near-dup pair; this one lists what no cluster
    * explains (mislabeled/garbage embedding candidates). Ranking is on
    * the ROUNDED distance (desc, ties to lower id) so the cut is
    * cross-engine deterministic; assignment uses the raw distance like
    * every cell assignment here.
    *
    * Plan shape: broadcast centers → one corpus pass for assignment →
    * per-cell top-k window (WindowGroupLimit: k rows per cell per map
    * task before the exchange). */
  def cellOutliers(centers: Seq[(Int, Seq[Double])], corpus: DataFrame,
      k: Int, idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "k must be positive")
    // the ONE shared assignment path (cellsFor) keeps the distance and
    // tie-break identical to knnIvf/SemDeDup and the shared oracle CTEs
    val asg = cellsFor(centers,
        corpus.select(col(idCol).as("id"), col(embCol).as("__v")),
        "id", "__v", 1, keepDist = true)
      .select(col("cell"), col("id"), round(col("__d"), 6).as("dist"))
    val wo = Window.partitionBy("cell").orderBy(col("dist").desc, col("id"))
    asg.withColumn("rank", row_number().over(wo)).where(col("rank") <= k)
      .select(col("cell"), col("rank"), col("id"), col("dist"))
  }

  /** Recall@k of an ANN result against the exact top-k (both as
    * (qid, id, …) frames): per query, the fraction of the exact
    * neighbors the approximate index found — the readout that makes an
    * ANN index TRUSTABLE (tune nprobe/buckets against it before
    * trading the brute scan away; an index without a recall number is
    * a guess). Pure relational — a left join on the exact side and a
    * per-qid count — so any engine replays it over the two pipelines'
    * mirrors. Queries missing from `approx` entirely score 0; `approx`
    * is deduped on (qid, id) first, so an ANN variant with overlapping
    * probe buckets can't fan the join out and report recall > 1. The
    * denominator is each query's ACTUAL exact-neighbor count — "k" is
    * whatever cut the caller's `exact` frame carries (the usual exact
    * top-k), so when the exact side yields fewer than k neighbors
    * (corpus smaller than k, filtered query sets), a perfect index
    * still reads recall 1 instead of being capped at n/k. There is
    * deliberately no k parameter: it would not affect the result, and
    * a dead parameter misleads callers about what is measured. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    exact.select(col("qid"), col("id"))
      .join(approx.select(col("qid"), col("id")).distinct()
        .withColumn("__hit", lit(1)), Seq("qid", "id"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("__hit"), lit(0))).as("n_hit"),
        count(lit(1)).as("__n"))
      .select(col("qid"), col("n_hit"),
        round(col("n_hit") / col("__n"), 6).as("recall"))
  }

  /** kNN weak labeling / label propagation: each query takes the
    * MAJORITY label of its `k` nearest labeled seeds by cosine — the
    * bootstrap move that turns a small hand-labeled seed set into
    * corpus-scale labels (quality tiers, domains, toxicity) without a
    * trained model. Rides [[knnBrute]], so the neighbor tie rules
    * (cosine desc, id asc) are the oracle-pinned ones; the vote half
    * is the shared [[labelVotes]] (most votes wins, count ties to the
    * SMALLEST label). Output: (qid, label, votes).
    *
    * Scale shape: this form broadcasts the QUERY side ([[knnBrute]]) —
    * right when the query batch is the small side (label a fresh batch
    * from a large settled seed pool). For the other direction — a
    * corpus-sized query side labeled from a SMALL seed set — use
    * [[knnLabelIvf]], which broadcasts only the seeds. */
  def knnLabel(seeds: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "id", qidCol: String = "qid",
      embCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val labeledSeeds = labeledOnly(seeds, labelCol)
    labelVotes(labeledSeeds,
      knnBrute(labeledSeeds, queries, k, idCol, qidCol, embCol),
      idCol, labelCol)
  }

  /** The majority-vote tail of kNN labeling as a public op over ANY
    * (qid, id)-shaped neighbor frame — compose it with whichever
    * neighbor search fits the scale ([[knnBrute]], [[knnBucketed]],
    * [[knnIvfWith]], [[knnSeedProbe]], or a persisted neighbor table).
    * Per qid: join the neighbors' labels, count votes per label, most
    * votes wins, count ties to the SMALLEST label. Output:
    * (qid, label, votes).
    *
    * Scale shape: the seed-label table is the small hand-labeled side
    * by construction, so it BROADCASTS onto the neighbor frame (never
    * the reverse — a corpus-sized nn frame is left partitioned); the
    * vote groupBy and the winner window both key on qid, one shuffle
    * of (qid, label)-sized rows. Null-labeled seeds are dropped here
    * too, so a pre-filtered caller and a raw one vote identically. */
  def labelVotes(seedLabels: DataFrame, nn: DataFrame,
      idCol: String = "id", labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = nn.select(col("qid"), col("id"))
      .join(broadcast(labeledOnly(seedLabels, labelCol)
        .select(col(idCol).as("id"), col(labelCol).as("label"))), "id")
    val votes = labeled.groupBy("qid", "label")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("qid").orderBy(col("votes").desc, col("label"))
    votes.withColumn("__r", row_number().over(w)).where(col("__r") === 1)
      .select(col("qid"), col("label"), col("votes"))
  }

  // a seed without a label isn't a labeled seed — and a NULL that
  // survived to the vote would win ties under Spark's asc-NULLS-FIRST
  // while a SQL mirror's default NULLS LAST picks the real label
  private def labeledOnly(seeds: DataFrame, labelCol: String): DataFrame =
    seeds.where(col(labelCol).isNotNull)

  /** IVF kNN oriented for a CORPUS-SIZED query side against a SMALL
    * searched set (the seeds): the seed set and its cell assignment
    * broadcast; each query row computes its `nprobe` nearest centroids
    * IN-ROW (the centers are plan literals — no per-qid window, so no
    * shuffle ever carries a query vector) and meets the seeds through a
    * broadcast cell equi-join. Only (qid, id, cos) rows reach the top-k
    * shuffle. Same candidate rule and tie-breaks as [[knnIvfWith]]
    * (assignment: distance then cell; top-k: cosine desc then id), so
    * the two orientations agree wherever both apply — which side
    * broadcasts is a plan choice, never a semantics choice.
    *
    * nlist ceiling: the in-row probe builds an O(nlist) array of
    * (distance, cell) structs per query row from PLAN-LITERAL centers
    * — right for seed-fitted codebooks (nlist ≤ a few hundred), but at
    * nlist ~10⁴ the literal plan and its codegen would degrade
    * silently, so centers.size > [[MaxInRowProbeCenters]] fails
    * LOUDLY here. There is deliberately no auto-fallback: the
    * alternative assignment ([[cellsFor]]'s window) shuffles query
    * rows WITH their vectors, which would silently break this
    * orientation's no-vector-shuffle contract — a corpus needing that
    * many cells should use the [[knnIvfWith]] orientation, where the
    * corpus side is the partitioned one by design. */
  def knnSeedProbe(
      centers: Seq[(Int, Seq[Double])],
      seeds: DataFrame, queries: DataFrame, k: Int, nprobe: Int = 2,
      idCol: String = "id", qidCol: String = "qid",
      embCol: String = "embedding"): DataFrame = {
    require(nprobe > 0, "nprobe must be positive")
    require(centers.size <= MaxInRowProbeCenters,
      s"knnSeedProbe inlines centers as plan literals and probes them " +
        s"in-row per query row; ${centers.size} centers exceeds the " +
        s"$MaxInRowProbeCenters ceiling — use the knnIvfWith orientation " +
        s"for large codebooks")
    // no centers (an empty or all-null-labeled seed set) degrades to an
    // empty result like every other kNN path — a zero-arg array() of
    // probe structs would otherwise fail ANALYSIS as an unextractable
    // string-typed array
    if (centers.isEmpty)
      return topK(queries.limit(0).select(col(qidCol).as("qid"))
        .crossJoin(seeds.limit(0).select(col(idCol).as("id")))
        .withColumn("cos", lit(0.0)), k)
    val s = cellsFor(centers,
      seeds.select(col(idCol).as("id"), col(embCol).as("ce")), "id", "ce", 1)
    // in-row probe assignment ([[probeCellsInRow]]): map-side only
    val q = probeCellsInRow(centers, queries, qidCol, embCol, nprobe)
    val scored = q.join(broadcast(s), Seq("cell"))
      .where(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), cosine(col("qe"), col("ce")).as("cos"))
    topK(scored, k)
  }

  /** Corpus-scale kNN weak labeling: [[knnSeedProbe]] + [[labelVotes]]
    * — the direction that turns a small hand-labeled seed set into
    * labels for the WHOLE corpus. The codebook fits on the labeled
    * seeds (tiny — driver-side Lloyd, [[fitCodebook]]), the seeds and
    * their cells broadcast, and the corpus streams through: probe
    * cells in-row, broadcast cell join, top-k of (qid, id, cos) rows,
    * broadcast label join, qid-keyed vote. No corpus-sized frame is
    * ever broadcast and no shuffle carries a corpus vector
    * (plan-pinned). Recall follows the IVF geometry — measure it with
    * [[recallAtK]] against [[knnLabel]] on a sample before trusting
    * the labels, exactly as with any ANN index. */
  def knnLabelIvf(seeds: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 2, iters: Int = 2,
      idCol: String = "id", qidCol: String = "qid",
      embCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val labeledSeeds = labeledOnly(seeds, labelCol)
    val centers = fitCodebook(labeledSeeds, nlist, iters, idCol, embCol)
    labelVotes(labeledSeeds,
      knnSeedProbe(centers, labeledSeeds, queries, k, nprobe,
        idCol, qidCol, embCol),
      idCol, labelCol)
  }

  /** Cluster-balanced diversity sample: `k` members per IVF cell,
    * picked by deterministic hash order within the cell — the
    * curation move that keeps a capped corpus COVERING the embedding
    * space instead of letting dominant modes crowd it out (the
    * cluster-then-sample half of SemDeDup-style diversity pipelines:
    * dedup trims redundancy inside a cell, this caps the cell's
    * share). Hash order ≡ a uniform draw within each cell that any
    * engine replays exactly (the stratified-sampling determinism
    * rule, keyed by cell instead of source). Dense cells contribute
    * exactly k, sparse cells all they have — output ≤ cells × k rows.
    *
    * Plan shape: one broadcast-centroid assignment pass (no vector
    * ever shuffles) + a per-cell WindowGroupLimit cut — each map task
    * forwards at most k rows per cell. */
  def clusterSample(centers: Seq[(Int, Seq[Double])], corpus: DataFrame,
      k: Int, idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "k must be positive")
    val asg = cellsFor(centers,
        corpus.select(col(idCol).as("id"), col(embCol).as("__v")),
        "id", "__v", 1)
      .select(col("cell"), col("id"),
        graft.pipeline.Dedup.hash60(col("id").cast("string")).as("__h"))
    val wo = Window.partitionBy("cell").orderBy(col("__h"), col("id"))
    asg.withColumn("rank", row_number().over(wo)).where(col("rank") <= k)
      .select(col("cell"), col("rank"), col("id"))
  }

  /** Hard-negative mining for contrastive training data: per query,
    * the `k` MOST similar corpus vectors inside a cosine band
    * [`loCos`, `hiCos`) — similar enough to be informative negatives,
    * below the near-duplicate cut so they aren't false negatives (the
    * ANCE/contrastive-curriculum selection rule: random negatives are
    * too easy, near-dups are secretly positives; the band is where the
    * training signal lives). Same scoring, broadcast orientation and
    * (cos desc, id asc) tie rules as [[knnBrute]], with the band
    * applied to the 6dp-ROUNDED cosine BEFORE the top-k so the cut
    * replays cross-engine (the round-before-compare playbook rule).
    * Output: (qid, id, rank, cos) with cos rounded. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      loCos: Double, hiCos: Double,
      idCol: String = "id", qidCol: String = "qid",
      embCol: String = "embedding"): DataFrame = {
    require(loCos < hiCos, "need loCos < hiCos")
    val c = corpus.select(col(idCol).as("id"), col(embCol).as("ce"))
    val q = queries.select(col(qidCol).as("qid"), col(embCol).as("qe"))
    val scored = c.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        round(cosine(col("qe"), col("ce")), 6).as("cos"))
      .where(col("cos") >= loCos && col("cos") < hiCos)
    topK(scored, k)
  }

  /** Embedding-distribution drift between a new BATCH and the settled
    * CORPUS, localized per IVF cell — [[graft.pipeline.TextOps]]'
    * ingest-drift monitor pointed at embedding space: assign both
    * frames to the shared codebook's cells and compare each cell's
    * SHARE of its population ("crawl 57 is suddenly 3× heavier in the
    * code-like cluster"). A global distance statistic would hide
    * exactly this localization; per-cell share deltas name the mode
    * that moved. Non-empty corpus and batch are the caller's contract
    * (a share against an empty population is no comparison).
    *
    * Determinism: counts are exact integers; each share (and the
    * delta, computed from the RAW ratios before its one rounding) is
    * a fixed IEEE op sequence any engine replays. Cells the Lloyd fit
    * dropped are absent on both sides; cells with no members in one
    * frame report 0 counts/shares.
    *
    * Scale shape: two broadcast-centroid assignment passes (no vector
    * ever shuffles) reducing straight to cell counts; everything after
    * is codebook-sized (nlist rows). Output:
    * (cell, n_corpus, n_batch, share_corpus, share_batch, share_delta),
    * shares/delta 6dp. */
  def cellDrift(centers: Seq[(Int, Seq[Double])],
      corpus: DataFrame, batch: DataFrame,
      idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    def cellCounts(df: DataFrame, as: String): DataFrame =
      cellsFor(centers,
          df.select(col(idCol).as("id"), col(embCol).as("__v")),
          "id", "__v", 1)
        .groupBy("cell").agg(count(lit(1)).as(as))
    val cells = spark.createDataFrame(centers.map(c => Tuple1(c._1)))
      .toDF("cell")
    // scoped-cached: the nlist-row counts frame feeds both the totals
    // and the final select — uncached, the two corpus assignment
    // passes would run twice (released by ScopedCache.release)
    val counts = ScopedCache.cache(cells
      .join(cellCounts(corpus, "n_corpus"), Seq("cell"), "left")
      .join(cellCounts(batch, "n_batch"), Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch")))
    val tot = counts.agg(sum(col("n_corpus")).as("__tc"),
      sum(col("n_batch")).as("__tb"))
    counts.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_corpus"), col("n_batch"),
        round(col("n_corpus") / col("__tc"), 6).as("share_corpus"),
        round(col("n_batch") / col("__tb"), 6).as("share_batch"),
        round(col("n_batch") / col("__tb") - col("n_corpus") / col("__tc"), 6)
          .as("share_delta"))
  }

  /** The REMEDY behind [[cellDrift]] — the scoped-rebuild analog for
    * the embedding half: when the drift alert fires, refit the
    * codebook over the CURRENT (drifted) corpus, measure IVF recall on
    * the caller's queries with the stale and the refit codebook
    * against ONE brute-force exact frame, and RE-REGISTER
    * ([[writeCodebook]] onto `codebookPath`) only when the refit found
    * at least as many true neighbors as the stale codebook — the gate
    * that makes the heal TRUSTABLE: an operator who reacts to drift
    * with a blind refit has no evidence recall recovered, and a refit
    * that somehow lost recall (bad iters, degenerate init on a skewed
    * batch) must not replace a working index.
    *
    * The gate compares total exact-neighbor hits (`sum(n_hit)` —
    * integer, so the decision replays bit-exactly in any engine)
    * rather than mean rounded recall; the per-query denominators are
    * identical on both sides (the one exact frame), so the orderings
    * agree.
    *
    * Returns the per-query readout
    * `(qid, n_hit_stale, recall_stale, n_hit_refit, recall_refit,
    * healed)` — `healed` = 1 exactly when the refit was re-registered.
    * Queries should probe where the drift LANDED ([[cellDrift]]'s
    * over-share cells) — recall on the old modes alone cannot see the
    * new one.
    *
    * Scale shape: one Lloyd refit (the index-build cost, [[fitCodebook]])
    * plus ONE shared corpus pass for the whole gate — the stale and
    * refit cell assignments ride the same cached projection as two
    * kernel columns and the brute exact frame scores off it too (r15;
    * previously three independent corpus scans). Queries are the small
    * side throughout; the corpus is scanned, never shuffled. */
  def refitCodebook(spark: org.apache.spark.sql.SparkSession,
      codebookPath: String, corpus: DataFrame, queries: DataFrame,
      k: Int, nlist: Int, nprobe: Int = 2, iters: Int = 2,
      idCol: String = "id", qidCol: String = "qid",
      embCol: String = "embedding",
      /** Where a PASSING refit is written — defaults to replacing the
        * stale registration in place; the persisted index passes its
        * NEW EPOCH's codebook path instead ([[graft.pipeline
        * .EmbeddingStore.refit]]'s manifest-last flip: never overwrite
        * the codebook the current epoch still serves from). */
      writeTo: Option[String] = None): DataFrame = {
    val stale = readCodebook(spark, codebookPath)
    val refit = fitCodebook(corpus, nlist, iters, idCol, embCol)
    // ONE corpus pass for all three evaluations (r15): the stale and
    // refit cell assignments are two kernel columns of the same cached
    // projection, and the brute exact frame reads it too — previously
    // each knnIvfWith and knnBrute re-ran its own corpus scan +
    // assignment (3 passes). Values are bit-identical: same
    // VecNearestCells kernel (element_at(…, 1) ≡ the n=1 explode pick),
    // same cosine, same topK cut. Codebooks past MaxInRowProbeCenters
    // (or empty) keep the unfused form — that regime's assignment is
    // the window form and should serve from a persisted index anyway.
    val inRow = stale.nonEmpty && refit.nonEmpty &&
      stale.size <= MaxInRowProbeCenters &&
      refit.size <= MaxInRowProbeCenters
    val (staleNN, refitNN, exact) = if (inRow) {
      def cellOf(cs: Seq[(Int, Seq[Double])]): Column =
        element_at(graft.functions.VectorExpressions
          .vecNearestCells(col("ce"), cs, 1), 1).getField("cell")
      val base = ScopedCache.cache(corpus
        .select(col(idCol).as("id"), col(embCol).as("ce"))
        .where(col("ce").isNotNull) // the cellsFor null contract
        .withColumn("__cs", cellOf(stale))
        .withColumn("__cr", cellOf(refit)))
      val q = queries.select(col(qidCol).as("qid"), col(embCol).as("qe"))
      def ivf(cellC: String, centers: Seq[(Int, Seq[Double])]) = {
        val qp = cellsFor(centers,
          queries.select(col(qidCol).as("qid"), col(embCol).as("qe")),
          "qid", "qe", nprobe)
        topK(base.select(col("id"), col("ce"), col(cellC).as("cell"))
          .join(broadcast(qp), Seq("cell"))
          .where(col("id") =!= col("qid"))
          .select(col("qid"), col("id"),
            cosine(col("qe"), col("ce")).as("cos")), k)
      }
      (ivf("__cs", stale), ivf("__cr", refit),
        topK(base.join(broadcast(q), col("id") =!= col("qid"))
          .select(col("qid"), col("id"),
            cosine(col("qe"), col("ce")).as("cos")), k))
    } else {
      // the fused branch's corpus filter: a null embedding has no cell,
      // so it must not take an exact rank the IVF sides can never hit
      val corpusNN = corpus.where(col(embCol).isNotNull)
      (knnIvfWith(stale, corpusNN, queries, k, nprobe, idCol, qidCol, embCol),
        knnIvfWith(refit, corpusNN, queries, k, nprobe, idCol, qidCol, embCol),
        knnBrute(corpusNN, queries, k, idCol, qidCol, embCol))
    }
    val exactC = ScopedCache.cache(exact)
    def recallOf(nn: DataFrame, suffix: String) =
      recallAtK(nn, exactC)
        .select(col("qid"), col("n_hit").as(s"n_hit_$suffix"),
          col("recall").as(s"recall_$suffix"))
    val readout = ScopedCache.cache(
      recallOf(staleNN, "stale").join(recallOf(refitNN, "refit"), "qid"))
    val hits = readout
      .agg(sum(col("n_hit_stale")), sum(col("n_hit_refit"))).head()
    // an EMPTY readout (queries matched nothing, or the corpus is too
    // small for any exact neighbor) sums to null: no evidence means no
    // re-registration — healed = 0 over zero rows, never an NPE with
    // the registration state ambiguous
    val healed = !hits.isNullAt(0) && !hits.isNullAt(1) &&
      hits.getLong(1) >= hits.getLong(0)
    if (healed) writeCodebook(spark, refit, writeTo.getOrElse(codebookPath))
    readout.withColumn("healed", lit(if (healed) 1 else 0))
  }

  /** Persist a fitted codebook — at corpus scale the Lloyd fit runs once
    * at index-build time and queries reuse the stored centers. */
  def writeCodebook(spark: org.apache.spark.sql.SparkSession,
      centers: Seq[(Int, Seq[Double])], path: String): Unit =
    spark.createDataFrame(centers).toDF("cell", "center")
      .coalesce(1).write.mode("overwrite").parquet(path)

  def readCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Seq[Double])] =
    ParquetDirs.read(spark, path).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)

  /** n-nearest-centroid assignment (n = 1 for corpus cells, n = nprobe
    * for query probes) — the ONE place the assignment distance +
    * (distance, cell) tie-break live; `keepDist` retains the raw `__d`
    * for callers that rank by it (cellOutliers, the persisted index's
    * drift stats).
    *
    * Evaluated IN-ROW by the codegen kernel ([[graft.functions
    * .VectorExpressions.VecNearestCells]] — one tight loop per row over
    * the plan-constant codebook): a pure map, so the assignment never
    * multiplies the input by nlist through a broadcast cross join and
    * no exchange ever carries a vector to a per-key window (the
    * previous crossJoin + row_number form did both; at corpus scale
    * that was an nlist× corpus shuffle per assignment pass). The kernel
    * reproduces the window's exact IEEE distance sequence and
    * (distance asc, cell asc) tie-break — pinned by VectorKernelSpec
    * and the standing oracles. Codebooks past [[MaxInRowProbeCenters]]
    * keep the broadcast-join + window form; that regime should persist
    * its assignment ([[graft.pipeline.EmbeddingStore]]) rather than
    * recompute it per query. */
  private def cellsFor(centers: Seq[(Int, Seq[Double])], df: DataFrame,
      keyCol: String, vecCol: String, n: Int,
      keepDist: Boolean = false): DataFrame = {
    // NULL-vector contract (r14 ADVICE): a null embedding has no cell.
    // The kernel is null-safe (null in → null array) and explode()
    // would drop the row SILENTLY, while the >MaxInRowProbeCenters
    // window form would assign it a cell (null __d sorts first) — the
    // explicit filter makes the drop deliberate and IDENTICAL in both
    // branches. Admission boundaries fail loudly instead
    // ([[graft.pipeline.EmbeddingStore]]'s requireNoNulls); by the time
    // a vector reaches an assignment pass, null means "not assignable".
    val dfNN = df.where(col(vecCol).isNotNull)
    if (centers.nonEmpty && centers.size <= MaxInRowProbeCenters) {
      val picked = dfNN
        .withColumn("__pick", explode(graft.functions.VectorExpressions
          .vecNearestCells(col(vecCol), centers, n)))
        .withColumn("cell", col("__pick").getField("cell"))
      (if (keepDist) picked.withColumn("__d", col("__pick").getField("__d"))
       else picked).drop("__pick")
    } else {
      import org.apache.spark.sql.expressions.Window
      val centersDf = df.sparkSession.createDataFrame(centers)
        .toDF("cell", "center")
      val scored = dfNN.crossJoin(broadcast(centersDf))
        .withColumn("__d", sqDist(col(vecCol).cast("array<double>"), col("center")))
      val w = Window.partitionBy(keyCol).orderBy(col("__d"), col("cell"))
      val picked = scored.withColumn("__r", row_number().over(w))
        .where(col("__r") <= n)
      picked.drop((if (keepDist) Seq("__r", "center") else Seq("__d", "__r", "center")): _*)
    }
  }

  /** The canonical 1-nearest-centroid CELL assignment as a public op —
    * what the persisted index ([[graft.pipeline.EmbeddingStore]])
    * stores at build time, sharing [[cellsFor]]'s exact distance and
    * (distance, cell) tie-break with every query path, so
    * index-served answers equal the recompute's bit-for-bit. Returns
    * the (idCol, embCol) projection plus `cell`. */
  def assignCells(centers: Seq[(Int, Seq[Double])], df: DataFrame,
      idCol: String = "id", embCol: String = "embedding"): DataFrame =
    cellsFor(centers, df.select(col(idCol), col(embCol)),
      idCol, embCol, 1)

  /** [[assignCells]] keeping the raw squared-L2 distance to the
    * assigned centroid as `__d` — what the persisted index's
    * quantization-error drift stats accumulate per accepted batch. */
  def assignCellsWithDist(centers: Seq[(Int, Seq[Double])], df: DataFrame,
      idCol: String = "id", embCol: String = "embedding"): DataFrame =
    cellsFor(centers, df.select(col(idCol), col(embCol)),
      idCol, embCol, 1, keepDist = true)

  /** Per-query `nprobe` probe cells computed IN-ROW
    * ([[knnSeedProbe]]'s probe half, shared with the persisted index's
    * serve path): the [[graft.functions.VectorExpressions
    * .VecNearestCells]] kernel's (distance, cell)-ascending picks —
    * [[cellsFor]]'s exact tie-break — exploded, so no shuffle ever
    * carries a query vector. Guarded by [[MaxInRowProbeCenters]] like
    * every in-row assignment. Returns (qid, qe, cell), one row per
    * (query, probe). */
  private[graft] def probeCellsInRow(
      centers: Seq[(Int, Seq[Double])], queries: DataFrame,
      qidCol: String, embCol: String, nprobe: Int): DataFrame = {
    require(nprobe > 0, "nprobe must be positive")
    require(centers.nonEmpty, "probeCellsInRow needs at least one center")
    require(centers.size <= MaxInRowProbeCenters,
      s"in-row probe assignment inlines centers as plan literals; " +
        s"${centers.size} centers exceeds the $MaxInRowProbeCenters " +
        s"ceiling")
    queries.select(col(qidCol).as("qid"), col(embCol).as("qe"))
      .where(col("qe").isNotNull) // the cellsFor null contract: no cell
      .withColumn("__pick", explode(graft.functions.VectorExpressions
        .vecNearestCells(col("qe"), centers, nprobe)))
      .withColumn("cell", col("__pick").getField("cell"))
      .drop("__pick")
  }

  /** [[knnIvf]] over a prebuilt codebook (the index-build / query split). */
  def knnIvfWith(
      centers: Seq[(Int, Seq[Double])],
      corpus: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 2,
      idCol: String = "id", qidCol: String = "qid",
      embCol: String = "embedding"): DataFrame = {
    val c = cellsFor(centers,
      corpus.select(col(idCol).as("id"), col(embCol).as("ce")), "id", "ce", 1)
    val q = cellsFor(centers,
      queries.select(col(qidCol).as("qid"), col(embCol).as("qe")), "qid", "qe", nprobe)
    val scored = c.join(broadcast(q), Seq("cell"))
      .where(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), cosine(col("qe"), col("ce")).as("cos"))
    topK(scored, k)
  }

  /** The one (cos desc, id asc) rank-k cut every kNN path shares —
    * [[graft.pipeline.EmbeddingStore.knn]] included. */
  private[pipeline] def topK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("id"), col("rank"), col("cos"))
  }

  /** Product-quantization codebooks (Jégou/Douze/Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"): the `dim` dimensions
    * split into `m` contiguous subspaces of dim/m, each fitted with an
    * independent deterministic-Lloyd codebook ([[fitCodebook]] over the
    * corpus subvectors). m small k-means runs, paid once at index-build
    * time; persist each like [[writeCodebook]]. */
  def fitPqCodebooks(corpus: DataFrame, dim: Int, m: Int, ksub: Int,
      iters: Int, idCol: String = "id", embCol: String = "embedding")
      : Seq[(Int, Seq[(Int, Seq[Double])])] = {
    require(m > 0 && dim % m == 0, "dim must split into m equal subspaces")
    val d = dim / m
    (0 until m).map { s =>
      s -> fitCodebook(
        corpus.select(col(idCol).as("id"),
          slice(col(embCol).cast("array<double>"), s * d + 1, d).as("embedding")),
        ksub, iters)
    }
  }

  /** The flattened (sub, cell, cv) broadcast frame of a PQ codebook. */
  private def pqCentersDf(corpus: DataFrame,
      books: Seq[(Int, Seq[(Int, Seq[Double])])]): DataFrame = {
    val flat = for ((s, cs) <- books; (cell, cv) <- cs) yield (s, cell, cv)
    corpus.sparkSession.createDataFrame(flat).toDF("sub", "cell", "cv")
  }

  /** One row per (key, subspace): the in-row sliced subvector. */
  private def pqSubRows(df: DataFrame, key: String, embCol: String,
      m: Int, d: Int): DataFrame = {
    val subs = (0 until m).map(s =>
      struct(lit(s).as("sub"),
        slice(col(embCol).cast("array<double>"), s * d + 1, d).as("sv")))
    df.select(col(key), explode(array(subs: _*)).as("x"))
      .select(col(key), col("x.sub").as("sub"), col("x.sv").as("sv"))
  }

  /** PQ codes — nearest sub-centroid per (vector, subspace): the m-int
    * compressed index row (persist at build time).
    *
    * Encoded IN-ROW like every assignment ([[cellsFor]]): each row
    * computes its m sub-centroid argmins over plan-literal sub-codebooks
    * and explodes them — a pure map; the previous broadcast-join +
    * per-(id, sub) window shuffled m·ksub copies of every subvector.
    * The argmin is the window's exact (distance asc, cell asc)
    * tie-break. Sub-codebooks past [[MaxInRowProbeCenters]] keep the
    * join + window form. */
  def pqCodes(corpus: DataFrame, books: Seq[(Int, Seq[(Int, Seq[Double])])],
      idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    val (m, d) = (books.size, books.head._2.head._2.size)
    if (books.forall(_._2.size <= MaxInRowProbeCenters)) {
      val e = col(embCol).cast("array<double>")
      val subCells = books.map { case (s, cs) =>
        struct(lit(s).as("sub"),
          element_at(graft.functions.VectorExpressions
            .vecNearestCells(slice(e, s * d + 1, d), cs, 1), 1)
            .getField("cell").as("cell"))
      }
      corpus.select(col(idCol).as("id"),
          explode(array(subCells: _*)).as("x"))
        .select(col("id"), col("x.sub").as("sub"), col("x.cell").as("cell"))
    } else {
      import org.apache.spark.sql.expressions.Window
      val aw = Window.partitionBy(col("id"), col("sub"))
        .orderBy(col("__d"), col("cell"))
      pqSubRows(corpus.select(col(idCol).as("id"), col(embCol)), "id", embCol, m, d)
        .join(broadcast(pqCentersDf(corpus, books)), "sub")
        .withColumn("__d", sqDist(col("sv"), col("cv")))
        .withColumn("__r", row_number().over(aw))
        .where(col("__r") === 1)
        .select(col("id"), col("sub"), col("cell"))
    }
  }

  /** The m PQ codes of one vector as a single IN-ROW array column
    * (element s = the sub-centroid id in subspace s) — [[pqCodes]]'
    * values without the explode/regroup round-trip, for writers that
    * persist the codes alongside the row ([[graft.pipeline
    * .EmbeddingStore]]'s `pq_codes`). Same per-subspace (distance,
    * cell) argmin as [[pqCodes]]; callers must respect the
    * [[MaxInRowProbeCenters]] ceiling per sub-codebook. */
  def pqCodesArray(books: Seq[(Int, Seq[(Int, Seq[Double])])],
      emb: Column): Column = {
    require(books.forall(_._2.size <= MaxInRowProbeCenters),
      "pqCodesArray inlines sub-codebooks in-row; use pqCodes' " +
        "join form past the MaxInRowProbeCenters ceiling")
    val d = books.head._2.head._2.size
    val e = emb.cast("array<double>")
    array(books.sortBy(_._1).map { case (s, cs) =>
      element_at(graft.functions.VectorExpressions
        .vecNearestCells(slice(e, s * d + 1, d), cs, 1), 1)
        .getField("cell")
    }: _*)
  }

  /** [[assignCellsWithDist]] IN PLACE: appends `cell` and `__d` to
    * every row of `df`, keeping all its other columns — the persisted
    * index's refit uses it to re-derive the coarse cells over the full
    * stored row (vectors + codes + batch identity) without the
    * assign-then-self-join round trip a projecting assignment forces. */
  def reassignCellsKeepAll(centers: Seq[(Int, Seq[Double])],
      df: DataFrame, idCol: String, embCol: String): DataFrame =
    cellsFor(centers, df, idCol, embCol, 1, keepDist = true)

  /** Per-query ADC distance table: m·ksub rows (sub, cell, qd) per query. */
  private def pqQueryTable(queries: DataFrame,
      books: Seq[(Int, Seq[(Int, Seq[Double])])],
      qidCol: String, embCol: String): DataFrame = {
    val (m, d) = (books.size, books.head._2.head._2.size)
    pqSubRows(queries.select(col(qidCol).as("qid"), col(embCol)), "qid", embCol, m, d)
      .join(broadcast(pqCentersDf(queries, books)), "sub")
      .select(col("qid"), col("sub"), col("cell"),
        sqDist(col("sv"), col("cv")).as("qd"))
  }

  /** Rounded ADC sum per (qid, id) over (qid, id, qd) rows + the
    * ascending rank-k cut (ties on id). */
  private def adcRank(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored.groupBy(col("qid"), col("id"))
      .agg(round(sum(col("qd")), 6).as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist"), col("id"))))
      .where(col("rank") <= k)
      .select(col("qid"), col("id"), col("rank"), col("adist"))
  }

  /** PQ encode + asymmetric-distance (ADC) top-k: each corpus vector is
    * encoded as m sub-centroid codes — the compression that shrinks a
    * 100 TB float corpus to m small ints per vector — and each query
    * scores the whole corpus by summing, per subspace, its precomputed
    * distance to the vector's assigned centroid.
    *
    * Plan shape: the codebook (m·ksub centers) broadcasts; encoding is a
    * broadcast-probe + per-(vector, subspace) window min over the corpus
    * scan — the one full pass, paid at INDEX-BUILD time (persist the
    * codes column; [[knnIvfPq]] composes it with the IVF cell column).
    * The per-query distance TABLE (m·ksub doubles per query) is
    * query-side-bounded and broadcasts; ADC is then a broadcast lookup
    * join + one partial-aggregatable (qid, id) sum — no shuffle ever
    * carries a float vector. Approximate distances round to 1e-6 BEFORE
    * ranking (ties on id), so the oracle's sum order cannot flip the
    * cut; keep m small-and-even-tempered (the entry uses m = 2, where
    * two-term IEEE addition is order-exact). */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame,
      books: Seq[(Int, Seq[(Int, Seq[Double])])], k: Int,
      idCol: String = "id", qidCol: String = "qid",
      embCol: String = "embedding"): DataFrame = {
    val codes = pqCodes(corpus, books, idCol, embCol)
    val qt = pqQueryTable(queries, books, qidCol, embCol)
    // whole-corpus ADC: each code row looks up every query's (sub, cell)
    // distance in the broadcast table; the (qid, id) pairs materialize
    // only inside the partial-aggregatable sum
    adcRank(codes.join(broadcast(qt), Seq("sub", "cell"))
      .where(col("id") =!= col("qid")), k)
  }

  /** ADC top-k over PRECOMPUTED codes — the persisted-index serving
    * path ([[graft.pipeline.EmbeddingStore.knnPq]]): `codes` =
    * (id, sub, cell) rows ([[pqCodes]]' output shape, typically read
    * back from index storage instead of recomputed), optionally
    * restricted to IVF-pruned `cand` (qid, id) pairs. Same broadcast
    * query table, rounding and rank cut as [[pqAdcTopK]] /
    * [[knnIvfPq]], so stored codes serve their answers verbatim. */
  def pqAdcOverCodes(codes: DataFrame, queries: DataFrame,
      books: Seq[(Int, Seq[(Int, Seq[Double])])], k: Int,
      cand: Option[DataFrame] = None,
      qidCol: String = "qid", embCol: String = "embedding"): DataFrame = {
    val qt = pqQueryTable(queries, books, qidCol, embCol)
    cand match {
      case Some(c) => adcRank(c.join(codes, "id")
        .join(broadcast(qt), Seq("qid", "sub", "cell")), k)
      case None => adcRank(codes.join(broadcast(qt), Seq("sub", "cell"))
        .where(col("id") =!= col("qid")), k)
    }
  }

  /** IVF-PQ: the production ANN layout (Jégou et al. 2011 §V) — IVF
    * cells prune the candidate set (each query probes its nprobe nearest
    * coarse centroids), PQ codes score the survivors by ADC. Both index
    * columns (cell, codes) are build-time artifacts; a query touches
    * ~nprobe/nlist of the corpus and never a float vector. */
  def knnIvfPq(centers: Seq[(Int, Seq[Double])],
      books: Seq[(Int, Seq[(Int, Seq[Double])])],
      corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int = 2,
      idCol: String = "id", qidCol: String = "qid",
      embCol: String = "embedding"): DataFrame = {
    val c = cellsFor(centers,
      corpus.select(col(idCol).as("id"), col(embCol).as("ce")), "id", "ce", 1)
    val q = cellsFor(centers,
      queries.select(col(qidCol).as("qid"), col(embCol).as("qe")), "qid", "qe", nprobe)
    val cand = c.select(col("id"), col("cell"))
      .join(broadcast(q.select(col("qid"), col("cell"))), "cell")
      .where(col("id") =!= col("qid"))
      .select("qid", "id").distinct()
    val codes = pqCodes(corpus, books, idCol, embCol)
    val qt = pqQueryTable(queries, books, qidCol, embCol)
    adcRank(cand.join(codes, "id")
      .join(broadcast(qt), Seq("qid", "sub", "cell")), k)
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    * corpus with a k-means codebook, then inside each cluster drop every
    * vector that has a near-duplicate (cosine ≥ `threshold`) which sits
    * FARTHER from the shared centroid — the paper's keep-the-outlier rule
    * (the retained example of a duplicate pair is the one least typical
    * of the cluster, preserving diversity). Ties in centroid distance
    * break to the lower id.
    *
    * The rule here is the pairwise-dominance form, not the transitive
    * closure over duplicate GROUPS: x survives iff no same-cell
    * near-duplicate of x dominates it. A group {a,b,c} where only a–b and
    * b–c are near-pairs therefore keeps the maximal non-dominated set
    * rather than exactly one element; for the closure semantics compose
    * with [[graft.pipeline.Dedup.dupGroups]] over the emitted pairs.
    *
    * Scale shape (100 TB): centroid assignment is a broadcast map over
    * one corpus pass (the codebook is nlist × dim literals, fit once at
    * index-build — [[fitCodebook]]); the near-dup search is a cell-key
    * equi-join, so candidate pairs are bounded per cluster instead of
    * corpus-quadratic. Cluster granularity is the knob: SemDeDup at web
    * scale uses ~100k clusters so a cell is ~1/100k of the corpus; a
    * pathologically hot cell would need the same salting/cap treatment
    * as [[graft.pipeline.Dedup.jaccardDupPairs]]'s hot-shingle cap.
    * Everything below is column expressions over two joins — no UDFs,
    * no driver-side loops.
    *
    * Cosine and distance are rounded to 6 decimals BEFORE comparison so
    * the decision replays bit-identically in the SQL oracle.
    *
    * @return one row per corpus vector: (id, cell, cdist, kept) with
    *         cdist = round₆ squared-L2 to the assigned centroid and
    *         kept ∈ {0, 1}. */
  def semDedup(
      corpus: DataFrame, centers: Seq[(Int, Seq[Double])], threshold: Double,
      idCol: String = "id", embCol: String = "embedding"): DataFrame = {
    // scoped-cached: the assignment subtree feeds the self-join's BOTH
    // sides plus the final kept-flag join — uncached it would re-run the
    // corpus pass three times (released per-query by ScopedCache.release).
    // `+ 0.0` maps an FP-cancellation -0.0 cdist to 0.0 (Spark's round
    // drops the sign, DuckDB's keeps it; the oracle normalizes the same)
    val assigned = ScopedCache.cache(cellsFor(centers,
        corpus.select(col(idCol).as("id"),
          col(embCol).cast("array<double>").as("v")),
        "id", "v", 1, keepDist = true)
      .select(col("id"), col("cell"),
        (round(col("__d"), 6) + lit(0.0)).as("cdist"), col("v")))
    val other = assigned.select(col("cell"), col("id").as("id_b"),
      col("cdist").as("cdist_b"), col("v").as("v_b"))
    val dominated = assigned.join(other, Seq("cell"))
      .where(col("id") =!= col("id_b"))
      .where(round(cosine(col("v"), col("v_b")), 6) >= threshold)
      .where(col("cdist_b") > col("cdist") ||
        (col("cdist_b") === col("cdist") && col("id_b") < col("id")))
      .select("id").distinct()
    assigned.join(dominated.withColumn("__dom", lit(1)), Seq("id"), "left")
      .select(col("id"), col("cell"), col("cdist"),
        when(col("__dom").isNotNull, 0).otherwise(1).as("kept"))
  }
}
