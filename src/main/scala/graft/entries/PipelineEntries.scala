package graft.entries

import org.apache.spark.sql.functions._

import graft.ScopedCache
import graft.pipeline.{Dedup, Multimodal, Similarity, TextOps}
import EntryUtil.QueryFn

/** Driver-contract entries for the training-data pipeline operators
  * (dedup, similarity search, text analysis, multimodal) over the
  * `documents` and `embeddings` tables.
  */
object PipelineEntries {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  private def rp(s: SparkSession, dir: String, table: String): DataFrame =
    EntryUtil.repartitioned(s, dir, table)

  val queries: Map[String, QueryFn] = Map(
    // ---- dedup ------------------------------------------------------------
    "docs_dedup_exact" -> ((s, dir) =>
      Dedup.exact(rp(s, dir, "documents"), "doc_id", "text")
        .orderBy("text_hash")),

    // cap 20 is live at sf0.1 (max shingle doc-freq 25 there) and inert at
    // smaller sfs (max 9) — the oracle mirrors the same pruning
    "docs_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(rp(s, dir, "documents"),
          "doc_id", "text", k = 3, threshold = 0.8,
          maxShingleFreq = Some(20))
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")),

    "docs_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(rp(s, dir, "documents"),
          "doc_id", "text", k = 3, numPerm = 32, bands = 8, threshold = 0.8)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")),

    // near-dup pairs -> connected components -> keep/drop groups (the
    // min-reachable-id label; oracle = DuckDB recursive reachability CTE)
    "docs_dup_groups" -> ((s, dir) =>
      Dedup.dedupGroups(
          Dedup.jaccardPairs(rp(s, dir, "documents"),
            "doc_id", "text", k = 3, threshold = 0.8,
            maxShingleFreq = Some(20)))
        .orderBy("id")),

    // GROUP-safe splits: every document is assigned the split of its
    // near-dup group representative's content, so near-duplicates (which
    // content-hash splits alone cannot co-locate — they differ by a byte)
    // can never straddle train/test. The leakage guard a real pipeline
    // composes from dedup + splits.
    "docs_group_safe_splits" -> ((s, dir) =>
      groupSafeSplitsFor(s, dir)._2
        .select(col("doc_id"), col("rep"), col("split"))
        .orderBy("doc_id")),

    // the full curation funnel composed from the library's own operators:
    // quality gate -> exact dedup -> near-dup groups -> keep set. Every
    // stage is individually oracle-proven; this entry proves they COMPOSE
    // (what a real corpus-curation user actually runs).
    "docs_curation_funnel" -> ((s, dir) => {
      val docs = rp(s, dir, "documents")
      val good = TextOps.quality(docs, "doc_id", "text")
        .where(col("quality") >= 0.25).select(col("id").as("doc_id"))
      val s1 = docs.join(good, "doc_id")
      val keepExact = Dedup.exact(s1, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      // the survivor set feeds shingling, pair sizes AND the final
      // anti-join — scope-cache it for the query's duration
      val s2 = ScopedCache.cache(s1.join(keepExact, "doc_id"))
      val groups = Dedup.dedupGroups(
        Dedup.jaccardPairs(s2, "doc_id", "text", k = 3, threshold = 0.8,
          maxShingleFreq = Some(20)))
      val nearDupDrops = groups.where(col("id") =!= col("group_id"))
        .select(col("id").as("doc_id"))
      s2.select("doc_id").join(nearDupDrops, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    }),

    "docs_simhash" -> ((s, dir) =>
      Dedup.simhash(rp(s, dir, "documents"), "doc_id", "text")
        .orderBy("id")),

    "docs_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(rp(s, dir, "documents"), "doc_id", "text",
          maxDist = 3, bands = 4)
        .orderBy("id_a", "id_b")),

    // threshold 0.45: the synthetic corpus has no true near-dups, so the
    // gate runs where the cosine tail actually is — a 0.9 cut returns 0
    // rows everywhere and verifies nothing. Default = the SRP-bucketed
    // scale path (candidates from a bucket equi-join; the oracle mirrors
    // the bucket restriction), exact baseline gated separately below.
    "emb_dup_pairs" -> ((s, dir) =>
      Dedup.embeddingDupPairsBucketed(rp(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.45, bits = 6)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("id_a", "id_b")),

    "emb_dup_pairs_exact" -> ((s, dir) =>
      Dedup.embeddingDupPairsExact(rp(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.45)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("id_a", "id_b")),

    // ---- similarity search ------------------------------------------------
    "emb_knn_brute" -> ((s, dir) => {
      val emb = rp(s, dir, "embeddings")
      Similarity.knnBrute(
          emb.select(col("vec_id").as("id"), col("embedding")),
          emb.where(col("vec_id") < 10)
            .select(col("vec_id").as("qid"), col("embedding")),
          k = 3)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("qid", "rank")
    }),

    "emb_knn_bucketed" -> ((s, dir) => {
      val emb = rp(s, dir, "embeddings")
      Similarity.knnBucketed(
          emb.select(col("vec_id").as("id"), col("embedding")),
          emb.where(col("vec_id") < 10)
            .select(col("vec_id").as("qid"), col("embedding")),
          k = 1, bits = 6)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("qid", "rank")
    }),

    // IVF ANN: deterministic-Lloyd codebook cells, nprobe probing. The
    // codebook fit (lowest-id init, 2 rounds, round-6 centroids) replays
    // bit-identically in the generated SQL oracle below.
    "emb_knn_ivf" -> ((s, dir) => {
      val emb = rp(s, dir, "embeddings")
      Similarity.knnIvfWith(
          EntryUtil.ivfCodebookFor(s, dir),
          emb.select(col("vec_id").as("id"), col("embedding")),
          emb.where(col("vec_id") < 10)
            .select(col("vec_id").as("qid"), col("embedding")),
          k = 3, nprobe = 2)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("qid", "rank")
    }),

    // SemDeDup: the same memoized codebook partitions the corpus into
    // cells, and within each cell the keep-the-outlier dominance rule
    // prunes cosine-near-duplicates — clustering turns the quadratic
    // all-pairs search into per-cell equi-join candidates. The 0.4 cut
    // sits where this corpus's cosine tail actually is (cf. the
    // emb_dup_pairs 0.45 note above); kept=0 rows exist at every SF.
    "emb_semdedup" -> ((s, dir) =>
      Similarity.semDedup(
          rp(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding")),
          EntryUtil.ivfCodebookFor(s, dir), threshold = 0.4)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")),

    // ---- text analysis ----------------------------------------------------
    "docs_langid" -> ((s, dir) =>
      TextOps.langId(rp(s, dir, "documents"), "doc_id", "text")
        .orderBy("id")),

    "docs_quality" -> ((s, dir) =>
      TextOps.quality(rp(s, dir, "documents"), "doc_id", "text")
        .orderBy("id")),

    "docs_token_counts" -> ((s, dir) => {
      val d = rp(s, dir, "documents")
      d.select(col("doc_id").as("id"),
          TextOps.tokenCountWs(col("text")).as("ws_tokens"),
          TextOps.tokenCountRegex(col("text")).as("re_tokens"))
        .orderBy("id")
    }),

    "docs_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(rp(s, dir, "documents"),
          "doc_id", "text", k = 3)
        .orderBy("id")),

    "docs_winnow" -> ((s, dir) =>
      TextOps.winnow(rp(s, dir, "documents"), "doc_id", "text", k = 3, w = 4)
        .orderBy("id", "fingerprint")),

    // the synthetic corpus is PII-free, so the entry plants deterministic
    // PII in a third of the docs (same construction in the oracle) —
    // otherwise the hash-match would be trivially all-zeros
    "docs_pii" -> ((s, dir) =>
      TextOps.piiScan(EntryUtil.piiFixture(rp(s, dir, "documents")),
          "doc_id", "text")
        .orderBy("id")),

    // ---- multimodal (real ImageIO decode; synthetic corpus bytes are not
    // images, so every row takes the deterministic fallback → decoded = 0;
    // the real-decode path is proven by PipelineSpec's generated PNG) ------
    "mm_decode" -> ((s, dir) =>
      Multimodal.decodeBinary(
          rp(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes")),
          "doc_id", "bytes")
        .toDF().withColumn("decoded", col("decoded").cast("int"))
        .orderBy("id")),

    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
          rp(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes")),
          "doc_id", "bytes", stride = 2)
        .toDF().withColumn("decoded", col("decoded").cast("int"))
        .orderBy("id", "frame_idx")),

    // audio header decode (real for WAV/AIFF via javax.sound.sampled,
    // proven in PipelineSpec; corpus bytes take the fallback → decoded = 0)
    "mm_audio" -> ((s, dir) =>
      Multimodal.decodeAudio(
          rp(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes")),
          "doc_id", "bytes")
        .toDF().withColumn("decoded", col("decoded").cast("int"))
        .orderBy("id")),

    "mm_resize" -> ((s, dir) =>
      Multimodal.resizeBinary(
          rp(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes")),
          "doc_id", "bytes", maxSide = 32)
        .toDF()
        .withColumn("scale", round(col("scale"), 6))
        .orderBy("id")),

    // real pixel-resize operator over non-decodable blobs: the entry
    // pins the PASS-THROUGH contract (byte-identical output, flagged) —
    // the real decode->scale->re-encode path is spec-proven on generated
    // PNGs (oracle engines can't replay a PNG encoder)
    "mm_resize_pixels" -> ((s, dir) =>
      Multimodal.resizePixels(
          rp(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes")),
          "doc_id", "bytes", maxSide = 16)
        .toDF()
        .select(col("id"), col("out_width"), col("out_height"),
          col("decoded").cast("int").as("decoded"),
          length(col("bytes")).as("n_bytes"))
        .orderBy("id")),

    "mm_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
          rp(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes")),
          "doc_id", "bytes", dim = 4)
        .select(col("id"),
          round(element_at(col("features"), 1), 6).as("f0"),
          round(element_at(col("features"), 2), 6).as("f1"),
          round(element_at(col("features"), 3), 6).as("f2"),
          round(element_at(col("features"), 4), 6).as("f3"))
        .orderBy("id")),

    // REAL image features (grid-pooled BT.601 luma — the perceptual-
    // hash front half, no model weights needed): corpus bytes are not
    // images, so every row pins the byte-fold FALLBACK contract at the
    // same grid² width (decoded = 0); the real decode path is
    // spec-proven exact on a generated quadrant PNG (oracle engines
    // can't decode PNGs)
    "mm_image_features" -> ((s, dir) =>
      Multimodal.imageFeatures(
          rp(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes")),
          "doc_id", "bytes", grid = 2)
        .select(col("id"), col("decoded").cast("int").as("decoded"),
          round(element_at(col("features"), 1), 6).as("f0"),
          round(element_at(col("features"), 2), 6).as("f1"),
          round(element_at(col("features"), 3), 6).as("f2"),
          round(element_at(col("features"), 4), 6).as("f3"))
        .orderBy("id")),

    // the REAL-math projection path: tanh(W·x) over the fold vector with
    // a broadcast 2×4 weight matrix (exact binary-fraction weights; the
    // oracle replays the identical left-associated dot product + tanh)
    "mm_features_proj" -> ((s, dir) =>
      Multimodal.extractFeatures(
          rp(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes")),
          "doc_id", "bytes", dim = 4,
          weights = Some(Seq(
            Seq(0.5, -1.0, 0.25, 2.0),
            Seq(-0.125, 1.5, -0.75, 0.0625))))
        .select(col("id"),
          round(element_at(col("features"), 1), 6).as("p0"),
          round(element_at(col("features"), 2), 6).as("p1"))
        .orderBy("id"))
  )

  /** hash60 in DuckDB. */
  private def h60(s: String): String = EntryUtil.h60Sql(s)

  /** The near-dup pairs + GROUP-SAFE split assignment shared by
    * docs_group_safe_splits and the leakage audit (one construction):
    * every document takes the split of its near-dup group
    * representative's content, so near-duplicates can never straddle
    * train/test. Returns (pairs, splits(doc_id, rep, split)). */
  private[entries] def groupSafeSplitsFor(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = rp(s, dir, "documents")
    // scoped-cached: the pair spine feeds the group pass here AND both
    // of the leakage audit's matrices — uncached it would re-run the
    // shingle/posting machinery per consumer
    val pairs = ScopedCache.cache(
      Dedup.jaccardPairs(d, "doc_id", "text", k = 3,
        threshold = 0.8, maxShingleFreq = Some(20)))
    val groups = Dedup.dedupGroups(pairs)
    val rep = d.join(groups.withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("rep"))
    val repText = d.select(col("doc_id").as("rep"),
      col("text").as("rep_text"))
    val splits = graft.pipeline.TextOps.assignSplits(
        rep.join(repText, "rep"), "doc_id", "rep_text")
      .select(col("id").as("doc_id"), col("split"))
      .join(rep, "doc_id")
    (pairs, splits)
  }

  /** The jaccard-pair → reachability-group → representative CTE chain
    * (defines `pairs(id_a, id_b)` and `rep(doc_id, rep)`) shared by the
    * split mirrors (docs_group_safe_splits, the leakage audit) — embed
    * inside a WITH RECURSIVE. */
  private[entries] lazy val groupSafeCtes: String =
    s"""$shinglesCte,
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         freq AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
         shp AS (SELECT sh.doc_id, sh.g FROM sh JOIN freq USING (g)
                 WHERE df <= 20),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM shp a JOIN shp b USING (g) WHERE a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
             JOIN sz sa ON sa.doc_id = id_a
             JOIN sz sb ON sb.doc_id = id_b
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         r(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src),
         grp AS (SELECT src AS id, least(src, min(dst)) AS group_id
                 FROM r GROUP BY src),
         rep AS (
           SELECT d.doc_id, coalesce(grp.group_id, d.doc_id) AS rep
           FROM documents d LEFT JOIN grp ON grp.id = d.doc_id)"""

  /** The bucket → split CASE of [[graft.pipeline.TextOps.assignSplits]]
    * at the default 10/10 percentages — one definition for every split
    * mirror. */
  private[entries] val splitCaseSql: String =
    """CASE WHEN bucket < 10 THEN 'test'
          WHEN bucket < 20 THEN 'val'
          ELSE 'train' END"""

  /** The dim-4 byte-fold CTE `b` shared by every extractFeatures-family
    * mirror (mm_features, mm_features_proj, mm_image_features' fallback
    * contract): ASCII corpus, so byte i of encode(text) is
    * unicode(substr(text, i, 1)); Scala 0-based index → j = (i−1) % 4. */
  private val foldBSql: String =
    """b AS (
         SELECT doc_id, (i - 1) % 4 AS j,
           unicode(substr(text, i, 1)) / 255.0 AS v
         FROM documents, UNNEST(generate_series(1, length(text))) AS t(i))"""

  /** ONE SimHash fingerprint CTE chain over `documents` — words →
    * per-bit majority votes → `sh(doc_id, s)` — the replay of
    * TextKernels.simhash60 the simhash oracles here mirror inline;
    * downstream oracles (the incremental probe) compose on top of it
    * rather than re-copying the arithmetic. */
  def simhashShCtes: String =
    s"""words AS (
             SELECT doc_id, ${h60("u.w")} AS h
             FROM documents, UNNEST(string_split(text, ' ')) AS u(w)),
           perbit AS (
             SELECT doc_id, b,
               sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
               count(*) AS total
             FROM words, UNNEST(generate_series(0, 59)) AS t(b)
             GROUP BY doc_id, b),
           sh AS (
             SELECT doc_id,
               CAST(sum(CASE WHEN ones * 2 >= total THEN 1::BIGINT << b ELSE 0 END)
                 AS BIGINT) AS s
             FROM perbit GROUP BY doc_id)"""

  /** Distinct word-3-shingles CTE over documents (shared with the
    * round-10 banding-sweep mirror). */
  private[entries] val shinglesCte =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
              FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i))"""

  private val jaccardSql =
    s"""WITH $shinglesCte,
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         freq AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
         shp AS (SELECT sh.doc_id, sh.g FROM sh JOIN freq USING (g)
                 WHERE df <= 20),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM shp a JOIN shp b USING (g) WHERE a.doc_id < b.doc_id
           GROUP BY 1, 2)
       SELECT id_a, id_b,
         round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
       FROM inter
         JOIN sz sa ON sa.doc_id = id_a
         JOIN sz sb ON sb.doc_id = id_b
       WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
       ORDER BY id_a, id_b"""

  private val cosSql =
    "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6)"

  private val srp6 = EntryUtil.srpSql(6)

  private def dist(a: String, b: String) = EntryUtil.sqlDist(a, b)

  /** Shared SQL replay of [[graft.pipeline.Similarity.fitCodebook]]
    * (delegates to [[EntryUtil.kmeansCtes]] with the whole-embedding
    * source); both the IVF and SemDeDup oracles build on it. */
  private def kmeansCtes(nlist: Int, iters: Int): String =
    EntryUtil.kmeansCtes("",
      "SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
      nlist, iters)

  /** SQL replay of [[graft.pipeline.Similarity.knnIvf]] on the
    * [[kmeansCtes]] codebook: same nprobe probe and top-k. */
  private def ivfOracle(nlist: Int, nprobe: Int, k: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(nlist, iters)},
         cor AS (${EntryUtil.nearestCellsSql("e", s"c$iters", 1)}),
         qry AS (SELECT id AS qid, v AS qv, cell FROM (
            ${EntryUtil.nearestCellsSql("e", s"c$iters", nprobe, " WHERE e.id < 10")}))
       SELECT * FROM (
         SELECT qid, cor.id AS id,
           row_number() OVER (PARTITION BY qid
             ORDER BY list_cosine_similarity(qv, cor.v) DESC, cor.id) AS rank,
           round(list_cosine_similarity(qv, cor.v), 6) AS cos
         FROM qry JOIN cor ON qry.cell = cor.cell AND cor.id != qid)
       WHERE rank <= $k ORDER BY qid, rank"""

  /** SQL replay of [[graft.pipeline.Similarity.semDedup]] on the same
    * codebook: final assignment with round-6 centroid distance, then the
    * pairwise keep-the-outlier dominance rule inside each cell. */
  private def semDedupOracle(nlist: Int, iters: Int, threshold: Double): String =
    s"""WITH ${kmeansCtes(nlist, iters)},
         cor AS (SELECT id, v, cell, round(d, 6) + 0.0 AS cdist FROM (
            SELECT e.id, e.v, c.cell, ${dist("e.v", "c.cv")} AS d,
              row_number() OVER (PARTITION BY e.id
                ORDER BY ${dist("e.v", "c.cv")}, c.cell) AS r
            FROM e CROSS JOIN c$iters c) WHERE r = 1),
         dom AS (SELECT DISTINCT a.id FROM cor a
            JOIN cor b ON a.cell = b.cell AND a.id != b.id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= $threshold
              AND (b.cdist > a.cdist OR (b.cdist = a.cdist AND b.id < a.id)))
       SELECT cor.id AS vec_id, cell, cdist,
         CASE WHEN dom.id IS NULL THEN 1 ELSE 0 END AS kept
       FROM cor LEFT JOIN dom ON cor.id = dom.id
       ORDER BY vec_id"""

  val oracle: Map[String, String] = Map(
    "emb_knn_ivf" -> ivfOracle(nlist = 8, nprobe = 2, k = 3, iters = 2),
    "emb_semdedup" -> semDedupOracle(nlist = 8, iters = 2, threshold = 0.4),
    "docs_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           count(*) AS n_dups
         FROM documents GROUP BY md5(text) ORDER BY text_hash""",

    "docs_jaccard_pairs" -> jaccardSql,

    // quality gate -> exact dedup -> near-dup reachability -> keep set
    "docs_curation_funnel" ->
      s"""WITH RECURSIVE fq AS (
            SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
          s1 AS (
            SELECT doc_id, text FROM fq
            WHERE round(least(len(ws) / 100.0, 1.0) * 0.5 +
              (len(list_intersect(ws, ['the', 'a', 'of', 'and', 'to', 'in']))
               * 1.0 / len(list_distinct(ws))) * 0.5, 6) >= 0.25),
          ex AS (SELECT min(doc_id) AS keep FROM s1 GROUP BY md5(text)),
          s2 AS (SELECT doc_id, text FROM s1
                 WHERE doc_id IN (SELECT keep FROM ex)),
          w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM s2),
          sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
                 FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)),
          sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          freq AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
          shp AS (SELECT sh.doc_id, sh.g FROM sh JOIN freq USING (g)
                  WHERE df <= 20),
          inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
            FROM shp a JOIN shp b USING (g) WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2),
          pairs AS (
            SELECT id_a, id_b FROM inter
              JOIN sz sa ON sa.doc_id = id_a
              JOIN sz sb ON sb.doc_id = id_b
            WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
          edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
          r(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src),
          drops AS (
            SELECT src FROM r GROUP BY src
            HAVING least(src, min(dst)) <> src)
        SELECT doc_id FROM s2
        WHERE doc_id NOT IN (SELECT src FROM drops)
        ORDER BY doc_id""",

    // reachability closure over the jaccard pairs: group = min reachable id
    "docs_dup_groups" ->
      s"""WITH RECURSIVE $shinglesCte,
           sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           freq AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
           shp AS (SELECT sh.doc_id, sh.g FROM sh JOIN freq USING (g)
                   WHERE df <= 20),
           inter AS (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
             FROM shp a JOIN shp b USING (g) WHERE a.doc_id < b.doc_id
             GROUP BY 1, 2),
           pairs AS (
             SELECT id_a, id_b FROM inter
               JOIN sz sa ON sa.doc_id = id_a
               JOIN sz sb ON sb.doc_id = id_b
             WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
           edges AS (
             SELECT id_a AS src, id_b AS dst FROM pairs
             UNION SELECT id_b, id_a FROM pairs),
           r(src, dst) AS (
             SELECT src, dst FROM edges
             UNION
             SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
         SELECT src AS id, least(src, min(dst)) AS group_id
         FROM r GROUP BY src ORDER BY id""",

    // reachability groups -> representative's content hash -> split
    // (the groupSafeCtes chain shared with the leakage audit)
    "docs_group_safe_splits" ->
      s"""WITH RECURSIVE $groupSafeCtes,
           h AS (
             SELECT rep.doc_id, rep.rep,
               CAST(('0x' || substr(md5(rd.text), 1, 15)) AS BIGINT) % 100
                 AS bucket
             FROM rep JOIN documents rd ON rd.doc_id = rep.rep)
         SELECT doc_id, rep, $splitCaseSql AS split
         FROM h ORDER BY doc_id""",

    // full MinHash+LSH mirror: one base hash per shingle + 32 affine perms
    // mod 2^31-1 -> 8 bands of 4 -> bucket self-join -> exact-Jaccard
    // verification (identical arithmetic to the Spark plan)
    "docs_minhash_pairs" -> {
      val M = graft.pipeline.Dedup.MinhashPrime
      val (minSelects, bandKeys) = EntryUtil.minhashSqlParts(32, 8)
      s"""WITH $shinglesCte,
           shb AS (SELECT doc_id, ${h60("g")} % $M AS hb FROM sh),
           mh AS (SELECT doc_id, $minSelects FROM shb GROUP BY doc_id),
           bands AS (
             SELECT doc_id, b AS band, CASE b $bandKeys END AS band_key
             FROM mh, UNNEST(generate_series(0, 7)) AS t(b)),
           cand AS (
             SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.band_key = y.band_key
                 AND x.doc_id < y.doc_id),
           sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           ver AS (
             SELECT id_a, id_b, count(*) AS c
             FROM cand JOIN sh a ON a.doc_id = id_a
               JOIN sh b ON b.doc_id = id_b AND a.g = b.g
             GROUP BY id_a, id_b)
         SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
         FROM ver JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b
         WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
         ORDER BY id_a, id_b"""
    },

    // the ONE fingerprint chain ([[simhashShCtes]]) with a rename-only
    // final select
    "docs_simhash" ->
      s"""WITH ${simhashShCtes}
         SELECT doc_id AS id, s AS simhash
         FROM sh ORDER BY id""",

    // same fingerprint CTE chain + the 4×15-bit band join and
    // xor/popcount verification (mirrors Dedup.simhashPairs exactly)
    "docs_simhash_pairs" ->
      s"""WITH ${simhashShCtes},
           bands AS (
             SELECT doc_id, b AS band, (s >> (b * 15)) & 32767 AS bk
             FROM sh, UNNEST(generate_series(0, 3)) AS t(b)),
           cand AS (
             SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id)
         SELECT id_a, id_b, bit_count(xor(a.s, b.s)) AS hamming
         FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
         WHERE bit_count(xor(a.s, b.s)) <= 3
         ORDER BY id_a, id_b""",

    "emb_dup_pairs" ->
      s"""WITH c AS (SELECT vec_id, embedding, $srp6 AS bucket FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cosSql AS cos
         FROM c a JOIN c b
           ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                 CAST(b.embedding AS DOUBLE[])) >= 0.45
         ORDER BY id_a, id_b""",

    "emb_dup_pairs_exact" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cosSql AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                 CAST(b.embedding AS DOUBLE[])) >= 0.45
         ORDER BY id_a, id_b""",

    "emb_knn_brute" ->
      s"""SELECT * FROM (
           SELECT a.vec_id AS qid, b.vec_id AS id,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                 CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rank,
             $cosSql AS cos
           FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
           WHERE a.vec_id < 10)
         WHERE rank <= 3 ORDER BY qid, rank""",

    "emb_knn_bucketed" ->
      s"""WITH c AS (SELECT vec_id, embedding, $srp6 AS bucket FROM embeddings),
           q AS (SELECT * FROM c WHERE vec_id < 10)
         SELECT * FROM (
           SELECT q.vec_id AS qid, b.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                 CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rank,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
               CAST(b.embedding AS DOUBLE[])), 6) AS cos
           FROM q JOIN c b ON q.bucket = b.bucket AND q.vec_id != b.vec_id)
         WHERE rank <= 1 ORDER BY qid, rank""",

    "docs_langid" -> {
      val scores = TextOps.LangMarkers.map { case (lang, ms) =>
        val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
        s"len(list_intersect(ws, $lst)) AS s_$lang"
      }.mkString(", ")
      // left-to-right argmax with first-wins tie-break (mirrors the fold)
      val folded = TextOps.LangMarkers.tail.foldLeft(
        (s"s_${TextOps.LangMarkers.head._1}", s"'${TextOps.LangMarkers.head._1}'")) {
        case ((bs, bl), (lang, _)) =>
          (s"greatest($bs, s_$lang)",
            s"(CASE WHEN s_$lang > $bs THEN '$lang' ELSE $bl END)")
      }
      s"""WITH w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
             FROM documents),
           sc AS (SELECT doc_id, $scores FROM w)
         SELECT doc_id AS id, ${folded._2} AS lang_pred,
           ${folded._1} AS score
         FROM sc ORDER BY id"""
    },

    "docs_quality" ->
      """WITH f AS (
           SELECT doc_id, length(text) AS n_chars,
             string_split(text, ' ') AS ws
           FROM documents)
         SELECT doc_id AS id, n_chars, len(ws) AS n_tokens,
           round(list_sum(list_transform(ws, w -> length(w))) * 1.0 / len(ws), 6)
             AS mean_token_len,
           round(len(list_intersect(ws, ['the', 'a', 'of', 'and', 'to', 'in']))
             * 1.0 / len(list_distinct(ws)), 6) AS stopword_ratio,
           round(least(len(ws) / 100.0, 1.0) * 0.5 +
             (len(list_intersect(ws, ['the', 'a', 'of', 'and', 'to', 'in']))
              * 1.0 / len(list_distinct(ws))) * 0.5, 6) AS quality
         FROM f ORDER BY id""",

    "docs_token_counts" ->
      s"""SELECT doc_id AS id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '${TextOps.TokenRegex}')) AS re_tokens
         FROM documents ORDER BY id""",

    "docs_fingerprint" ->
      s"""WITH $shinglesCte
         SELECT doc_id AS id, min(${h60("g")}) AS fingerprint
         FROM sh GROUP BY doc_id ORDER BY id""",

    "docs_winnow" ->
      s"""WITH ${EntryUtil.winnowSelSql(3, 4)}
         SELECT doc_id AS id, fp AS fingerprint
         FROM wn ORDER BY id, fingerprint""",

    "docs_pii" -> {
      val counts = TextOps.PiiPatterns.map { case (name, re) =>
        s"len(regexp_extract_all(text, '$re')) AS n_$name"
      }.mkString(", ")
      val flag = TextOps.PiiPatterns.map { case (name, _) => s"n_$name > 0" }
        .mkString(" OR ")
      s"""SELECT id, n_emails, n_phones, n_ips, ($flag) AS has_pii
          FROM (SELECT doc_id AS id, $counts
                FROM (${EntryUtil.piiFixtureSql}))
          ORDER BY id"""
    },

    "mm_decode" ->
      """SELECT doc_id AS id,
           CAST(1 + octet_length(encode(text)) % 64 AS INT) AS width,
           CAST(1 + unicode(substr(text, 1, 1)) % 64 AS INT) AS height,
           3 AS channels,
           CAST((1 + octet_length(encode(text)) % 64)
             * (1 + unicode(substr(text, 1, 1)) % 64) * 3 AS BIGINT) AS n_pixels,
           CAST(0 AS INT) AS decoded
         FROM documents ORDER BY id""",

    "mm_frames" ->
      """SELECT doc_id AS id, CAST(i AS INT) AS frame_idx,
           CAST(1 + octet_length(encode(text)) % 64 AS INT) AS width,
           CAST(1 + unicode(substr(text, 1, 1)) % 64 AS INT) AS height,
           CAST(0 AS INT) AS decoded
         FROM documents,
           UNNEST(generate_series(0, octet_length(encode(text)) % 5, 2)) AS t(i)
         ORDER BY id, frame_idx""",

    "mm_audio" ->
      """SELECT doc_id AS id, 8000 AS sample_rate,
           CAST(1 + octet_length(encode(text)) % 2 AS INT) AS channels,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_frames,
           CAST(0 AS INT) AS decoded
         FROM documents ORDER BY id""",

    "mm_resize" ->
      """WITH d AS (
           SELECT doc_id AS id,
             CAST(1 + octet_length(encode(text)) % 64 AS INT) AS width,
             CAST(1 + unicode(substr(text, 1, 1)) % 64 AS INT) AS height
           FROM documents)
         SELECT id, width, height,
           CAST(greatest(1, floor(width *
             least(1.0, 32.0 / greatest(width, height)))) AS INT) AS out_width,
           CAST(greatest(1, floor(height *
             least(1.0, 32.0 / greatest(width, height)))) AS INT) AS out_height,
           round(least(1.0, 32.0 / greatest(width, height)), 6) AS scale
         FROM d ORDER BY id""",

    // non-decodable blobs pass through byte-identical with zeroed geometry
    "mm_resize_pixels" ->
      """SELECT doc_id AS id, CAST(0 AS INT) AS out_width,
           CAST(0 AS INT) AS out_height, CAST(0 AS INT) AS decoded,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes
         FROM documents ORDER BY id""",

    // byte fold replay: ASCII corpus, so byte i of encode(text) is
    // unicode(substr(text, i, 1)); Scala 0-based index -> j = (i-1) % 4
    "mm_features" ->
      s"""WITH $foldBSql
         SELECT doc_id AS id,
           round(coalesce(sum(v) FILTER (WHERE j = 0), 0), 6) AS f0,
           round(coalesce(sum(v) FILTER (WHERE j = 1), 0), 6) AS f1,
           round(coalesce(sum(v) FILTER (WHERE j = 2), 0), 6) AS f2,
           round(coalesce(sum(v) FILTER (WHERE j = 3), 0), 6) AS f3
         FROM b GROUP BY doc_id ORDER BY id""",

    // the image-features FALLBACK contract over non-image bytes: the
    // same dim-4 fold, decoded pinned 0 (real decode is spec-proven)
    "mm_image_features" ->
      s"""WITH $foldBSql
         SELECT doc_id AS id, CAST(0 AS INT) AS decoded,
           round(coalesce(sum(v) FILTER (WHERE j = 0), 0), 6) AS f0,
           round(coalesce(sum(v) FILTER (WHERE j = 1), 0), 6) AS f1,
           round(coalesce(sum(v) FILTER (WHERE j = 2), 0), 6) AS f2,
           round(coalesce(sum(v) FILTER (WHERE j = 3), 0), 6) AS f3
         FROM b GROUP BY doc_id ORDER BY id""",

    // the projection replays the engine's exact op sequence: left-
    // associated Σ w_j·f_j over the UNROUNDED fold vector, then tanh.
    // This DuckDB build has no tanh — 1 − 2/(e²ˣ+1) is the saturation-
    // safe identity (exp overflow → 1.0, underflow → −1.0, exactly like
    // math.tanh; mid-range agrees within ulps, absorbed by round6)
    "mm_features_proj" ->
      s"""WITH $foldBSql,
         f AS (
           SELECT doc_id,
             coalesce(sum(v) FILTER (WHERE j = 0), 0) AS f0,
             coalesce(sum(v) FILTER (WHERE j = 1), 0) AS f1,
             coalesce(sum(v) FILTER (WHERE j = 2), 0) AS f2,
             coalesce(sum(v) FILTER (WHERE j = 3), 0) AS f3
           FROM b GROUP BY doc_id),
         x AS (
           SELECT doc_id,
             0.5 * f0 + -1.0 * f1 + 0.25 * f2 + 2.0 * f3 AS x0,
             -0.125 * f0 + 1.5 * f1 + -0.75 * f2 + 0.0625 * f3 AS x1
           FROM f)
         SELECT doc_id AS id,
           round(1.0 - 2.0 / (exp(2.0 * x0) + 1.0), 6) AS p0,
           round(1.0 - 2.0 / (exp(2.0 * x1) + 1.0), 6) AS p1
         FROM x ORDER BY id""")
}
