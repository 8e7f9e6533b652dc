package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{TextExpressions, VectorExpressions}
import graft.pipeline.{Dedup, Multimodal, Similarity}
import graft.spatial.Spatial

/** Training-data pipeline operators: dedup, similarity, multimodal,
  * spatial, and the native expressions backing them. */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  // ---- native expressions --------------------------------------------------

  test("vec_dot and vec_cosine match reference math") {
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
    val Array(dot, cos) = df.select(
      VectorExpressions.vecDot(col("a"), col("b")),
      VectorExpressions.vecCosine(col("a"), col("b"))).as[(Double, Double)]
      .collect().flatMap(t => Array(t._1, t._2))
    assert(dot === 32.0)
    assert(math.abs(cos - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-15)
  }

  test("vec_dot / vec_cosine are registered as SQL functions via extensions") {
    val r = spark.sql(
      """SELECT vec_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
                        array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d,
                vec_cosine(array(CAST(1 AS FLOAT)), array(CAST(1 AS FLOAT))) AS c""")
      .as[(Double, Double)].head()
    assert(r === ((11.0, 1.0)))
  }

  test("pii scan counts emails, phones, ips") {
    val df = Seq(
      (1L, "reach me at a.b@x.io or 555-123-4567 server 10.0.0.1"),
      (2L, "no sensitive content here")).toDF("doc_id", "text")
    val out = graft.pipeline.TextOps.piiScan(df, "doc_id", "text").orderBy("id")
      .select("n_emails", "n_phones", "n_ips", "has_pii")
      .as[(Int, Int, Int, Boolean)].collect()
    assert(out(0) === ((1, 1, 1, true)))
    assert(out(1) === ((0, 0, 0, false)))
  }

  test("pii redact replaces matches with typed placeholders and counts them") {
    val df = Seq(
      (1L, "reach me at a.b@x.io or 555-123-4567 server 10.0.0.1"),
      (2L, "no sensitive content here")).toDF("doc_id", "text")
    val out = graft.pipeline.TextOps.piiRedact(df, "doc_id", "text")
      .orderBy("id").select("text_redacted", "n_redacted")
      .as[(String, Int)].collect()
    assert(out(0) === (("reach me at [EMAILS] or [PHONES] server [IPS]", 3)))
    assert(out(1) === (("no sensitive content here", 0)))
  }

  test("vec_cosine of identical vectors is 1") {
    val df = Seq((Array(0.5f, -2f), Array(0.5f, -2f))).toDF("a", "b")
    assert(df.select(VectorExpressions.vecCosine(col("a"), col("b")))
      .as[Double].head() === 1.0)
  }

  test("word_shingles dedups and handles short/empty docs") {
    val df = Seq("a b c d", "a b a b a b", "a b", "").toDF("text")
    val out = df.select(TextExpressions.wordShingles(col("text"), 3))
      .as[Seq[String]].collect()
    assert(out(0) === Seq("a b c", "b c d"))
    assert(out(1) === Seq("a b a", "b a b")) // duplicates collapsed
    assert(out(2) === Seq.empty) // fewer than k words
    assert(out(3) === Seq.empty)
  }

  // ---- dedup ---------------------------------------------------------------

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely different text about spark engines and columnar io")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per distinct text") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("keep_id").select("keep_id", "n_dups").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("minhash LSH surfaces the exact pair and the verified near pair") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      k = 2, numPerm = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical -> every band collides
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccard pairs: exact similarity with threshold") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", k = 2, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("containment finds the snippet-in-aggregator pair Jaccard misses") {
    val big = (1 to 30).map(i => s"w$i").mkString(" ")
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val d2 = Seq((1L, big), (2L, small),
      (3L, "entirely unrelated words in this one here")).toDF("doc_id", "text")
    val jac = Dedup.jaccardPairs(d2, "doc_id", "text", k = 3, threshold = 0.8)
      .count()
    assert(jac === 0, "Jaccard can't see the asymmetric overlap")
    val cont = Dedup.containmentPairs(d2, "doc_id", "text", k = 3, threshold = 0.8)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    // ordered: only the CONTAINED side (2: all 10 of its shingles appear
    // in 1's 28) clears the bar; the containing side scores 10/28
    assert(cont === Seq((2L, 1L, 1.0)))
  }

  test("simhash of identical docs is identical, near docs are close") {
    val h = Dedup.simhash(docs, "doc_id", "text").orderBy("id")
      .select("simhash").as[Long].collect()
    assert(h(0) === h(1))
    assert(java.lang.Long.bitCount(h(0) ^ h(2)) < 20) // near dup: small hamming
  }

  test("simhash pairs: banded candidates find every pair within maxDist") {
    // identical docs 1,2 (hamming 0) must pair; the banding must equal the
    // brute-force answer (pigeonhole: maxDist < bands => exact recall)
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val h = Dedup.simhash(docs, "doc_id", "text")
      .select("id", "simhash").as[(Long, Long)].collect()
    val brute = (for {
      (a, ha) <- h; (b, hb) <- h
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(banded === brute)
    assert(banded.contains((1L, 2L)))
  }

  test("winnowing: shared w+k-1 word runs guarantee a shared fingerprint") {
    val shared = "alpha beta gamma delta epsilon zeta" // 6 words = w+k-1 with k=3,w=4
    val docs2 = Seq(
      (1L, s"one two $shared three four five six seven"),
      (2L, s"nine ten eleven $shared twelve thirteen fourteen"),
      (3L, "entirely unrelated content with many different words here")
    ).toDF("doc_id", "text")
    val fp = graft.pipeline.TextOps.winnow(docs2, "doc_id", "text", k = 3, w = 4)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert((fp(1L) & fp(2L)).nonEmpty) // guarantee from the shared run
    assert((fp(1L) & fp(3L)).isEmpty)
  }

  // ---- similarity ----------------------------------------------------------

  test("knnBrute returns exact top-k by cosine") {
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(-1f, 0f))).toDF("id", "embedding")
    val queries = Seq((10L, Array(1f, 0f))).toDF("qid", "embedding")
    val out = Similarity.knnBrute(corpus, queries, k = 2)
      .select("id", "rank").as[(Long, Int)].collect().toSeq
    assert(out === Seq((1L, 1), (2L, 2)))
  }

  test("codegen SRP bucket equals the sign-bit reference formula") {
    val seeds = Iterator.iterate(99L)(s => s * 6364136223846793005L + 1442695040888963407L)
    val vecs = (0 until 64).map { i =>
      (i.toLong, Array.fill(8)(((seeds.next() >>> 33).toFloat / (1L << 30).toFloat) - 1f))
    }
    val out = vecs.toDF("id", "embedding")
      .select($"id", Similarity.srpBucket($"embedding", 6).as("b"))
      .as[(Long, Long)].collect().toMap
    vecs.foreach { case (id, v) =>
      val expected = (0 until 6).map(j => if (v(j) > 0f) 1L << j else 0L).sum
      assert(out(id) === expected, s"vec $id: ${v.toSeq}")
    }
  }

  test("knnBucketed only scores same-SRP-bucket candidates") {
    val corpus = Seq(
      (1L, Array(1f, 1f)), (2L, Array(1f, 0.5f)),
      (3L, Array(-1f, -1f))).toDF("id", "embedding")
    val queries = Seq((10L, Array(1f, 0.9f))).toDF("qid", "embedding")
    val out = Similarity.knnBucketed(corpus, queries, k = 3, bits = 2)
      .select("id").as[Long].collect().toSet
    assert(out === Set(1L, 2L)) // 3 is in the opposite sign bucket
  }

  test("knnIvf recall@5 vs brute force on a clustered corpus") {
    // 4 deterministic clusters of 25 vectors in 4-d (LCG jitter); recall
    // of the adaptive cells with nprobe=2 must stay high
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
    val jit = lcg(7L).map(s => ((s >>> 33).toFloat / (1L << 31).toFloat - 0.5f) * 0.2f)
    val centers = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, 0f, 1f))
    val corpus = (0 until 100).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + jit.next()))
    }.toDF("id", "embedding")
    val queries = (0 until 4).map(i =>
      ((100 + i).toLong, centers(i).map(x => x + jit.next()))).toDF("qid", "embedding")
    val brute = Similarity.knnBrute(corpus, queries, k = 5)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnIvf(corpus, queries, k = 5, nlist = 4, nprobe = 2)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall@5 too low: $recall")
  }

  test("IVF codebook persists and reproduces the inline-fit results") {
    val corpus = (
      (1 to 10).map(i => (i.toLong, Array(10f + i * 0.01f, 10f))) ++
      (11 to 20).map(i => (i.toLong, Array(-10f - i * 0.01f, -10f)))
    ).toDF("id", "embedding")
    val queries = Seq((100L, Array(10.05f, 10f))).toDF("qid", "embedding")
    val centers = Similarity.fitCodebook(corpus, nlist = 2, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("graft_codebook").toString
    Similarity.writeCodebook(spark, centers, s"$path/cb")
    val back = Similarity.readCodebook(spark, s"$path/cb")
    assert(back === centers)
    val inline = Similarity.knnIvf(corpus, queries, k = 3, nlist = 2, nprobe = 1)
      .collect().map(_.toSeq)
    val prebuilt = Similarity.knnIvfWith(back, corpus, queries, k = 3, nprobe = 1)
      .collect().map(_.toSeq)
    assert(prebuilt.toSeq === inline.toSeq)
  }

  test("knnIvf recalls the true neighbor when probing its cell") {
    // two well-separated clusters; the query sits in cluster A
    val corpus = (
      (1 to 10).map(i => (i.toLong, Array(10f + i * 0.01f, 10f))) ++
      (11 to 20).map(i => (i.toLong, Array(-10f - i * 0.01f, -10f)))
    ).toDF("id", "embedding")
    val queries = Seq((100L, Array(10.05f, 10f))).toDF("qid", "embedding")
    val ivf = Similarity.knnIvf(corpus, queries, k = 3, nlist = 2, nprobe = 1)
      .select("id").as[Long].collect().toSet
    val brute = Similarity.knnBrute(corpus, queries, k = 3)
      .select("id").as[Long].collect().toSet
    assert(ivf === brute) // cluster A's cell contains the true top-3
  }

  test("semDedup keeps the outlier of a near-dup cluster, ties to lower id") {
    // one colinear cluster at (10,10) — every pair has cosine ≈ 1 — plus
    // an isolated vector in the other cell. Explicit centers make the
    // geometry exact: a,b,c → cell 0, d → cell 1.
    val corpus = Seq(
      (1L, Array(10.1f, 10.1f)), (2L, Array(10.3f, 10.3f)),
      (3L, Array(9.9f, 9.9f)), (4L, Array(-10f, -10f)))
      .toDF("id", "embedding")
    val centers = Seq((0, Seq(10.0, 10.0)), (1, Seq(-10.0, -10.0)))
    val out = Similarity.semDedup(corpus, centers, threshold = 0.99)
      .orderBy("id").select("id", "cell", "kept")
      .as[(Long, Int, Int)].collect().toSeq
    graft.ScopedCache.release()
    // b (id 2) is farthest from the centroid → kept; a is dominated by b;
    // c ties a on rounded distance and loses to the lower id; d has no
    // same-cell near-dup
    assert(out === Seq((1L, 0, 0), (2L, 0, 1), (3L, 0, 0), (4L, 1, 1)))
  }

  test("semDedup never compares near-dups that land in different cells") {
    // x and y are exactly colinear (cos = 1) but each sits nearer a
    // different centroid — cluster-scoped search must keep both
    val corpus = Seq(
      (1L, Array(1.04f, 0f)), (2L, Array(1.06f, 0f))).toDF("id", "embedding")
    val centers = Seq((0, Seq(1.0, 0.0)), (1, Seq(1.1, 0.0)))
    val out = Similarity.semDedup(corpus, centers, threshold = 0.9)
      .orderBy("id").select("id", "cell", "kept")
      .as[(Long, Int, Int)].collect().toSeq
    graft.ScopedCache.release()
    assert(out === Seq((1L, 0, 1), (2L, 1, 1)))
  }

  test("dsirWeights scores target-like docs positive, pool-like negative") {
    import graft.pipeline.TextOps
    // target speaks "alpha beta"; raw doc 1 mimics it, docs 2-3 share
    // grams the target never uses, doc 4 is too short to shingle. 4096
    // buckets keep the four grams collision-free.
    val target = Seq((100L, "alpha beta alpha beta alpha beta"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta alpha beta"), (2L, "gamma delta gamma delta"),
      (3L, "gamma delta gamma delta"), (4L, "x")).toDF("doc_id", "text")
    val out = TextOps.dsirWeights(raw, target, "doc_id", "text",
        buckets = 4096, k = 2)
      .orderBy("id").select("id", "n_grams", "logw_micro", "selected")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    graft.ScopedCache.release()
    assert(out.map(_._1) === Seq(1L, 2L, 3L, 4L))
    assert(out(0)._2 === 3L && out(0)._3 > 0 && out(0)._4) // target-like
    assert(out(1)._3 < 0 && !out(1)._4)                    // pool-like
    assert(out(1)._3 === out(2)._3)                        // same text, same score
    assert(out(3) === ((4L, 0L, 0L, true)))                // shingle-free doc
  }

  test("dsirWeights fixed-point scores are partitioning-invariant") {
    import graft.pipeline.TextOps
    val target = Seq((9L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val raw = (1L to 20L).map(i =>
      (i, s"doc $i the quick brown fox says ${"w" * (i % 3).toInt}"))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val r = TextOps.dsirWeights(df, target, "doc_id", "text")
        .orderBy("id").select("id", "logw_micro")
        .as[(Long, Long)].collect().toSeq
      graft.ScopedCache.release()
      r
    }
    assert(run(raw) === run(raw.repartition(7)))
  }

  test("semDedup with an unreachable threshold keeps every vector") {
    // cosine ≤ 1 always, so threshold 1.5 can never mark a near-dup
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0.01f)), (3L, Array(0.9f, 0f)))
      .toDF("id", "embedding")
    val out = Similarity.semDedup(corpus, Seq((0, Seq(1.0, 0.0))), threshold = 1.5)
      .select("kept").as[Int].collect()
    graft.ScopedCache.release()
    assert(out.toSeq === Seq(1, 1, 1))
  }

  test("dsirWeights of a corpus against itself is exactly zero") {
    import graft.pipeline.TextOps
    // identical target and raw models → every bucket's log-ratio is
    // ln(1) = 0 micro-units EXACTLY, so each doc's integer score is 0
    // and everything clears the default threshold
    val d = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"), (3L, "zeta"))
      .toDF("doc_id", "text")
    val out = TextOps.dsirWeights(d, d, "doc_id", "text")
      .select("logw_micro", "selected").as[(Long, Boolean)].collect().toSeq
    graft.ScopedCache.release()
    assert(out === Seq((0L, true), (0L, true), (0L, true)))
  }

  test("dedupGroups with string ids takes the distributed path, min-string labels") {
    val pairs = Seq(("docB", "docC"), ("docA", "docB"), ("docX", "docY"))
      .toDF("id_a", "id_b")
    val out = graft.pipeline.Dedup.dedupGroups(pairs)
      .orderBy("id").as[(String, String)].collect().toSeq
    assert(out === Seq(("docA", "docA"), ("docB", "docA"), ("docC", "docA"),
      ("docX", "docX"), ("docY", "docX")))
  }

  test("dedupGroups labels every component with its minimum id") {
    // components: {1,2,3,7} (chain 1-2, 2-3, 3-7), {5,9}, pair frame only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (5L, 9L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      5L -> 5L, 9L -> 5L)
    val groups = Dedup.dedupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups === expected)
    // keep/drop: representatives are exactly the component minima
    assert(groups.filter { case (id, g) => id == g }.keySet === Set(1L, 5L))
    // the distributed propagation path (forced by a zero driver threshold)
    // must agree with the driver union-find fast path
    val distributed = Dedup.dedupGroups(pairs, driverMaxEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed === expected)
  }

  // ---- multimodal plumbing -------------------------------------------------

  test("multimodal decode/frames stream through mapPartitions; non-image bytes fall back") {
    val df = Seq((1L, "abcdef".getBytes), (2L, Array.empty[Byte]))
      .toDF("id", "bytes")
    val meta = Multimodal.decodeBinary(df, "id", "bytes").collect().sortBy(_.id)
    assert(meta.map(_.n_pixels).forall(_ > 0))
    assert(meta.forall(!_.decoded), "text/empty bytes must take the fallback")
    val frames = Multimodal.sampleFrames(df, "id", "bytes", stride = 1).collect()
    assert(frames.nonEmpty && frames.forall(f => !f.decoded && f.width > 0))
  }

  test("audio decode is REAL for WAV (javax.sound.sampled header parse)") {
    import javax.sound.sampled._
    // 1000 stereo 16-bit frames at 44.1 kHz, little-endian PCM
    val fmt = new AudioFormat(44100f, 16, 2, true, false)
    val pcm = new Array[Byte](1000 * fmt.getFrameSize)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, 1000),
      AudioFileFormat.Type.WAVE, out)
    val df = Seq((1L, out.toByteArray), (2L, "not audio".getBytes))
      .toDF("id", "bytes")
    val m = Multimodal.decodeAudio(df, "id", "bytes").collect()
      .map(a => a.id -> a).toMap
    assert(m(1L) == Multimodal.AudioMeta(1L, 44100, 2, 1000, decoded = true))
    assert(!m(2L).decoded && m(2L).n_frames == 9L)
  }

  test("frame sampling is REAL for multi-image containers (GIF via ImageIO)") {
    import javax.imageio.ImageIO
    // a 3-frame GIF written through the JDK's sequence writer
    val out = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until 3).foreach { _ =>
      val img = new java.awt.image.BufferedImage(11, 7,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); writer.dispose(); ios.close()
    val df = Seq((1L, out.toByteArray), (2L, "plain text".getBytes))
      .toDF("id", "bytes")
    val frames = Multimodal.sampleFrames(df, "id", "bytes", stride = 2)
      .collect().groupBy(_.id)
    // stride 2 over 3 real frames -> indices 0 and 2, real 11x7 geometry
    assert(frames(1L).map(_.frame_idx).sorted.toSeq == Seq(0, 2))
    assert(frames(1L).forall(f => f.decoded && f.width == 11 && f.height == 7))
    assert(frames(2L).forall(!_.decoded))
  }

  /** Encode a w×h image of the given BufferedImage type to `format` bytes. */
  private def imageBytes(w: Int, h: Int, imgType: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, imgType)
    (0 until w).foreach(x => (0 until h).foreach(y =>
      img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, out)
    out.toByteArray
  }

  test("multimodal decode is REAL for images: ImageIO yields exact geometry") {
    import java.awt.image.BufferedImage._
    val png = imageBytes(37, 23, TYPE_INT_RGB, "png")       // 3-channel RGB
    val pngA = imageBytes(8, 5, TYPE_INT_ARGB, "png")       // 4-channel RGBA
    val jpg = imageBytes(16, 9, TYPE_INT_RGB, "jpg")        // JPEG codec
    val df = Seq((1L, png), (2L, pngA), (3L, jpg), (4L, "not an image".getBytes))
      .toDF("id", "bytes")
    val m = Multimodal.decodeBinary(df, "id", "bytes").collect()
      .map(r => r.id -> r).toMap
    assert(m(1L) == Multimodal.MediaMeta(1L, 37, 23, 3, 37L * 23 * 3, decoded = true))
    assert(m(2L) == Multimodal.MediaMeta(2L, 8, 5, 4, 8L * 5 * 4, decoded = true))
    assert(m(3L).decoded && m(3L).width == 16 && m(3L).height == 9)
    assert(!m(4L).decoded, "unrecognized bytes fall back, flagged")
    // resize consumes the real geometry: 37x23 into a 16-box -> 16x9
    val rz = Multimodal.resizeBinary(df.where($"id" === 1L), "id", "bytes", maxSide = 16)
      .collect().head
    assert((rz.out_width, rz.out_height) == (16, 9) && rz.width == 37)
  }

  test("image features are REAL: grid-pooled luma recovers known quadrants") {
    import java.awt.image.BufferedImage._
    // 4x4 image of four solid 2x2 gray quadrants: v, v, v pixels have
    // BT.601 luma exactly v/255, so each 2x2 pooling cell's mean is the
    // quadrant's gray level — the real-decode path is exact, not fuzzy
    val img = new java.awt.image.BufferedImage(4, 4, TYPE_INT_RGB)
    def gray(v: Int) = (v << 16) | (v << 8) | v
    for (x <- 0 until 4; y <- 0 until 4) {
      val v = (if (y < 2) 0 else 2) + (if (x < 2) 0 else 1) match {
        case 0 => 0; case 1 => 51; case 2 => 102; case 3 => 255
      }
      img.setRGB(x, y, gray(v))
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val df = Seq((1L, out.toByteArray), (2L, "not an image".getBytes))
      .toDF("id", "bytes")
    val rows = Multimodal.imageFeatures(df, "id", "bytes", grid = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getSeq[Double](2))).toMap
    val (dec, feats) = rows(1L)
    assert(dec, "a real PNG decodes")
    // cells in (gy·grid + gx) order: tl, tr, bl, br
    val expect = Seq(0.0, 51 / 255.0, 102 / 255.0, 1.0)
    feats.zip(expect).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-9, s"grid luma: $feats vs $expect")
    }
    // non-decodable bytes take the byte fold at the same width, flagged
    val (dec2, feats2) = rows(2L)
    assert(!dec2 && feats2.size === 4 && feats2.sum > 0)
  }

  test("decode bomb: a 60000x60000 header takes the fallback, never a raster allocation") {
    // a VALID 54-byte BMP header declaring a 60000x60000 24bpp raster
    // (~10.8 GB decoded) with no pixel data: ImageIO recognizes it and
    // would try the allocation — the header-first dimension gate must
    // route it to the fallback instead of an OutOfMemoryError
    val b = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
      .putInt(54).putInt(0).putInt(54) // file size, reserved, data offset
      .putInt(40).putInt(60000).putInt(60000) // info size, w, h
      .putShort(1).putShort(24) // planes, bpp
      .putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
    val bomb = b.array()
    val df = Seq((1L, bomb)).toDF("id", "bytes")
    val feat = Multimodal.imageFeatures(df, "id", "bytes", grid = 2)
      .select("decoded").as[Boolean].head()
    assert(!feat, "decode bomb must take the byte-fold fallback")
    val rz = Multimodal.resizePixels(df, "id", "bytes", maxSide = 16)
      .collect().head
    assert(!rz.decoded && rz.bytes.sameElements(bomb),
      "decode bomb must pass through byte-identical")
    val meta = Multimodal.decodeBinary(df, "id", "bytes").collect().head
    assert(!meta.decoded, "decode bomb must take the metadata fallback")
  }

  test("pixel resize is REAL: output bytes re-decode at the target geometry") {
    import java.awt.image.BufferedImage._
    val png = imageBytes(37, 23, TYPE_INT_RGB, "png")
    val df = Seq((1L, png), (2L, "not an image".getBytes)).toDF("id", "bytes")
    val out = Multimodal.resizePixels(df, "id", "bytes", maxSide = 16)
      .collect().map(r => r.id -> r).toMap
    assert(out(1L).decoded && (out(1L).out_width, out(1L).out_height) == ((16, 9)))
    // the produced asset is a real image: round-trip it through the codec
    val round = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L).bytes))
    assert(round.getWidth == 16 && round.getHeight == 9)
    assert(out(1L).bytes.length < png.length, "downscale shrinks the asset")
    // non-decodable blobs pass through byte-identical, flagged
    assert(!out(2L).decoded && out(2L).bytes.sameElements("not an image".getBytes))
  }

  // ---- spatial -------------------------------------------------------------

  private lazy val cat = Seq(
    ("s1", 0.0f, 0.0f), ("s2", 10.0f, 10.0f), ("s3", 50.0f, 50.0f),
    ("s4", -170.0f, 80.0f)).toDF("name", "lon", "lat")

  test("spatial range query returns boxed series") {
    val out = Spatial.rangeQuery(cat, -20, 20, -20, 20)
      .select("name").as[String].collect().toSet
    assert(out === Set("s1", "s2"))
  }

  test("spatial kNN orders by distance with name tiebreak") {
    val out = Spatial.knn(cat, 1.0, 1.0, 3).select("name").as[String].collect()
    assert(out.toSeq === Seq("s1", "s2", "s3"))
  }

  test("grid-pruned kNN matches brute kNN when radius covers k") {
    val brute = Spatial.knn(cat, 1.0, 1.0, 2).select("name").as[String].collect()
    val pruned = Spatial.knnPruned(cat, 1.0, 1.0, 2, radius = 60, cellDeg = 10)
      .select("name").as[String].collect()
    assert(brute.toSeq === pruned.toSeq)
  }

  // ---- curation: contamination / repetition / splits / sampling -----------

  test("contamination: benchmark-identical doc is 1.0, disjoint doc is 0") {
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon"), // identical to benchmark
      (11L, "alpha beta gamma something else entirely new"), // partial
      (12L, "one two three four five six")) // disjoint
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextOps
      .contamination(docs, "doc_id", "text", bench, "text", k = 3,
        threshold = 0.5)
      .orderBy("id")
      .select("n_shingles", "n_overlap", "contamination", "contaminated")
      .as[(Int, Long, Double, Boolean)].collect()
    assert(out(0) === ((3, 3L, 1.0, true)))
    assert(out(1)._2 === 1L) // "alpha beta gamma" only
    assert(!out(1)._4) // 1/5 < 0.5
    assert(out(2) === ((4, 0L, 0.0, false)))
  }

  test("contaminationBloom: large m has no FPs (= exact); small m only ever over-flags") {
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "alpha beta gamma something else entirely new"),
      (12L, "one two three four five six"),
      (13L, "p q r s t u v w x y z")) // extra disjoint doc: FP fodder
      .toDF("doc_id", "text")
    def exact = graft.pipeline.TextOps
      .contamination(docs, "doc_id", "text", bench, "text", k = 3, threshold = 0.5)
      .orderBy("id").select("id", "n_overlap", "contaminated")
      .as[(Long, Long, Boolean)].collect()
    def bloomed(m: Int, nh: Int) = {
      val bits = graft.pipeline.TextOps.bloomBits(bench, "text", k = 3,
        mBits = m, numHashes = nh)
      graft.pipeline.TextOps.contaminationBloom(docs, "doc_id", "text", bits,
        k = 3, mBits = m, numHashes = nh, threshold = 0.5)
        .orderBy("id").select("id", "n_overlap", "contaminated")
        .as[(Long, Long, Boolean)].collect()
    }
    // m >> n·numHashes: FP odds ~ (3·5/2^20)^5 — bit-identical to exact
    assert(bloomed(1 << 20, 5).toSeq === exact.toSeq)
    // m = 4 slots: every probe collides, ALL shingles read as overlapping —
    // the documented degradation is one-sided (n_overlap >= exact per doc,
    // flagged set a superset; never an under-flag / false negative)
    val tiny = bloomed(4, 2)
    assert(tiny.zip(exact).forall { case ((i1, o1, c1), (i2, o2, c2)) =>
      i1 == i2 && o1 >= o2 && (c1 || !c2)
    })
    assert(tiny.exists { case (i, o, _) => // real FPs exercised
      exact.find(_._1 == i).exists(_._2 < o)
    })
  }

  test("contaminationBloomPacked: in-row fold == join form, FPs included") {
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "alpha beta gamma something else entirely new"),
      (12L, "one two three four five six"),
      (13L, "p q r s t u v w x y z"),
      (14L, "ab")) // < k words: n_shingles 0 on both paths
      .toDF("doc_id", "text")
    // m = 8: heavy collisions, so the equality covers real FP arithmetic
    for ((m, nh) <- Seq((1 << 16, 4), (8, 2))) {
      val bits = graft.pipeline.TextOps.bloomBits(bench, "text", k = 3,
        mBits = m, numHashes = nh)
      val joined = graft.pipeline.TextOps.contaminationBloom(docs, "doc_id",
        "text", bits, k = 3, mBits = m, numHashes = nh, threshold = 0.5)
        .orderBy("id").collect().toSeq
      val packed = graft.pipeline.TextOps.contaminationBloomPacked(docs,
        "doc_id", "text", graft.pipeline.TextOps.packBloom(bits, m), k = 3,
        mBits = m, numHashes = nh, threshold = 0.5)
        .orderBy("id").collect().toSeq
      assert(packed === joined, s"m=$m nh=$nh")
    }
  }

  test("bloomBits: index is bounded by mBits no matter the benchmark size") {
    val bench = (0 until 200).map(i =>
      (i.toLong, s"w${i}a w${i}b w${i}c w${i}d w${i}e")).toDF("doc_id", "text")
    val m = 64
    val bits = graft.pipeline.TextOps.bloomBits(bench, "text", k = 3,
      mBits = m, numHashes = 5).as[Long].collect()
    // 200 docs x 3 shingles x 5 probes = 3000 set ops, but the DISTINCT
    // position table can never exceed the m slots (here it saturates)
    assert(bits.length <= m)
    assert(bits.forall(p => p >= 0 && p < m))
    assert(bits.distinct.length === bits.length)
  }

  test("recallAtK: per-query hit fraction; absent queries score zero") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L),
      (3L, 30L), (3L, 31L)).toDF("qid", "id")
    // the duplicate (1, 10) row models overlapping probe buckets: it
    // must not double-count a hit (recall stays in [0, 1])
    val approx = Seq((1L, 10L), (1L, 10L), (1L, 12L), (1L, 99L),
      (3L, 30L), (3L, 31L))
      .toDF("qid", "id")
    val out = graft.pipeline.Similarity.recallAtK(approx, exact)
      .orderBy("qid").select("qid", "n_hit", "recall")
      .as[(Long, Long, Double)].collect().toSeq
    // q1: found 2 of 3 (the 99 is a miss against exact, not a hit);
    // q2: the index returned nothing -> recall 0, still reported;
    // q3: the exact side has only 2 neighbors (corpus smaller than k) —
    // the denominator is the per-qid EXACT count, so a perfect index
    // reads 1.0, not 2/3
    assert(out === Seq((1L, 2L, 0.666667), (2L, 0L, 0.0), (3L, 2L, 1.0)))
  }

  test("knnLabel: majority wins; vote count ties resolve to the smallest label") {
    // seeds: three label-1 vectors near +x, two label-2 near +y; a +x
    // query's 3-NN are all label 1; an equidistant diagonal query with
    // k = 2 draws one of each -> tie -> label 1 (the smaller) wins
    val seeds = Seq(
      (1L, Array(1.0f, 0.0f), 1), (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(1.0f, 0.1f), 1),
      (4L, Array(0.0f, 1.0f), 2), (5L, Array(0.1f, 0.9f), 2))
      .toDF("id", "embedding", "label")
    val qs = Seq((10L, Array(1.0f, 0.05f)), (11L, Array(1.0f, 1.0f)))
      .toDF("qid", "embedding")
    val k3 = graft.pipeline.Similarity.knnLabel(seeds, qs, k = 3)
      .orderBy("qid").select("qid", "label", "votes")
      .as[(Long, Int, Long)].collect().toSeq
    assert(k3.head === ((10L, 1, 3L)), s"+x query: unanimous label 1: $k3")
    // diagonal at k = 2: nearest per pole -> 1 vote each -> smallest label
    val k2 = graft.pipeline.Similarity.knnLabel(seeds, qs.where($"qid" === 11L), k = 2)
      .select("qid", "label", "votes").as[(Long, Int, Long)].collect().toSeq
    assert(k2 === Seq((11L, 1, 1L)), s"vote tie must resolve to label 1: $k2")
  }

  test("knnLabelIvf: probing every cell equals the brute knnLabel; null seeds dropped") {
    // deterministic spread in 4-d; 12 seeds across 3 labels (plus one
    // null-labeled decoy), 30 corpus-side queries
    val rnd = Iterator.iterate(41L)(s => s * 6364136223846793005L + 1442695040888963407L)
    def vec() = Array.fill(4)(((rnd.next() >>> 33).toFloat / (1L << 30).toFloat) - 1f)
    val seeds = (0L until 12L).map(i =>
        (i, vec(), if (i == 5L) None else Some((i % 3).toInt)))
      .toDF("id", "embedding", "label")
    val qs = (100L until 130L).map(i => (i, vec())).toDF("qid", "embedding")
    // nprobe = nlist: every cell probed -> the IVF candidate set IS the
    // whole seed set, so the two orientations must agree row-for-row
    // (the broadcast direction is a plan choice, never semantics)
    val ivf = graft.pipeline.Similarity.knnLabelIvf(seeds, qs, k = 3,
        nlist = 2, nprobe = 2, iters = 1)
      .orderBy("qid").select("qid", "label", "votes")
      .as[(Long, Int, Long)].collect().toSeq
    val brute = graft.pipeline.Similarity.knnLabel(seeds, qs, k = 3)
      .orderBy("qid").select("qid", "label", "votes")
      .as[(Long, Int, Long)].collect().toSeq
    assert(ivf === brute, "full-probe IVF labeling must equal the brute path")
    assert(ivf.size === 30, "every query labeled")
    // an all-null-labeled seed set -> no centers: degrade to an empty
    // result like every other kNN path, never an analysis-time crash
    val none = graft.pipeline.Similarity.knnLabelIvf(
      seeds.withColumn("label", lit(null).cast("int")), qs, k = 3,
      nlist = 2, nprobe = 2, iters = 1)
    assert(none.count() === 0, "no labeled seeds -> empty labeling")
  }

  test("labelVotes: composes with any (qid, id) neighbor frame") {
    val seedLabels = Seq((1L, Some(7)), (2L, Some(7)), (3L, Some(9)), (4L, None))
      .toDF("id", "label")
    // a hand-built neighbor frame (as a persisted neighbor table would
    // be): q10 sees 1,2,3 -> label 7 by 2 votes; q11 sees 3,4 -> the
    // null-labeled seed 4 is dropped, label 9 wins with 1 vote
    val nn = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 3L), (11L, 4L))
      .toDF("qid", "id")
    val out = graft.pipeline.Similarity.labelVotes(seedLabels, nn)
      .orderBy("qid").select("qid", "label", "votes")
      .as[(Long, Int, Long)].collect().toSeq
    assert(out === Seq((10L, 7, 2L), (11L, 9, 1L)))
  }

  test("pairEval: recall/precision over unordered pair keys, dedup first") {
    val exact = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("id_a", "id_b")
    // the duplicate (1,2) models overlapping bands — it must not
    // double-count; (9,10) is a spurious approx pair (precision < 1)
    val approx = Seq((1L, 2L), (1L, 2L), (3L, 4L), (9L, 10L))
      .toDF("id_a", "id_b")
    val out = graft.pipeline.Dedup.pairEval(approx, exact)
      .as[(Long, Long, Long, Double, Double)].collect().head
    assert(out === ((4L, 3L, 2L, 0.666667, 0.5)))
  }

  test("knnSeedProbe: a codebook past the in-row literal ceiling fails loudly") {
    // the in-row probe inlines centers as plan literals (that is what
    // keeps query vectors out of every shuffle); past the documented
    // ceiling it must refuse — silently degrading codegen at nlist ~10⁴
    // is exactly the failure the contract exists to prevent, and the
    // cellsFor fallback would shuffle vectors, so there is none
    val big = (0 to graft.pipeline.Similarity.MaxInRowProbeCenters)
      .map(i => (i, Seq(i.toDouble, 1.0)))
    val tiny = Seq((1L, Array(0.1f, 0.9f))).toDF("id", "embedding")
    val e = intercept[IllegalArgumentException](
      graft.pipeline.Similarity.knnSeedProbe(big, tiny,
        tiny.toDF("qid", "embedding"), k = 1))
    assert(e.getMessage.contains("ceiling") &&
      e.getMessage.contains("knnIvfWith"))
    // and at the ceiling ITSELF (1024 literal centers) the call still
    // PLANS cleanly — the require is the only gate, with no hidden
    // analysis/codegen failure lurking below it
    val atCeiling = big.take(graft.pipeline.Similarity.MaxInRowProbeCenters)
    graft.pipeline.Similarity.knnSeedProbe(atCeiling, tiny,
      tiny.toDF("qid", "embedding"), k = 1).queryExecution.sparkPlan
  }

  test("bandingSweep: one shared scan equals the per-config minhash/jaccard composition") {
    // a tiny corpus with one exact near-dup pair (1, 2), one sub-
    // threshold pair and singletons; the operator's shared-scan rows
    // must equal composing pairEval(minhashPairs, jaccardPairs) per
    // config — the refactor is a plan change, never a result change
    // 30 tokens differing only in the tail token: 3-shingle jaccard
    // (n−5)/(n+1) = 25/31 ≈ 0.81 ≥ 0.8 — one exact pair (1, 2)
    val base = (1 to 29).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$base end"),
      (2L, s"$base tail"),
      (3L, (1 to 30).map(i => s"q$i").mkString(" ")), // disjoint
      (4L, (1 to 30).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val configs = Seq((16, 4), (32, 8), (32, 16))
    // Row-wise compare (precision can be LEGITIMATELY null on a config
    // whose banding finds no pairs at all — the pairEval empty-side
    // contract surfacing in the sweep; a typed Double tuple would
    // refuse the row)
    val sweptRows = graft.pipeline.Dedup.bandingSweep(docs, "doc_id", "text",
        k = 3, threshold = 0.8, configs = configs, maxShingleFreq = Some(20))
      .orderBy("num_perm", "bands").collect().toSeq
    val swept = sweptRows.map(_.toString)
    val composed = configs.map { case (np, b) =>
      graft.pipeline.Dedup.pairEval(
          graft.pipeline.Dedup.minhashPairs(docs, "doc_id", "text",
            k = 3, numPerm = np, bands = b, threshold = 0.8),
          graft.pipeline.Dedup.jaccardPairs(docs, "doc_id", "text",
            k = 3, threshold = 0.8, maxShingleFreq = Some(20)))
        .select(lit(np).as("num_perm"), lit(b).as("bands"),
          col("n_exact"), col("n_approx"), col("n_hit"),
          col("precision"), col("recall"))
    }.reduce(_ unionByName _)
      .orderBy("num_perm", "bands").collect().toSeq.map(_.toString)
    assert(swept === composed,
      "shared-scan sweep must equal the per-config composition exactly")
    // the fixture really exercises the interesting cells
    assert(sweptRows.forall(_.getLong(2) === 1L),
      "the fixture's one exact pair must reach n_exact in every row")
  }

  test("pairEval: an empty baseline or approx side nulls its ratio explicitly") {
    // the zero-pair edge the sf fixtures never hit: the guard is an
    // explicit when(), not Spark's non-ANSI divide-null, so the null
    // contract survives any session ANSI setting and DuckDB mirrors
    // replay it with CASE WHEN
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val none = pairs.where(lit(false))
    val noBaseline = graft.pipeline.Dedup.pairEval(pairs, none).collect().head
    assert(noBaseline.getLong(0) === 0L && noBaseline.getLong(1) === 1L)
    assert(noBaseline.isNullAt(4), "recall must be null with no baseline")
    assert(noBaseline.getDouble(3) === 0.0, "precision is 0/1 = 0 here")
    val noApprox = graft.pipeline.Dedup.pairEval(none, pairs).collect().head
    assert(noApprox.isNullAt(3), "precision must be null with no approx pairs")
    assert(noApprox.getDouble(4) === 0.0, "recall is 0/1 = 0 here")
  }

  test("minhash banding grid: coarse-band verified pairs nest inside finer bandings") {
    // contiguous row-block banding: an 8-row band collides only if all
    // 8 minima agree, which implies each constituent 2-row band of the
    // finer config also collides — so candidates(32, 4) ⊆
    // candidates(32, 16), and with one shared verification threshold
    // the VERIFIED pair sets nest too. This is what makes the sweep's
    // recall column monotone down the 32-perm rows (the property the
    // docs_minhash_sweep tuning table relies on to be readable).
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairsAt(bands: Int): Set[(Long, Long)] =
      graft.pipeline.Dedup.minhashPairs(d, "doc_id", "text",
          k = 3, numPerm = 32, bands = bands, threshold = 0.8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val coarse = pairsAt(4)
    val fine = pairsAt(16)
    assert(coarse.subsetOf(fine),
      s"coarse-band pairs must nest: missing ${coarse -- fine}")
  }

  test("splitLeakage: off-diagonal counts cross-split pairs; group-safe reads zero") {
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    // a leaky assignment: pair (1,2) straddles train/test, (3,4)
    // train/val; (5,6) co-located
    val leaky = Seq((1L, "train"), (2L, "test"), (3L, "train"),
      (4L, "val"), (5L, "train"), (6L, "train")).toDF("id", "split")
    val out = graft.pipeline.TextOps.splitLeakage(pairs, leaky)
      .orderBy("split_a", "split_b")
      .as[(String, String, Long)].collect().toSeq
    assert(out === Seq(("test", "train", 1L), ("train", "train", 1L),
      ("train", "val", 1L)))
    // the group-safe property: co-locate every pair -> one diagonal cell
    val safe = Seq((1L, "train"), (2L, "train"), (3L, "val"),
      (4L, "val"), (5L, "train"), (6L, "train")).toDF("id", "split")
    val safeOut = graft.pipeline.TextOps.splitLeakage(pairs, safe)
      .as[(String, String, Long)].collect().toSet
    assert(safeOut === Set(("train", "train", 2L), ("val", "val", 1L)),
      "no off-diagonal cells under a group-safe assignment")
  }

  test("hardNegatives: band excludes dups and dissimilar, top-k ranks inside it") {
    // query +x; corpus at known cosines: 1.0 (a near-dup — excluded
    // above the band), ~0.45 and ~0.30 (informative negatives, kept in
    // rank order), ~0.10 (too easy — excluded below)
    def at(c: Double) = Array(c.toFloat, math.sqrt(1 - c * c).toFloat)
    val corpus = Seq((1L, at(1.0)), (2L, at(0.45)), (3L, at(0.30)),
      (4L, at(0.10))).toDF("id", "embedding")
    val qs = Seq((10L, Array(1.0f, 0.0f))).toDF("qid", "embedding")
    val out = graft.pipeline.Similarity.hardNegatives(
        corpus, qs, k = 2, loCos = 0.2, hiCos = 0.5)
      .orderBy("rank").select("id", "rank", "cos")
      .as[(Long, Int, Double)].collect().toSeq
    assert(out.map(_._1) === Seq(2L, 3L), s"band + rank order: $out")
    assert(out.forall { case (_, _, c) => c >= 0.2 && c < 0.5 })
  }

  test("cellDrift: per-cell share shift between batch and corpus, zeros kept") {
    // two far-apart centers; corpus = 8 points near cell 0 + 2 near
    // cell 1; the batch over-samples cell 1 (1 of cell 0, both of
    // cell 1) -> corpus shares 0.8/0.2, batch shares 1/3 / 2/3
    val centers = Seq((0, Seq(0.0, 0.0)), (1, Seq(100.0, 100.0)))
    val corpus = ((1 to 8).map(i => (i.toLong, Array(0.1f * i, 0.0f))) ++
      Seq((100L, Array(100.0f, 100.1f)), (101L, Array(99.9f, 100.0f))))
      .toDF("id", "embedding")
    val batch = Seq((1L, Array(0.1f, 0.0f)),
      (100L, Array(100.0f, 100.1f)), (101L, Array(99.9f, 100.0f)))
      .toDF("id", "embedding")
    val out = graft.pipeline.Similarity.cellDrift(centers, corpus, batch)
      .orderBy("cell")
      .select("cell", "n_corpus", "n_batch", "share_corpus", "share_batch",
        "share_delta")
      .as[(Int, Long, Long, Double, Double, Double)].collect().toSeq
    graft.ScopedCache.release()
    assert(out === Seq(
      (0, 8L, 1L, 0.8, 0.333333, -0.466667),
      (1, 2L, 2L, 0.2, 0.666667, 0.466667)))
  }

  test("refitCodebook: a drifted mode heals — recall recovers and the refit re-registers") {
    // ids are chosen from the hash60 order (6, 19, 9 are the three
    // smallest), so both Lloyd inits are designed, not lucky: the
    // stale fit (nlist 2 over A∪B) seeds one per old cluster, the
    // refit (nlist 3 over A∪B∪C) seeds one per cluster including the
    // NEW MODE C — which sits equidistant between the stale centroids,
    // so its members SPLIT across the stale cells and an nprobe-1
    // query finds only its own side
    val a = Seq(6L -> Array(0f, 10f), 1L -> Array(1f, 10f),
      2L -> Array(-1f, 10f))
    val b = Seq(19L -> Array(0f, -10f), 3L -> Array(1f, -10f),
      5L -> Array(-1f, -10f))
    val c = Seq(9L -> Array(10f, 0f), 8L -> Array(10f, 1.5f),
      10L -> Array(10f, -1.5f))
    val old = (a ++ b).toDF("id", "embedding")
    val drifted = (a ++ b ++ c).toDF("id", "embedding")
    val queries = Seq(100L -> Array(10f, 0.2f)).toDF("qid", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_refit_pos").toString + "/cb"
    graft.pipeline.Similarity.writeCodebook(spark,
      graft.pipeline.Similarity.fitCodebook(old, nlist = 2, iters = 2), path)
    val out = graft.pipeline.Similarity.refitCodebook(spark, path,
        drifted, queries, k = 3, nlist = 3, nprobe = 1, iters = 2)
      .select("qid", "recall_stale", "recall_refit", "healed")
      .as[(Long, Double, Double, Int)].collect().toSeq
    graft.ScopedCache.release()
    assert(out === Seq((100L, 0.666667, 1.0, 1)),
      "the stale codebook finds 2 of 3 (the mode member assigned to " +
        "the other cell is unreachable at nprobe 1); the refit finds all")
    assert(graft.pipeline.Similarity.readCodebook(spark, path).size === 3,
      "healed = the refit IS re-registered")
  }

  test("refitCodebook: a refit that loses recall is REFUSED — the registered codebook stays") {
    // the gate's negative half: the registered codebook is already
    // right (one centroid per column), and the candidate refit
    // (iters 0 → raw init, both seeds in the left column by hash
    // order) splits the right column across two cells — fewer true
    // neighbors found, so re-registering would make drift response
    // DESTROY a working index
    val corpus = Seq(
      6L -> Array(0f, 20f), 19L -> Array(0f, 80f),
      1L -> Array(100f, 30f), 2L -> Array(100f, 45f),
      3L -> Array(100f, 55f), 5L -> Array(100f, 70f))
      .toDF("id", "embedding")
    val queries = Seq(100L -> Array(100f, 50.1f)).toDF("qid", "embedding")
    val good = Seq((0, Seq(0.0, 50.0)), (1, Seq(100.0, 50.0)))
    val path = java.nio.file.Files
      .createTempDirectory("graft_refit_neg").toString + "/cb"
    graft.pipeline.Similarity.writeCodebook(spark, good, path)
    val out = graft.pipeline.Similarity.refitCodebook(spark, path,
        corpus, queries, k = 3, nlist = 2, nprobe = 1, iters = 0)
      .select("qid", "recall_stale", "recall_refit", "healed")
      .as[(Long, Double, Double, Int)].collect().toSeq
    graft.ScopedCache.release()
    assert(out === Seq((100L, 1.0, 0.666667, 0)))
    assert(graft.pipeline.Similarity.readCodebook(spark, path) === good,
      "refused = the registered codebook is untouched")
    // no evidence → no re-registration, no NPE: queries matching
    // nothing yield an empty readout with the codebook untouched
    val empty = graft.pipeline.Similarity.refitCodebook(spark, path,
      corpus, queries.where($"qid" < 0L), k = 3, nlist = 2, nprobe = 1,
      iters = 0)
    graft.ScopedCache.release()
    assert(empty.count() === 0L)
    assert(graft.pipeline.Similarity.readCodebook(spark, path) === good,
      "an empty readout is not evidence — the registration stays")
  }

  test("refitCodebook: the unfused fallback drops null-embedding corpus rows from the exact frame") {
    // an EMPTY stale codebook forces the unfused branch. Id 6 has the
    // smallest hash60 of the corpus ids, so the one-cell refit seeds on
    // a real vector. k = 4 exceeds the three non-null neighbours: a
    // null-embedding row left in the exact frame would take rank 4 and
    // cap every recall at 0.75, since no IVF side can ever reach it
    val corpus = Seq(6L -> Array(0f, 10f), 1L -> Array(1f, 10f),
        2L -> Array(-1f, 10f), 3L -> (null: Array[Float]))
      .toDF("id", "embedding")
    val queries = Seq(100L -> Array(0f, 9f)).toDF("qid", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_refit_null").toString + "/cb"
    graft.pipeline.Similarity.writeCodebook(spark, Seq.empty, path)
    val out = graft.pipeline.Similarity.refitCodebook(spark, path,
        corpus, queries, k = 4, nlist = 1, nprobe = 1, iters = 1)
      .select("qid", "n_hit_stale", "n_hit_refit", "recall_refit", "healed")
      .as[(Long, Long, Long, Double, Int)].collect().toSeq
    graft.ScopedCache.release()
    assert(out === Seq((100L, 0L, 3L, 1.0, 1)),
      "the exact frame holds only the three non-null neighbours")
  }

  test("clusterSample: dense cells cap at k, sparse keep all, order-blind") {
    // two far-apart centers; 8 points near center 0, 2 near center 1
    val centers = Seq((0, Seq(0.0, 0.0)), (1, Seq(100.0, 100.0)))
    val pts = (1 to 8).map(i => (i.toLong, Array(0.1f * i, 0.0f))) ++
      Seq((100L, Array(100.0f, 100.1f)), (101L, Array(99.9f, 100.0f)))
    def run(rows: Seq[(Long, Array[Float])]) =
      graft.pipeline.Similarity.clusterSample(centers,
          rows.toDF("id", "embedding"), k = 3)
        .orderBy("cell", "rank")
        .select("cell", "rank", "id").as[(Int, Int, Long)].collect().toSeq
    val out = run(pts)
    assert(out.count(_._1 == 0) === 3, "dense cell capped at k")
    assert(out.count(_._1 == 1) === 2, "sparse cell keeps all it has")
    assert(out.groupBy(_._1).values.forall(g =>
      g.map(_._2).sorted == (1 to g.size)), "ranks are dense 1..n per cell")
    // the hash draw is a function of ids alone: input order is irrelevant
    assert(run(scala.util.Random.shuffle(pts)) === out)
  }

  test("repetition: looping text scores high, unique text scores zero dup") {
    val docs = Seq(
      (1L, "a b a b a b"), // grams: ab ba ab ba ab -> top 3/5, all dup
      (2L, "v w x y z")) // 4 distinct grams, no repeats
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextOps.repetition(docs, "doc_id", "text", k = 2)
      .orderBy("id")
      .select("n_grams", "top_ngram_frac", "dup_ngram_frac")
      .as[(Long, Double, Double)].collect()
    assert(out(0) === ((5L, 0.6, 1.0)))
    assert(out(1) === ((4L, 0.25, 0.0)))
  }

  test("splits: content-hashed, so byte-identical docs share a split") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other text"))
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextOps
      .assignSplits(docs, "doc_id", "text", valPct = 10, testPct = 10)
      .orderBy("id").select("bucket", "split").as[(Long, String)].collect()
    assert(out(0) === out(1)) // duplicates can never straddle a split
    assert(out.forall { case (b, s) =>
      b >= 0 && b < 100 &&
        s == (if (b < 10) "test" else if (b < 20) "val" else "train")
    })
  }

  test("tfidf: corpus-wide terms score zero, rare terms rank first") {
    val docs = Seq(
      (1L, "shared rare1 shared shared"),
      (2L, "shared midfreq"),
      (3L, "shared midfreq other")).toDF("doc_id", "text")
    val out = graft.pipeline.TextOps.tfidf(docs, "doc_id", "text", k = 2)
      .orderBy("id", "rank")
      .select("id", "rank", "term", "score")
      .as[(Long, Int, String, Double)].collect()
    // doc 1: rare1 (df=1, tf=1) beats shared (df=3 -> idf=0, score 0)
    assert(out.filter(_._1 == 1L).map(_._3).toSeq === Seq("rare1", "shared"))
    assert(out.filter(_._1 == 1L).map(_._4).toSeq ===
      Seq(math.rint(math.log(3.0) * 1e6) / 1e6, 0.0))
    // doc 2: midfreq (df=2) beats the zero-scored shared
    assert(out.filter(_._1 == 2L).map(_._3).toSeq === Seq("midfreq", "shared"))
  }

  test("chunk: overlapping windows cover all tokens, short tail kept") {
    val docs = Seq((1L, (1 to 7).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextOps.chunk(docs, "doc_id", "text",
        width = 4, overlap = 2) // step 2: starts 0,2,4,6
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk_text", "n_tokens")
      .as[(Int, String, Int)].collect()
    assert(out.toSeq === Seq(
      (0, "w1 w2 w3 w4", 4), (1, "w3 w4 w5 w6", 4),
      (2, "w5 w6 w7", 3), (3, "w7", 1)))
    intercept[IllegalArgumentException] {
      graft.pipeline.TextOps.chunk(docs, "doc_id", "text", 4, overlap = 4)
    }
  }

  test("sampleKPerStratum: exactly k per stratum, nested in k, id tiebreak") {
    val docs = (1L to 30L).map(i => (i, s"body $i", s"s${i % 3}"))
      .toDF("doc_id", "text", "stratum")
    def ids(k: Int) = graft.pipeline.TextOps
      .sampleKPerStratum(docs, "doc_id", "text", "stratum", k)
      .select("doc_id").as[Long].collect().toSet
    assert(ids(2).size === 6) // 3 strata x k=2
    assert(ids(2).subsetOf(ids(4))) // nested: raising k only adds
    // duplicate texts: identical hash, doc_id breaks the tie deterministically
    val dup = Seq((1L, "same", "a"), (2L, "same", "a"), (3L, "same", "a"))
      .toDF("doc_id", "text", "stratum")
    val picked = graft.pipeline.TextOps
      .sampleKPerStratum(dup, "doc_id", "text", "stratum", 2)
      .select("doc_id").as[Long].collect().toSet
    assert(picked === Set(1L, 2L))
  }

  test("packSequences: start-offset cuts per shard, never a global cumsum") {
    val rows = Seq(
      ("a", 1L, 60), ("a", 2L, 50), ("a", 3L, 10), ("a", 4L, 30),
      ("b", 9L, 250)).toDF("shard", "id", "n")
    val out = graft.pipeline.TextOps
      .packSequences(rows, "shard", Seq("id"), "n", budget = 100L)
      .orderBy("shard", "id")
      .select("shard", "id", "seq_id", "seq_pos")
      .as[(String, Long, Long, Long)].collect().toSeq
    // shard a starts: 0, 60, 110, 120 -> seqs 0,0,1,1; shard b independent
    assert(out === Seq(("a", 1L, 0L, 0L), ("a", 2L, 0L, 60L),
      ("a", 3L, 1L, 10L), ("a", 4L, 1L, 20L), ("b", 9L, 0L, 0L)))
  }

  test("extractFeatures weight path: tanh(W·x) against a hand-computed vector") {
    // bytes (2, 4) at dim=2 fold to x = (2/255, 4/255); W = ((1, 2), (-3, 0), (0, 255))
    val df = Seq((7L, Array[Byte](2, 4))).toDF("id", "bytes")
    val w = Seq(Seq(1.0, 2.0), Seq(-3.0, 0.0), Seq(0.0, 255.0))
    val out = Multimodal.extractFeatures(df, "id", "bytes", dim = 2,
        weights = Some(w))
      .select("features").as[Seq[Double]].head()
    val x = Array(2.0 / 255.0, 4.0 / 255.0)
    val expect = Seq(
      math.tanh(1.0 * x(0) + 2.0 * x(1)),
      math.tanh(-3.0 * x(0)),
      math.tanh(255.0 * x(1)))
    assert(out.size === 3)
    out.zip(expect).foreach { case (a, e) => assert(math.abs(a - e) < 1e-15) }
    // default path (no weights) is the documented stand-in fold, unchanged
    val fold = Multimodal.extractFeatures(df, "id", "bytes", dim = 2)
      .select("features").as[Seq[Double]].head()
    assert(fold === Seq(2.0 / 255.0, 4.0 / 255.0))
  }

  test("stratified sample: rate 0 drops all, rate 1 keeps all, reproducible") {
    val docs = (1L to 40L).map(i => (i, s"doc number $i text", if (i % 2 == 0) "keep" else "drop"))
      .toDF("doc_id", "text", "lang")
    def run() = graft.pipeline.TextOps
      .stratifiedSample(docs, "text", "lang", Map("drop" -> 0.0), defaultRate = 1.0)
      .select("doc_id").as[Long].collect().toSet
    val kept = run()
    assert(kept === (2L to 40L by 2).toSet) // rate-0 stratum gone, default=1 all kept
    assert(kept === run()) // hash-deterministic, no RNG state
  }

  test("dedupAgainstCorpus: exact wins over near, near fires, batch-internal dups ignored") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (10L, base),                               // exact target
      (11L, base + " lambda"),                   // near target (9/11 shingles shared)
      (12L, "totally different words here now yes")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, base),                              // exact dup (also near of 11)
      (101L, base + " mu"),                      // near dup of 10 and 11, no exact
      (102L, "nothing like anything in the corpus at all"),
      (103L, "nothing like anything in the corpus at all")) // batch-internal dup: NOT flagged
      .toDF("doc_id", "text")
    val out = Dedup.dedupAgainstCorpus(corpus, batch, "doc_id", "text",
        k = 3, numPerm = 32, bands = 8, threshold = 0.6)
      .orderBy("id")
      .as[(Long, Option[Long], Option[Long], String)].collect().toSeq
    assert(out.map(r => (r._1, r._4)) ===
      Seq((100L, "exact"), (101L, "near"), (102L, "new"), (103L, "new")))
    assert(out.head._2 === Some(10L))     // exact_dup_of = min corpus id
    assert(out.head._3 === Some(10L))     // near fired too; exact won the status
    assert(out(1)._2 === None)
    assert(out(1)._3 === Some(10L))       // min of the near targets {10, 11}
  }

  test("substringSpans: hand-computed duplicated-span fractions") {
    // doc 1: "a b c d e" -> 3 spans of 3: (a b c), (b c d), (c d e)
    // doc 2: "a b c x y" -> (a b c), (b c x), (c x y) — shares only (a b c)
    // doc 3: "q q q q"   -> (q q q) twice: duplicated WITHIN the doc
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c x y"), (3L, "q q q q"),
      (4L, "too short")).toDF("doc_id", "text")
    val out = graft.pipeline.TextOps.substringSpans(docs, "doc_id", "text", k = 3)
      .orderBy("id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq(
      (1L, 3L, 1L, math.rint(1.0 / 3.0 * 1e6) / 1e6),
      (2L, 3L, 1L, math.rint(1.0 / 3.0 * 1e6) / 1e6),
      (3L, 2L, 2L, 1.0)))                // 2-token doc 4 has no spans: absent
  }

  test("pqAdc: with one centroid per vector ADC degenerates to exact L2 top-k") {
    // iters = 0 and ksub = |corpus| make every subvector its own centroid,
    // so each vector's code distance is 0 and the ADC sum equals the true
    // squared L2 — PQ must then reproduce the exact ranking
    val rnd = Iterator.iterate(7L)(s => s * 6364136223846793005L + 1442695040888963407L)
    val vecs = (0L until 12L).map { i =>
      (i, Array.fill(4)(((rnd.next() >>> 33).toFloat / (1L << 30).toFloat) - 1f))
    }
    val corpus = vecs.toDF("id", "embedding")
    val queries = vecs.take(2).map { case (i, v) => (i + 100L, v) }.toDF("qid", "embedding")
    val books = Similarity.fitPqCodebooks(corpus, dim = 4, m = 2, ksub = 12, iters = 0)
    val got = Similarity.pqAdcTopK(corpus, queries, books, k = 3)
      .select("qid", "rank", "id").as[(Long, Int, Long)].collect().toSeq.sorted
    def sq(q: Array[Float], v: Array[Float]) = {
      def dot(a: Array[Float], b: Array[Float]) =
        a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      dot(q, q) + dot(v, v) - 2.0 * dot(q, v)
    }
    val expect = (for ((qid, q) <- queries.as[(Long, Array[Float])].collect().toSeq) yield {
      vecs.map { case (id, v) => (id, math.rint(sq(q, v) * 1e6) / 1e6) }
        .sortBy { case (id, dd) => (dd, id) }.take(3)
        .zipWithIndex.map { case ((id, _), r) => (qid, r + 1, id) }
    }).flatten.sorted
    assert(got === expect)
  }

  test("knnIvfPq with nprobe = nlist degenerates to whole-corpus PQ ADC") {
    val rnd = Iterator.iterate(11L)(s => s * 6364136223846793005L + 1442695040888963407L)
    val vecs = (0L until 20L).map { i =>
      (i, Array.fill(4)(((rnd.next() >>> 33).toFloat / (1L << 30).toFloat) - 1f))
    }
    val corpus = vecs.toDF("id", "embedding")
    val queries = vecs.take(3).map { case (i, v) => (i + 100L, v) }.toDF("qid", "embedding")
    val centers = Similarity.fitCodebook(corpus, nlist = 4, iters = 1)
    val books = Similarity.fitPqCodebooks(corpus, dim = 4, m = 2, ksub = 4, iters = 1)
    val full = Similarity.pqAdcTopK(corpus, queries, books, k = 3)
      .collect().map(_.toSeq).toSet
    // probing every coarse cell removes the pruning entirely — the
    // IVF-PQ answer must then be exactly the whole-corpus ADC answer
    val ivfpq = Similarity.knnIvfPq(centers, books, corpus, queries,
        k = 3, nprobe = 4)
      .collect().map(_.toSeq).toSet
    assert(ivfpq === full)
  }

  test("ngramPerplexity: common-gram docs score below rare-gram docs; gramless doc is exact-zero") {
    val docs = ((1L to 8L).map(i => (i, "a b a b a b a b")) ++ Seq(
      (100L, "q w e r t y u i"),   // every bigram unique -> improbable
      (50L, "solo"))               // one token: no grams
    ).toDF("doc_id", "text")
    val out = graft.pipeline.TextOps
      .ngramPerplexity(docs, "doc_id", "text", buckets = 64, k = 2)
      .select("id", "n_grams", "nll_micro", "avg_nll", "selected")
      .as[(Long, Long, Long, Option[Double], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._4.get < out(100L)._4.get,
      "repeated common bigrams must be more probable than unique ones")
    assert(out(1L) === out(8L).copy(_1 = 1L), "identical docs score identically")
    assert(out(50L) === ((50L, 0L, 0L, None, false)),
      "no grams: zero sums, null avg, NOT selected (unscorable)")
  }

  test("bpe: weighted-frequency merges, greedy adjacent merging, empty docs kept") {
    // word freqs: aa=3, ab=2, abab=2. Round-1 pair counts: 'a b' = 2 (ab)
    // + 2·2 (abab positions 1,3) = 6 beats 'a a' = 3 and 'b a' = 2
    val docs = Seq((1L, "aa ab aa"), (2L, "aa ab"), (3L, "abab abab"),
      (4L, "")).toDF("doc_id", "text")
    def vocab(r: Int) = graft.pipeline.TextOps.bpeVocab(docs, "text", r)
      .select("word", "st").as[(String, String)].collect().toMap
    // BOTH back-to-back occurrences in 'a b a b' merge (greedy fold —
    // a naive sentinel-space replace would leave 'ab a b')
    assert(vocab(1) === Map("aa" -> "a a", "ab" -> "ab", "abab" -> "ab ab"))
    assert(vocab(2) === Map("aa" -> "aa", "ab" -> "ab", "abab" -> "ab ab"))
    val counts = graft.pipeline.TextOps
      .bpeTokenCounts(docs, "doc_id", "text", rounds = 1)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    // rounds=1: aa->2 tokens, ab->1, abab->2; the wordless doc keeps a row
    assert(counts === Seq((1L, 3L, 5L), (2L, 2L, 3L), (3L, 2L, 4L),
      (4L, 0L, 0L)))
    // extra rounds past exhaustion are no-ops, not errors
    assert(vocab(9) === Map("aa" -> "aa", "ab" -> "ab", "abab" -> "abab"))
  }

  test("bm25TopK: hand-computed scores, rank ties break on doc id") {
    // corpus: d1 = "x x y" (dl 3), d2 = "x z" (dl 2), d3 = "y y y y" (dl 4)
    // N = 3, T = 9, avgdl = 3; query q = {x, y}
    val docs = Seq((1L, "x x y"), (2L, "x z"), (3L, "y y y y"))
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextOps.bm25TopK(docs, "doc_id", "text",
        Seq("q" -> Seq("x", "y")), k1 = 1.2, b = 0.75, k = 3)
      .orderBy("rank").as[(String, Int, Long, Double)].collect().toSeq
    def idf(df: Int) = math.log(1.0 + (3 - df + 0.5) / (df + 0.5))
    def tfn(tf: Long, dl: Long) =
      tf * (1.2 + 1.0) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl * (3.0 / 9.0)))
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val s1 = r6(idf(2) * tfn(2, 3) + idf(2) * tfn(1, 3)) // d1: x twice, y once
    val s2 = r6(idf(2) * tfn(1, 2))                      // d2: x once
    val s3 = r6(idf(2) * tfn(4, 4))                      // d3: y four times
    val expect = Seq((1L, s1), (2L, s2), (3L, s3))
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => ("q", i + 1, id, s) }
    assert(out === expect)
  }
}
