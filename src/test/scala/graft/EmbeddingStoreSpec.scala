package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{EmbeddingStore, Similarity}
import graft.model.IndexCatalog

/** The persisted, cell-partitioned embedding index
  * ([[graft.pipeline.EmbeddingStore]]): index-served kNN equals the
  * recompute bit-for-bit, queries prune to the probed cell partitions,
  * the lifecycle (accepts/takedowns/heal) follows the CorpusStore
  * rules, and the drift→recall-gated-refit loop flips epochs through
  * the manifest. */
class EmbeddingStoreSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  /** Deterministic pseudo-random unit-ish vectors; ids ≡ 0 (mod 9)
    * duplicate the vector of id+1 (near-dup structure). */
  private def vecRows(ids: Seq[Long], dim: Int = 8): Seq[(Long, Array[Float])] = {
    def vec(seed: Long): Array[Float] = {
      var s = seed * 6364136223846793005L + 1442695040888963407L
      Array.fill(dim) {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 33).toFloat / (1L << 30).toFloat) - 1f
      }
    }
    ids.map(i => (i, vec(if (i % 9 == 0) i + 1 else i)))
  }

  private def vecsDf(ids: Seq[Long]): DataFrame =
    vecRows(ids).toDF("id", "embedding")

  private def store(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The drift fixture's corpus: three tight clusters on +e0/+e1/+e2
    * (ids % 4 ∈ {1,2,3}) plus a NEW MODE on −e3 (ids % 4 == 0) —
    * spatially coherent and far from everything the stale codebook
    * saw, the regime where a refit demonstrably recovers recall. */
  private def clusteredVecs(ids: Seq[Long], dim: Int = 8): DataFrame =
    ids.map { i =>
      val v = Array.fill(dim)(0f)
      if (i % 4 == 0) v(3) = -10f else v(((i % 4) - 1).toInt) = 10f
      var s = i * 2654435761L
      for (d <- 0 until dim) {
        s = s * 6364136223846793005L + 1442695040888963407L
        v(d) += ((s >>> 40).toFloat / (1 << 22).toFloat) - 1f
      }
      (i, v)
    }.toDF("id", "embedding")

  private def queriesOf(df: DataFrame): DataFrame =
    df.select(col("id").as("qid"), col("embedding"))

  test("index-served kNN equals knnIvfWith bit-for-bit; the data read prunes to exactly the probed cell partitions") {
    val dir = store("graft_emb_pin")
    val corpus = vecsDf(1L to 80L)
    EmbeddingStore.create(spark, dir, corpus, nlist = 4, iters = 2)
    val queries = queriesOf(vecsDf(Seq(3L, 7L)))
    val served = EmbeddingStore.knn(spark, dir, queries, k = 3, nprobe = 2)
    val centers = EmbeddingStore.readCenters(spark, dir)
    assert(centers === Similarity.fitCodebook(corpus, 4, 2),
      "the stored codebook IS the deterministic fit")
    assert(rowsOf(served) ===
      rowsOf(Similarity.knnIvfWith(centers, corpus, queries, 3, nprobe = 2)),
      "index-served answers equal the recompute")
    // scan-set pin: the data scan carries the probed-cell set as a
    // PARTITION filter (directories pruned before any I/O — the
    // repo's layout-pruning pin, pointed at the cell key), listing
    // exactly the in-row probe's cells
    val p = served.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*".r.findAllIn(p).toSeq
    assert(pf.exists(f => f.contains("cell") && f.contains(" IN ")),
      s"the kNN data read must prune cell partitions at the scan:\n$p")
    val probeCells = Similarity
      .probeCellsInRow(centers, queries, "qid", "embedding", 2)
      .select("cell").as[Int].collect().toSet
    val pinned = pf.find(f => f.contains("cell") && f.contains(" IN ")).get
    probeCells.foreach(c => assert(pinned.contains(c.toString),
      s"probed cell $c missing from the partition filter: $pinned"))
    val inList = pinned.substring(pinned.indexOf(" IN ("))
    val listed = "\\d+".r.findAllIn(
      inList.substring(0, inList.indexOf(")"))).map(_.toInt).toSet
    assert(listed === probeCells,
      s"scan set must be exactly the probed cells: $listed vs $probeCells")
    ScopedCache.release()
  }

  test("accepts and takedowns move the index through the staged lifecycle; answers track the recompute over the current vectors") {
    val dir = store("graft_emb_life")
    val base = vecsDf(1L to 40L)
    EmbeddingStore.create(spark, dir, base, nlist = 4, iters = 2)
    val centers = EmbeddingStore.readCenters(spark, dir)
    // accept: new vectors are probe-visible under the SAME epoch codebook
    EmbeddingStore.acceptBatch(spark, dir, vecsDf(41L to 60L))
    val grown = vecsDf(1L to 60L)
    val queries = queriesOf(vecsDf(Seq(5L, 50L)))
    assert(rowsOf(EmbeddingStore.knn(spark, dir, queries, 3, 2)) ===
      rowsOf(Similarity.knnIvfWith(centers, grown, queries, 3, 2)))
    // idempotent: re-accepting the same ids does not duplicate
    EmbeddingStore.acceptBatch(spark, dir, vecsDf(41L to 60L))
    assert(EmbeddingStore.readVectors(spark, dir).count() === 60L)
    // takedown: removed ids match nothing; answers equal the recompute
    // over the shrunk set
    EmbeddingStore.removeVectors(spark, dir, Seq(50L, 51L))
    val shrunk = vecsDf((1L to 60L).filterNot(i => i == 50L || i == 51L))
    assert(EmbeddingStore.readVectors(spark, dir)
      .where(col("id").isin(50L, 51L)).count() === 0L)
    assert(rowsOf(EmbeddingStore.knn(spark, dir, queries, 3, 2)) ===
      rowsOf(Similarity.knnIvfWith(centers, shrunk, queries, 3, 2)))
    // would-empty: refused at stage time...
    val all = EmbeddingStore.readVectors(spark, dir)
      .select("id").as[Long].collect().toSeq
    val e = intercept[IllegalArgumentException](
      EmbeddingStore.stageTakedown(spark, dir, all))
    assert(e.getMessage.contains("would empty"))
    // ...and SKIPPED (standing alert) when staged intents make it so
    EmbeddingStore.stageTakedown(spark, dir, all.take(30))
    EmbeddingStore.stageTakedown(spark, dir, all.drop(20))
    EmbeddingStore.heal(spark, dir)
    assert(EmbeddingStore.health(spark, dir)
      .toMap.apply("emb_pending") === 1L,
      "the now-emptying second takedown stays staged as the alert")
    assert(EmbeddingStore.readVectors(spark, dir).count() ===
      (all.size - 30).toLong)
    ScopedCache.release()
  }

  test("job budget: an accept admits its batch once (at most 8 jobs), dropping ids the store holds under another batch") {
    val dir = store("graft_emb_budget")
    EmbeddingStore.create(spark, dir, vecsDf(1L to 40L), nlist = 4, iters = 2)
    // ids 35-40 are already held: they drop, the other 10 land
    val jobs = jobsOf(EmbeddingStore.acceptBatch(spark, dir, vecsDf(35L to 50L)))
    assert(jobs <= 8L, s"accept ran $jobs jobs")
    assert(EmbeddingStore.readVectors(spark, dir).count() === 50L)
    // the drift stats count every held vector once
    assert(spark.read.parquet(s"$dir/cells_e0/stats").agg(sum("n")).head()
      .getLong(0) === 50L)
  }

  test("knnPq serves knnIvfPq's answers from stored codes; the float vectors are never read") {
    val dir = store("graft_emb_pq")
    val corpus = vecsDf(1L to 60L)
    EmbeddingStore.create(spark, dir, corpus, nlist = 4, iters = 2,
      pq = Some((2, 4)))
    val queries = queriesOf(vecsDf(Seq(3L, 11L)))
    val centers = EmbeddingStore.readCenters(spark, dir)
    val books = Similarity.fitPqCodebooks(corpus, dim = 8, m = 2,
      ksub = 4, iters = 2)
    val served = EmbeddingStore.knnPq(spark, dir, queries, k = 3, nprobe = 2)
    assert(rowsOf(served) ===
      rowsOf(Similarity.knnIvfPq(centers, books, corpus, queries, 3, 2)))
    // column pruning: no scan of the store reads the embedding column
    val scans = served.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.filter(_.metadata("Location").contains("graft_emb_pq"))
    val dataScans = scans.filter(_.metadata("Location").contains("/data"))
    assert(dataScans.nonEmpty)
    assert(dataScans.forall(!_.schema.fieldNames.contains("embedding")),
      s"PQ serving must not read vectors:\n${dataScans.map(_.schema)}")
    // accepts re-encode through the STORED books: answers still match
    // a full recompute with the same artifacts
    EmbeddingStore.acceptBatch(spark, dir, vecsDf(61L to 70L))
    val grown = vecsDf(1L to 70L)
    assert(rowsOf(EmbeddingStore.knnPq(spark, dir, queries, 3, 2)) ===
      rowsOf(Similarity.knnIvfPq(centers, books, grown, queries, 3, 2)))
    ScopedCache.release()
  }

  test("drift → recall-gated refit: the epoch flips through one manifest rewrite, answers serve from the refit codebook, debris is swept") {
    val dir = store("graft_emb_refit")
    // fit on the old clusters only, then a new spatially-coherent
    // mode arrives where no stale center is
    val old = clusteredVecs(1L to 60L).where(col("id") % 4 =!= 0)
    val newMode = clusteredVecs(1L to 60L).where(col("id") % 4 === 0)
    EmbeddingStore.create(spark, dir, old, nlist = 4, iters = 2)
    assert(EmbeddingStore.recipe(dir).epoch === "cells_e0")
    EmbeddingStore.acceptBatch(spark, dir, newMode)
    // the drift alert fires: the new mode moved cell shares
    val drift = EmbeddingStore.health(spark, dir).toMap.apply("emb_drift")
    assert(drift > 0L, "the arrived mode must read as drift")
    // refit with queries probing the new mode; the gate passes and the
    // epoch flips
    val queries = newMode.limit(8)
      .select(col("id").as("qid"), col("embedding"))
    val readout = EmbeddingStore.refit(spark, dir, queries, k = 3,
      nprobe = 2)
    assert(readout.select(max(col("healed"))).head().getInt(0) === 1,
      "the refit must win (or tie) the recall gate on this fixture")
    val r2 = EmbeddingStore.recipe(dir)
    assert(r2.epoch === "cells_e1", "the manifest is the epoch pointer")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "cells_e0")),
      "the old epoch is retired after the flip")
    // the new epoch serves: answers equal the recompute under the
    // REFIT codebook over the full corpus, and the drift baseline reset
    val corpus = EmbeddingStore.readVectors(spark, dir).localCheckpoint()
    val refitCenters = EmbeddingStore.readCenters(spark, dir)
    assert(rowsOf(EmbeddingStore.knn(spark, dir, queries, 3, 2)) ===
      rowsOf(Similarity.knnIvfWith(refitCenters, corpus, queries, 3, 2)))
    assert(EmbeddingStore.health(spark, dir).toMap.apply("emb_drift") === 0L,
      "the refit resets the drift baseline")
    // a crashed refit's debris (an unreferenced epoch dir) SURVIVES
    // heal — heal must stay safe to run while a refit is mid-build —
    // and the NEXT refit reclaims it before building its own epoch
    // (the sweep runs regardless of that refit's gate outcome)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "cells_e7"))
    EmbeddingStore.heal(spark, dir)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "cells_e7")),
      "heal never touches epoch directories")
    EmbeddingStore.refit(spark, dir, queries, k = 3, nprobe = 2)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "cells_e7")),
      "the next refit reclaims crashed-refit debris")
    ScopedCache.release()
  }

  test("maintain runs the whole loop; healthCheck and maintenanceTick carry the embedding rows for a store at the database's emb/ directory") {
    import graft.model.TsdbLayout
    val h = 3600L * 1000000000L
    val ctx = graft.model.TsdbContext.fromWide(spark,
      (0 until 24).map(i => ("x", i.toLong * h, 1.0))
        .toDF("user", "ts", "value").withColumn("metric", lit("m")),
      "metric", Seq("user"), "ts", "value")
    val db = java.nio.file.Files.createTempDirectory("graft_emb_db").toString
    TsdbLayout.writeDatabase(ctx, db)
    val embDir = s"$db/${TsdbLayout.EmbSub}"
    val old = clusteredVecs(1L to 60L).where(col("id") % 4 =!= 0)
    val newMode = clusteredVecs(1L to 60L).where(col("id") % 4 === 0)
    EmbeddingStore.create(spark, embDir, old, nlist = 4, iters = 2)
    EmbeddingStore.stageBatch(spark, embDir, newMode)
    def hc(): Map[String, (String, Long)] =
      TsdbLayout.healthCheck(spark, db).collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(hc().apply("emb_pending") === ("alert", 1L))
    // the healing tick: applies the staged batch, reads the drift the
    // batch caused, runs the recall-gated refit behind it
    val tick = TsdbLayout.maintenanceTick(spark, db, 0L, healIndexes = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tick("emb_healed") === 1L)
    assert(tick("emb_drift_seen") > 0L, "the tick reads the drift the accept caused")
    assert(tick("emb_refit_healed") === 1L, "the gated refit healed it")
    assert(hc().apply("emb_pending") === ("ok", 0L))
    assert(hc().apply("emb_drift") === ("ok", 0L),
      "the refit's new baseline clears the alert")
    assert(EmbeddingStore.recipe(embDir).epoch === "cells_e1")
    // an alert-only tick reports without healing
    val db2 = java.nio.file.Files.createTempDirectory("graft_emb_db2").toString
    TsdbLayout.writeDatabase(ctx, db2)
    EmbeddingStore.create(spark, s"$db2/${TsdbLayout.EmbSub}", old,
      nlist = 4, iters = 2)
    EmbeddingStore.stageBatch(spark, s"$db2/${TsdbLayout.EmbSub}", newMode)
    val tick2 = TsdbLayout.maintenanceTick(spark, db2, 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!tick2.contains("emb_healed"))
    assert(tick2("emb_pending") === 1L)
    ScopedCache.release()
  }

  test("streaming accept: micro-batch identity is exactly-once at the index; tombstones survive redelivery; an operator re-accept clears them") {
    val dir = store("graft_emb_stream")
    EmbeddingStore.create(spark, dir, vecsDf(1L to 30L), nlist = 3,
      iters = 1)
    val centers = EmbeddingStore.readCenters(spark, dir)
    // at-least-once redelivery of the same (tag, micro-batch) lands on
    // the SAME partitions — exactly-once at the index
    EmbeddingStore.acceptStreamBatch(spark, dir, vecsDf(31L to 40L),
      0L, "feed")
    EmbeddingStore.acceptStreamBatch(spark, dir, vecsDf(31L to 40L),
      0L, "feed")
    assert(EmbeddingStore.readVectors(spark, dir).count() === 40L)
    // the stream-grown index serves under the create-time codebook
    val queries = queriesOf(vecsDf(Seq(5L, 33L)))
    assert(rowsOf(EmbeddingStore.knn(spark, dir, queries, 3, 2)) ===
      rowsOf(Similarity.knnIvfWith(centers, vecsDf(1L to 40L),
        queries, 3, 2)))
    // a takedown tombstones its ids BEFORE rewriting: redelivering the
    // micro-batch that carried them cannot resurrect them
    EmbeddingStore.removeVectors(spark, dir, Seq(35L, 36L))
    EmbeddingStore.acceptStreamBatch(spark, dir, vecsDf(31L to 40L),
      0L, "feed")
    assert(EmbeddingStore.readVectors(spark, dir)
      .where(col("id").isin(35L, 36L)).count() === 0L,
      "redelivery must not resurrect taken-down vectors")
    assert(EmbeddingStore.readVectors(spark, dir).count() === 38L)
    // ...while a DELIBERATE operator accept re-admits them (clear ops)
    EmbeddingStore.acceptBatch(spark, dir, vecsDf(Seq(35L, 36L)))
    assert(EmbeddingStore.readVectors(spark, dir)
      .where(col("id").isin(35L, 36L)).count() === 2L)
    // ...and once cleared, stream redelivery of those ids is admitted
    // again only as duplicates (dropped by the dup probe), never lost
    EmbeddingStore.acceptStreamBatch(spark, dir, vecsDf(31L to 40L),
      0L, "feed")
    assert(EmbeddingStore.readVectors(spark, dir).count() === 40L)
    assert(EmbeddingStore.readVectors(spark, dir)
      .select("id").distinct().count() === 40L, "no duplicate ids")
    ScopedCache.release()
  }

  test("the manifest round-trips the recipe; rebuilds and loads refuse the pipeline kind; epoch flip validates") {
    val dir = store("graft_emb_manifest")
    EmbeddingStore.create(spark, dir, vecsDf(1L to 30L), nlist = 3,
      iters = 1, pq = Some((2, 3)))
    val entries = IndexCatalog.describe(s"$dir/indexes")
    assert(entries.map(_.kind) === Seq("ivf_cells"))
    val e = entries.head
    assert(e.path === "cells_e0" && e.nlist === Some(3) &&
      e.iters === Some(1) && e.m === Some(2) && e.ksub === Some(3) &&
      e.idCol === Some("id") && e.embCol === Some("embedding"))
    // a TsdbContext load refuses the pipeline kind loudly
    val ctx = graft.model.TsdbContext.fromWide(spark,
      Seq(("x", 0L, 1.0)).toDF("user", "ts", "value")
        .withColumn("metric", lit("m")),
      "metric", Seq("user"), "ts", "value")
    val le = intercept[IllegalArgumentException](
      IndexCatalog.load(spark, s"$dir/indexes", ctx))
    assert(le.getMessage.contains("pipeline-index registration"))
    // epoch flips validate the entry's existence
    val fe = intercept[IllegalArgumentException](
      IndexCatalog.setEmbeddingEpoch("/tmp/graft_no_such_manifest", "x"))
    assert(fe.getMessage != null)
    // a second create refuses
    val ce = intercept[IllegalArgumentException](
      EmbeddingStore.create(spark, dir, vecsDf(1L to 5L)))
    assert(ce.getMessage.contains("already exists"))
  }

  test("exportDatabase carries both pipeline stores — tombstone log included — and refuses on staged intents") {
    import graft.model.TsdbLayout
    import graft.pipeline.CorpusStore
    val h = 3600L * 1000000000L
    val ctx = graft.model.TsdbContext.fromWide(spark,
      (0 until 24).map(i => ("x", i.toLong * h, 1.0))
        .toDF("user", "ts", "value").withColumn("metric", lit("m")),
      "metric", Seq("user"), "ts", "value")
    val db = java.nio.file.Files.createTempDirectory("graft_exp_db").toString
    TsdbLayout.writeDatabase(ctx, db)
    val docs = (1L to 30L).map(i =>
        (i, (1 to 12).map(w => s"w${(i * 7 + w) % 9}").mkString(" ")))
      .toDF("doc_id", "text")
    CorpusStore.create(spark, s"$db/${TsdbLayout.CorpusSub}",
      docs, "doc_id", "text")
    // a takedown writes the tombstone log — the export must carry it
    CorpusStore.removeDocuments(spark, s"$db/${TsdbLayout.CorpusSub}",
      Seq(3L, 4L))
    EmbeddingStore.create(spark, s"$db/${TsdbLayout.EmbSub}",
      vecsDf(1L to 30L), nlist = 3, iters = 1)
    // staged intents BLOCK the export (the straggler rule)
    CorpusStore.stageBatch(spark, s"$db/${TsdbLayout.CorpusSub}",
      docs.limit(2))
    val dst0 = java.nio.file.Files.createTempDirectory("graft_exp_dst0").toString
    val be = intercept[IllegalArgumentException](
      TsdbLayout.exportDatabase(spark, db, s"$dst0/out"))
    assert(be.getMessage.contains("staged intent"))
    CorpusStore.heal(spark, s"$db/${TsdbLayout.CorpusSub}")
    // a clean export carries both stores
    val dst = java.nio.file.Files.createTempDirectory("graft_exp_dst").toString
    TsdbLayout.exportDatabase(spark, db, s"$dst/out")
    val probeSrc = CorpusStore.probeBatch(spark,
      s"$db/${TsdbLayout.CorpusSub}", docs.where(col("doc_id") > 25))
    val probeDst = CorpusStore.probeBatch(spark,
      s"$dst/out/${TsdbLayout.CorpusSub}", docs.where(col("doc_id") > 25))
    assert(rowsOf(probeSrc) === rowsOf(probeDst),
      "the exported store probes exactly like the source")
    // the tombstone log round-trips: redelivery protection survives the move
    assert(rowsOf(spark.read.parquet(s"$dst/out/${TsdbLayout.CorpusSub}/takedowns")) ===
      rowsOf(spark.read.parquet(s"$db/${TsdbLayout.CorpusSub}/takedowns")))
    val q = queriesOf(vecsDf(Seq(5L)))
    assert(rowsOf(EmbeddingStore.knn(spark,
        s"$dst/out/${TsdbLayout.EmbSub}", q, 3, 2)) ===
      rowsOf(EmbeddingStore.knn(spark, s"$db/${TsdbLayout.EmbSub}", q, 3, 2)))
    // a database without stores exports as before, with none appearing
    val bare = java.nio.file.Files.createTempDirectory("graft_exp_bare").toString
    TsdbLayout.writeDatabase(ctx, bare)
    val dstB = java.nio.file.Files.createTempDirectory("graft_exp_dstb").toString
    TsdbLayout.exportDatabase(spark, bare, s"$dstB/out")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dstB, "out", TsdbLayout.CorpusSub)))
    ScopedCache.release()
  }
}
