package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{CorpusStore, Dedup}
import graft.model.IndexCatalog

/** The corpus-index LIFECYCLE ([[graft.pipeline.CorpusStore]]): accept
  * and takedown move docs and dedup index together, heals are
  * idempotent and crash-recoverable, staleness is a listing-only
  * alert, and the recipe lives in the index-catalog manifest. */
class CorpusStoreSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  /** A tiny corpus with exact and near duplicates across splits. */
  private def docRows(ids: Seq[Long]): Seq[(Long, String)] = ids.map { i =>
    val base = (0 until 12).map(w => s"w${(i * 7 + w * 3) % 5}_${w % 4}")
    // ids ≡ 0 (mod 10) duplicate the text of id+1 exactly
    val words = if (i % 10 == 0) (0 until 12)
      .map(w => s"w${((i + 1) * 7 + w * 3) % 5}_${w % 4}") else base
    (i, words.mkString(" "))
  }

  private def docsDf(ids: Seq[Long]): DataFrame =
    docRows(ids).toDF("doc_id", "text")

  private def store(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("append == rewrite: an accept-grown index is row-identical to a full rebuild over the grown corpus, and probes identically") {
    val dir = store("graft_cs_append")
    val corpus0 = docsDf(1L to 40L)
    val accepted = docsDf(41L to 60L)
    val batch = docsDf(100L to 120L)
    CorpusStore.create(spark, dir, corpus0, "doc_id", "text")
    CorpusStore.acceptBatch(spark, dir, accepted)

    // the store's index rows == writeCorpusIndex over corpus0 ∪ accepted
    val full = store("graft_cs_full")
    Dedup.writeCorpusIndex(corpus0.unionByName(accepted), full,
      "doc_id", "text")
    for (sub <- Seq("hashes", "bands")) {
      assert(rowsOf(spark.read.parquet(s"$dir/indexes/$sub")
          .drop(CorpusStore.BatchCol)) ===
        rowsOf(spark.read.parquet(s"$full/$sub")),
        s"$sub: append+heal must equal the full rewrite")
    }
    // ...and the probe equals the live recompute over the grown corpus
    assert(rowsOf(CorpusStore.probeBatch(spark, dir, batch)) ===
      rowsOf(Dedup.dedupAgainstCorpus(corpus0.unionByName(accepted),
        batch, "doc_id", "text")))
  }

  test("the bare appendCorpusIndex: flat-index append equals rewrite; wrong directory refuses") {
    val a = store("graft_cs_bare_a"); val b = store("graft_cs_bare_b")
    Dedup.writeCorpusIndex(docsDf(1L to 30L), a, "doc_id", "text")
    Dedup.appendCorpusIndex(docsDf(31L to 45L), a, "doc_id", "text")
    Dedup.writeCorpusIndex(docsDf(1L to 45L), b, "doc_id", "text")
    for (sub <- Seq("hashes", "bands"))
      assert(rowsOf(spark.read.parquet(s"$a/$sub")) ===
        rowsOf(spark.read.parquet(s"$b/$sub")))
    val junk = store("graft_cs_junk")
    Seq((1L, 2L)).toDF("x", "y").write.parquet(s"$junk/hashes")
    val e = intercept[IllegalArgumentException](
      Dedup.appendCorpusIndex(docsDf(1L to 3L), junk, "doc_id", "text"))
    assert(e.getMessage.contains("corpus-index schema"))
    // ...and a CorpusStore's __batch-PARTITIONED index refuses too:
    // flat rows at a partitioned root would make the directory
    // unreadable — exact column-set equality, not subset
    val storeDir = store("graft_cs_bare_store")
    graft.pipeline.CorpusStore.create(spark, storeDir, docsDf(1L to 10L),
      "doc_id", "text")
    val e2 = intercept[IllegalArgumentException](
      Dedup.appendCorpusIndex(docsDf(11L to 12L),
        s"$storeDir/indexes", "doc_id", "text"))
    assert(e2.getMessage.contains("CorpusStore.acceptBatch"))
  }

  test("heal is idempotent and crash-recoverable: re-runs and partial writes never duplicate or lose documents") {
    val dir = store("graft_cs_crash")
    CorpusStore.create(spark, dir, docsDf(1L to 30L), "doc_id", "text")
    // stage a batch, then simulate a crash mid-heal: the docs partition
    // landed under the staged identity but the index partitions did not
    val bid = CorpusStore.stageBatch(spark, dir, docsDf(31L to 40L))
    docsDf(31L to 40L).withColumn(CorpusStore.BatchCol, lit(bid))
      .write.option("partitionOverwriteMode", "dynamic")
      .partitionBy(CorpusStore.BatchCol).mode("overwrite")
      .parquet(s"$dir/${CorpusStore.DocsSub}")
    assert(CorpusStore.health(spark, dir).toMap ===
      Map("corpus_pending" -> 1L, "corpus_unbanded" -> 1L),
      "both alerts fire on the half-landed batch")
    CorpusStore.heal(spark, dir)
    assert(CorpusStore.health(spark, dir).toMap ===
      Map("corpus_pending" -> 0L, "corpus_unbanded" -> 0L))
    assert(CorpusStore.readDocs(spark, dir).count() === 40L,
      "the re-run overwrites the same partition — never a duplicate")
    assert(spark.read.parquet(s"$dir/indexes/hashes").count() === 40L)
    // a second heal is a no-op
    CorpusStore.heal(spark, dir)
    assert(CorpusStore.readDocs(spark, dir).count() === 40L)
    assert(spark.read.parquet(s"$dir/indexes/hashes").count() === 40L)
    // staging the SAME docs again must not duplicate them either
    CorpusStore.acceptBatch(spark, dir, docsDf(31L to 40L))
    assert(CorpusStore.readDocs(spark, dir).count() === 40L,
      "ids the index already covers drop from a re-staged batch")
  }

  test("takedown rewrites only the batch partitions holding the removed ids; removed ids match nothing afterwards") {
    val dir = store("graft_cs_take")
    CorpusStore.create(spark, dir, docsDf(1L to 30L), "doc_id", "text")
    val b2 = CorpusStore.acceptBatch(spark, dir, docsDf(31L to 50L))
    def partFiles(sub: String, bid: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(dir, sub,
        s"${CorpusStore.BatchCol}=$bid")
      val ls = java.nio.file.Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      } finally ls.close()
    }
    val before = Seq("docs", "indexes/hashes", "indexes/bands")
      .map(s => s -> partFiles(s, CorpusStore.InitBatch)).toMap
    // remove ids living only in batch b2
    CorpusStore.removeDocuments(spark, dir, Seq(35L, 36L, 40L))
    Seq("docs", "indexes/hashes", "indexes/bands").foreach { s =>
      assert(partFiles(s, CorpusStore.InitBatch) === before(s),
        s"$s: the untouched batch's partition files must not be rewritten")
    }
    assert(CorpusStore.readDocs(spark, dir).where(
      col("doc_id").isin(35L, 36L, 40L)).count() === 0L)
    assert(spark.read.parquet(s"$dir/indexes/hashes")
      .where(col("cid").isin(35L, 36L, 40L)).count() === 0L)
    assert(spark.read.parquet(s"$dir/indexes/bands")
      .where(col("cid").isin(35L, 36L, 40L)).count() === 0L)
    // an exact duplicate of a REMOVED doc probes as new (id 40 ≡ 0
    // mod 10 duplicated 41's text; removing 41 would free 40 — here
    // remove nothing more, just assert the probe agrees with a live
    // recompute over the shrunk corpus)
    val batch = docsDf(100L to 110L)
    val shrunk = docsDf((1L to 50L).filterNot(Seq(35L, 36L, 40L).contains))
    assert(rowsOf(CorpusStore.probeBatch(spark, dir, batch)) ===
      rowsOf(Dedup.dedupAgainstCorpus(shrunk, batch, "doc_id", "text")))
    // removing a batch's LAST documents deletes its partitions whole
    CorpusStore.removeDocuments(spark, dir,
      (31L to 50L).filterNot(Seq(35L, 36L, 40L).contains))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      dir, "docs", s"${CorpusStore.BatchCol}=$b2")),
      "a fully-emptied batch partition is deleted, not left stale")
    assert(CorpusStore.readDocs(spark, dir).count() === 30L)
    // ...but emptying the whole corpus refuses, like retention
    val e = intercept[IllegalArgumentException](
      CorpusStore.removeDocuments(spark, dir, (1L to 30L).toSeq))
    assert(e.getMessage.contains("empty the corpus"))
  }

  test("heal applies staged intents in SEQUENCE order: an accept re-adding ids lands AFTER the earlier takedown of them") {
    // review finding (round 13): name-sorted processing ran every p_*
    // before every t_* — the accept's dup-probe then saw the
    // not-yet-taken-down ids in the index, dropped them from the
    // batch, and the takedown removed the originals: silent permanent
    // document loss on a re-accept
    val dir = store("graft_cs_order")
    CorpusStore.create(spark, dir, docsDf(1L to 30L), "doc_id", "text")
    CorpusStore.stageTakedown(spark, dir, Seq(7L, 8L))
    CorpusStore.stageBatch(spark, dir, docsDf(Seq(7L, 8L)))
    assert(CorpusStore.heal(spark, dir) === 2)
    assert(CorpusStore.readDocs(spark, dir)
      .where(col("doc_id").isin(7L, 8L)).count() === 2L,
      "the re-accepted docs must survive — takedown first, accept second")
    assert(spark.read.parquet(s"$dir/indexes/hashes")
      .where(col("cid").isin(7L, 8L)).count() === 2L)
    assert(CorpusStore.readDocs(spark, dir).count() === 30L)
  }

  test("heal sweeps stage-crash leftovers: a .tmp_ directory is deleted, never processed, never silently accumulated") {
    val dir = store("graft_cs_tmp")
    CorpusStore.create(spark, dir, docsDf(1L to 10L), "doc_id", "text")
    // simulate a crash between the stage's parquet write and rename
    docsDf(11L to 12L).write.parquet(s"$dir/pending/.tmp_p_00000_dead")
    assert(CorpusStore.health(spark, dir).toMap.apply("corpus_pending") === 0L,
      "an unpublished stage is not pending")
    CorpusStore.heal(spark, dir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "pending", ".tmp_p_00000_dead")),
      "heal reclaims the orphan — unbounded crash garbage otherwise")
    assert(CorpusStore.readDocs(spark, dir).count() === 10L,
      "...and never lands its rows (the stage was never published)")
  }

  test("batch compaction: partitions merge into one consolidated batch, content and probes unchanged, crash-recoverable") {
    val dir = store("graft_cs_compact")
    CorpusStore.create(spark, dir, docsDf(1L to 20L), "doc_id", "text")
    CorpusStore.acceptBatch(spark, dir, docsDf(21L to 30L))
    CorpusStore.acceptBatch(spark, dir, docsDf(31L to 40L))
    def nBatches(sub: String): Int = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir, sub))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.count(_.getFileName.toString
          .startsWith(s"${CorpusStore.BatchCol}="))
      } finally ls.close()
    }
    assert(nBatches("docs") === 3)
    val target = CorpusStore.stageCompaction(spark, dir)
    assert(target.nonEmpty)
    assert(CorpusStore.heal(spark, dir) === 1)
    Seq("docs", "indexes/hashes", "indexes/bands").foreach { s =>
      assert(nBatches(s) === 1,
        s"$s: every per-accept partition merges into the consolidated one")
    }
    assert(CorpusStore.readDocs(spark, dir).count() === 40L)
    // probe equality with the live recompute — compaction is
    // content-preserving by contract
    val batch = docsDf(100L to 110L)
    assert(rowsOf(CorpusStore.probeBatch(spark, dir, batch)) ===
      rowsOf(Dedup.dedupAgainstCorpus(docsDf(1L to 40L), batch,
        "doc_id", "text")))
    // nothing to merge → None, and heal is a no-op
    assert(CorpusStore.stageCompaction(spark, dir).isEmpty)
    assert(CorpusStore.heal(spark, dir) === 0)

    // crash simulation: a SECOND round of accepts, compaction staged,
    // and the docs-side target already built when the process died —
    // the re-run heal must finish the other sides from the
    // still-present sources and then delete them
    CorpusStore.acceptBatch(spark, dir, docsDf(41L to 50L))
    val t2 = CorpusStore.stageCompaction(spark, dir).get
    CorpusStore.readDocs(spark, dir, withBatch = false)
      .withColumn(CorpusStore.BatchCol, lit(t2))
      .write.option("partitionOverwriteMode", "dynamic")
      .partitionBy(CorpusStore.BatchCol).mode("overwrite")
      .parquet(s"$dir/${CorpusStore.DocsSub}")
    // the half-built target is ALSO an unbanded docs batch, so the
    // re-run heals it twice over: the listing-diff pass re-derives its
    // index sides, then the staged record finishes the deletes — 2
    assert(CorpusStore.heal(spark, dir) === 2)
    assert(nBatches("docs") === 1 && nBatches("indexes/hashes") === 1)
    assert(CorpusStore.readDocs(spark, dir).count() === 50L,
      "the re-run rebuilt the index sides and deleted the sources — " +
        "no duplicate, no loss")
    assert(rowsOf(CorpusStore.probeBatch(spark, dir, batch)) ===
      rowsOf(Dedup.dedupAgainstCorpus(docsDf(1L to 50L), batch,
        "doc_id", "text")))

    // an accept staged AFTER the compaction record survives it: the
    // record names only the batches that existed at staging time
    CorpusStore.stageCompaction(spark, dir) // None: single batch
    CorpusStore.acceptBatch(spark, dir, docsDf(51L to 55L))
    assert(CorpusStore.readDocs(spark, dir).count() === 55L)

    // the tiered policy: with maxBytes set, the LARGE settled batch is
    // never re-merged — only small per-accept batches fold together,
    // which is what keeps a cronned compaction amortized
    CorpusStore.acceptBatch(spark, dir, docsDf(56L to 58L))
    val bigBytes = {
      val root = java.nio.file.Paths.get(dir, "docs")
      import scala.jdk.CollectionConverters._
      val ls = java.nio.file.Files.walk(root)
      try ls.iterator().asScala
        .filter(p => p.toString.contains("__batch=m") &&
          java.nio.file.Files.isRegularFile(p) &&
          // the Hadoop view the policy reads hides .crc sidecars
          !p.getFileName.toString.startsWith("."))
        .map(java.nio.file.Files.size(_)).sum
      finally ls.close()
    }
    assert(CorpusStore.stageCompaction(spark, dir,
        maxBytes = Some(bigBytes - 1)).nonEmpty)
    assert(CorpusStore.heal(spark, dir) === 1)
    assert(nBatches("docs") === 2,
      "small batches merged; the large settled batch untouched")
    assert(CorpusStore.readDocs(spark, dir).count() === 58L)
  }

  test("a compaction record whose sources a takedown emptied leaves no target partition and no marker") {
    val dir = store("graft_cs_compact_emptied")
    CorpusStore.create(spark, dir, docsDf(1L to 40L), "doc_id", "text")
    CorpusStore.acceptBatch(spark, dir, docsDf(41L to 42L))
    CorpusStore.acceptBatch(spark, dir, docsDf(43L to 44L))
    // the takedown is staged BEFORE the record, so heal applies it
    // first and the record's two small sources are gone when it lands
    CorpusStore.stageTakedown(spark, dir, 41L to 44L)
    val smallBytes = {
      import scala.jdk.CollectionConverters._
      val ls = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "docs"))
      try ls.iterator().asScala.toSeq
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith(".") &&
          !p.toString.contains(CorpusStore.InitBatch))
        .groupBy(_.getParent).values
        .map(_.map(java.nio.file.Files.size(_)).sum).max
      finally ls.close()
    }
    val target = CorpusStore.stageCompaction(spark, dir,
      maxBytes = Some(smallBytes)).get
    assert(CorpusStore.heal(spark, dir) === 2)
    Seq("docs", "indexes/hashes", "indexes/bands").foreach { s =>
      val pd = java.nio.file.Paths.get(dir, s, s"${CorpusStore.BatchCol}=$target")
      assert(!java.nio.file.Files.exists(pd),
        s"$s: an emptied compaction writes no target partition (nor its marker)")
    }
    assert(CorpusStore.health(spark, dir).toMap.apply("corpus_pending") === 0L)
    assert(CorpusStore.readDocs(spark, dir).count() === 40L)
  }

  test("streaming accept: micro-batch identity makes redelivery exactly-once at the store") {
    // foreachBatch is at-least-once — a failed trigger redelivers the
    // SAME micro-batch id. The store derives the __batch identity from
    // it, so the redelivery re-stages the same record and the heal
    // re-overwrites the same partitions: no duplicate, no loss
    val dir = store("graft_cs_stream")
    CorpusStore.create(spark, dir, docsDf(1L to 20L), "doc_id", "text")
    CorpusStore.acceptStreamBatch(spark, dir, docsDf(21L to 30L), 0L, "f1")
    assert(CorpusStore.readDocs(spark, dir).count() === 30L)
    // redelivery of micro-batch 0 (same rows, same tag, same id)
    CorpusStore.acceptStreamBatch(spark, dir, docsDf(21L to 30L), 0L, "f1")
    assert(CorpusStore.readDocs(spark, dir).count() === 30L,
      "the redelivered micro-batch overwrites its own partitions")
    assert(spark.read.parquet(s"$dir/indexes/hashes").count() === 30L)
    // the next micro-batch is a different identity and lands normally
    CorpusStore.acceptStreamBatch(spark, dir, docsDf(31L to 35L), 1L, "f1")
    assert(CorpusStore.readDocs(spark, dir).count() === 35L)
    // a DIFFERENT feed's micro-batch 0 is a different identity — two
    // tagged feeds never collide (and a re-pointed feed with a fresh
    // checkpoint must take a fresh tag for exactly this reason)
    CorpusStore.acceptStreamBatch(spark, dir, docsDf(36L to 38L), 0L, "f2")
    assert(CorpusStore.readDocs(spark, dir).count() === 38L,
      "feed f2's batch 0 must not overwrite feed f1's")
    // ...and the probe equals the live recompute over the grown corpus
    val batch = docsDf(100L to 105L)
    assert(rowsOf(CorpusStore.probeBatch(spark, dir, batch)) ===
      rowsOf(Dedup.dedupAgainstCorpus(docsDf(1L to 38L), batch,
        "doc_id", "text")))
  }

  test("takedown tombstones: a redelivered micro-batch cannot resurrect removed documents; an operator re-accept can") {
    val dir = store("graft_cs_tomb")
    CorpusStore.create(spark, dir, docsDf(1L to 20L), "doc_id", "text")
    // micro-batch 0 lands, then crashes BEFORE the checkpoint commits;
    // while the stream is down a takedown removes doc 25 (license
    // revocation)
    CorpusStore.acceptStreamBatch(spark, dir, docsDf(21L to 30L), 0L, "f1")
    CorpusStore.removeDocuments(spark, dir, Seq(25L))
    assert(CorpusStore.readDocs(spark, dir)
      .where(col("doc_id") === 25L).count() === 0L)
    // the restarted stream REDELIVERS micro-batch 0 with the original
    // rows — the tombstone keeps 25 out of docs AND the index
    CorpusStore.acceptStreamBatch(spark, dir, docsDf(21L to 30L), 0L, "f1")
    assert(CorpusStore.readDocs(spark, dir)
      .where(col("doc_id") === 25L).count() === 0L,
      "a replay artifact must not undo a takedown")
    assert(spark.read.parquet(s"$dir/indexes/hashes")
      .where(col("cid") === 25L).count() === 0L)
    assert(CorpusStore.readDocs(spark, dir).count() === 29L)
    // a takedown staged while the stream is down wins against the
    // restarted stream's accept WHATEVER the staging order resolves
    // to: the tombstone is what decides (the stream record also takes
    // a fresh sequence number, but the outcome must not depend on it)
    CorpusStore.stageTakedown(spark, dir, Seq(28L))
    CorpusStore.acceptStreamBatch(spark, dir, docsDf(Seq(28L)), 1L, "f1")
    assert(CorpusStore.readDocs(spark, dir)
      .where(col("doc_id") === 28L).count() === 0L,
      "28 is tombstoned — it stays out until an operator re-accepts")
    // a DELIBERATE operator accept clears the tombstone and re-adds
    CorpusStore.acceptBatch(spark, dir, docsDf(Seq(25L)))
    assert(CorpusStore.readDocs(spark, dir)
      .where(col("doc_id") === 25L).count() === 1L)
    // ...after which the stream may carry it again too
    CorpusStore.acceptStreamBatch(spark, dir, docsDf(Seq(25L)), 2L, "f1")
    assert(CorpusStore.readDocs(spark, dir)
      .where(col("doc_id") === 25L).count() === 1L)
    // the LOG's monotonic sequence decides across drained staging
    // epochs (the staging counter resets to 0 whenever pending drains,
    // so it must never order the log): take 25 down AGAIN — the newer
    // add must outrank the earlier clear, and a redelivery stays out
    CorpusStore.removeDocuments(spark, dir, Seq(25L))
    CorpusStore.acceptStreamBatch(spark, dir, docsDf(Seq(25L)), 3L, "f1")
    assert(CorpusStore.readDocs(spark, dir)
      .where(col("doc_id") === 25L).count() === 0L,
      "the LATEST takedown wins, whatever the staging counters did")
  }

  test("the recipe lives in the manifest: round-trips, gates invalid parameters, and corpus kinds refuse the fact paths") {
    val dir = store("graft_cs_recipe")
    CorpusStore.create(spark, dir, docsDf(1L to 20L), "doc_id", "text",
      k = 3, numPerm = 16, bands = 4)
    assert(CorpusStore.recipe(dir) ===
      CorpusStore.Recipe("doc_id", "text", 3, 16, 4))
    val entries = IndexCatalog.describe(s"$dir/indexes")
    assert(entries.map(_.kind).sorted === Seq("content_hashes", "lsh_bands"))
    assert(entries.forall(e => e.owned && e.canonical))
    // an invalid recipe refuses at registration
    val bad = store("graft_cs_badrecipe")
    val e1 = intercept[IllegalArgumentException](
      IndexCatalog.saveCorpusManifest(bad, "doc_id", "text",
        k = 3, numPerm = 16, bands = 5))
    assert(e1.getMessage.contains("multiple of bands"))
    // the FACT rebuilds refuse corpus kinds loudly (their heal is
    // CorpusStore.heal, their facts are documents, not the layout)
    val e2 = intercept[IllegalArgumentException](
      IndexCatalog.rebuild(spark, dir))
    assert(e2.getMessage.contains("CorpusStore"))
    // ...and so does loading them onto a TsdbContext
    val base = rampContext(Seq(1), 0L, 4L)
    val e3 = intercept[IllegalArgumentException](
      IndexCatalog.load(spark, s"$dir/indexes", base))
    assert(e3.getMessage.contains("CorpusStore"))
    // a probe cannot run with drifted parameters: it reads the manifest
    val probed = CorpusStore.probeBatch(spark, dir, docsDf(100L to 105L))
    assert(rowsOf(probed) === rowsOf(Dedup.dedupAgainstCorpus(
      docsDf(1L to 20L), docsDf(100L to 105L), "doc_id", "text",
      k = 3, numPerm = 16, bands = 4)))
  }

  test("healthCheck and maintenanceTick carry the pipeline-index rows for a store at the database's corpus/ directory") {
    import graft.model.TsdbLayout
    val h = 3600L * 1000000000L
    val ctx = graft.model.TsdbContext.fromWide(spark,
      (0 until 24).map(i => ("x", i.toLong * h, 1.0))
        .toDF("user", "ts", "value").withColumn("metric", lit("m")),
      "metric", Seq("user"), "ts", "value")
    val db = java.nio.file.Files.createTempDirectory("graft_cs_db").toString
    TsdbLayout.writeDatabase(ctx, db)
    CorpusStore.create(spark, s"$db/${TsdbLayout.CorpusSub}",
      docsDf(1L to 20L), "doc_id", "text")
    CorpusStore.stageBatch(spark, s"$db/${TsdbLayout.CorpusSub}",
      docsDf(21L to 30L))
    def hc(): Map[String, (String, Long)] =
      TsdbLayout.healthCheck(spark, db).collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(hc()("corpus_pending") === ("alert", 1L),
      "a staged-but-unhealed batch is a standing alert in the ONE frame")
    assert(hc()("corpus_unbanded") === ("ok", 0L))
    // the healing tick applies it and reports the work
    val tick = TsdbLayout.maintenanceTick(spark, db, 0L, healIndexes = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tick("corpus_healed") === 1L)
    assert(tick("corpus_pending") === 0L)
    assert(hc()("corpus_pending") === ("ok", 0L))
    assert(CorpusStore.readDocs(spark, s"$db/${TsdbLayout.CorpusSub}")
      .count() === 30L)
    // a database WITHOUT a corpus store shows no pipeline rows
    val bare = java.nio.file.Files.createTempDirectory("graft_cs_bare").toString
    TsdbLayout.writeDatabase(ctx, bare)
    assert(!TsdbLayout.healthCheck(spark, bare).collect()
      .exists(_.getString(0).startsWith("corpus_")))
  }

  test("a staged compaction interleaves with stream accepts: both apply in staging order, no accept is lost, batch counts stay bounded, probes unchanged") {
    val dir = store("graft_cs_interleave")
    CorpusStore.create(spark, dir, docsDf(1L to 20L), "doc_id", "text")
    // a few settled accepts to give the compaction sources
    CorpusStore.acceptBatch(spark, dir, docsDf(21L to 25L))
    CorpusStore.acceptBatch(spark, dir, docsDf(26L to 30L))
    def batches(): Set[String] = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "docs"))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString).toSet
      } finally ls.close()
    }
    assert(batches().size === 3)
    // stage the compaction; accepts keep arriving THROUGH THE STREAM
    // path while the record is live — the first trigger's heal applies
    // the compaction (lower staging sequence) before its own accept
    assert(CorpusStore.stageCompaction(spark, dir).nonEmpty)
    CorpusStore.acceptStreamBatch(spark, dir, docsDf(31L to 35L), 0L, "live")
    CorpusStore.acceptStreamBatch(spark, dir, docsDf(36L to 40L), 1L, "live")
    assert(CorpusStore.health(spark, dir).toMap ===
      Map("corpus_pending" -> 0L, "corpus_unbanded" -> 0L),
      "interleaved heals drained everything")
    // bounded: one consolidated batch + the two stream batches — the
    // pre-compaction accumulation is gone, the interleaved accepts
    // (staged AFTER the record, so not named by it) survive untouched
    val b = batches()
    assert(b.size === 3, s"expected consolidated + 2 stream batches: $b")
    assert(b.count(_.contains("=m")) === 1, s"one consolidated batch: $b")
    assert(b.count(_.contains("sb_live")) === 2, s"both stream accepts: $b")
    // no accept lost, no duplicate: content is exactly 1..40
    assert(CorpusStore.readDocs(spark, dir).count() === 40L)
    // ...and the probe equals the live recompute over that corpus
    val batch = docsDf(100L to 110L)
    assert(rowsOf(CorpusStore.probeBatch(spark, dir, batch)) ===
      rowsOf(Dedup.dedupAgainstCorpus(docsDf(1L to 40L), batch,
        "doc_id", "text")))
  }

  test("a would-empty takedown refuses at STAGE time, and a staged one that becomes emptying SKIPS mid-heal instead of blocking later intents") {
    val dir = store("graft_cs_empty")
    CorpusStore.create(spark, dir, docsDf(1L to 10L), "doc_id", "text")
    // stage-time refusal: the record is never published
    val e = intercept[IllegalArgumentException](
      CorpusStore.stageTakedown(spark, dir, (1L to 10L).toSeq))
    assert(e.getMessage.contains("would empty the corpus"))
    assert(CorpusStore.health(spark, dir).toMap.apply("corpus_pending") === 0L)
    // apply-time re-check: two takedowns each valid at staging, whose
    // SUM empties the corpus — the second must SKIP (stay staged as
    // the standing alert), never throw, and never touch the tombstone
    // log; later-staged intents still apply past it
    CorpusStore.stageTakedown(spark, dir, (1L to 6L).toSeq)
    CorpusStore.stageTakedown(spark, dir, (5L to 10L).toSeq)
    CorpusStore.stageBatch(spark, dir, docsDf(21L to 25L))
    CorpusStore.heal(spark, dir)
    assert(CorpusStore.health(spark, dir).toMap.apply("corpus_pending") === 1L,
      "the refused takedown stays staged as a standing alert")
    assert(rowsOf(CorpusStore.readDocs(spark, dir).select("doc_id")) ===
      rowsOf(docsDf((7L to 10L) ++ (21L to 25L)).select("doc_id")),
      "later-staged intents applied past the refused record")
    // the refused record's ids never reached the tombstone log: only
    // the APPLIED takedown's 1..6 are tombstoned
    assert(spark.read.parquet(s"$dir/takedowns")
      .where(col("op") === "add")
      .select("doc_id").distinct().count() === 6L,
      "only the APPLIED takedown's ids are tombstoned")
    // the next heal re-reads the standing record — the accept landed,
    // so removing 5..10 no longer empties the corpus and it applies
    CorpusStore.heal(spark, dir)
    assert(CorpusStore.health(spark, dir).toMap.apply("corpus_pending") === 0L)
    assert(rowsOf(CorpusStore.readDocs(spark, dir).select("doc_id")) ===
      rowsOf(docsDf(21L to 25L).select("doc_id")),
      "the formerly-refused takedown applied once it stopped emptying")
    assert(spark.read.parquet(s"$dir/takedowns")
      .where(col("op") === "add")
      .select("doc_id").distinct().count() === 10L,
      "its ids reach the log exactly when it applies")
  }

  test("unbanded re-derivation applies the accept admission rules: out-of-band writes cannot resurrect tombstoned ids or duplicate indexed ones") {
    val dir = store("graft_cs_oob")
    CorpusStore.create(spark, dir, docsDf(1L to 20L), "doc_id", "text")
    CorpusStore.removeDocuments(spark, dir, Seq(3L, 4L))
    // an out-of-band docs write bypassing the staging discipline:
    // ids 3,4 are tombstoned, ids 5,6 already indexed under another
    // batch, ids 41,42 genuinely new
    docsDf(Seq(3L, 4L, 5L, 6L, 41L, 42L))
      .withColumn(CorpusStore.BatchCol, lit("b_oob"))
      .write.option("partitionOverwriteMode", "dynamic")
      .partitionBy(CorpusStore.BatchCol).mode("overwrite")
      .parquet(s"$dir/${CorpusStore.DocsSub}")
    assert(CorpusStore.health(spark, dir).toMap.apply("corpus_unbanded") === 1L)
    CorpusStore.heal(spark, dir)
    assert(CorpusStore.health(spark, dir).toMap.apply("corpus_unbanded") === 0L)
    val ids = CorpusStore.readDocs(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(!ids.contains(3L) && !ids.contains(4L),
      "tombstoned ids do not resurrect through an out-of-band write")
    assert(ids.count(i => i == 5L || i == 6L) === 2 &&
      ids.distinct.size === ids.size,
      "already-indexed ids do not duplicate")
    assert(ids.contains(41L) && ids.contains(42L),
      "genuinely new out-of-band docs are admitted and indexed")
    // the admitted rows are probe-visible; 3/4 match nothing
    val probe = CorpusStore.probeBatch(spark, dir, docsDf(Seq(3L, 41L)))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(probe(41L) === "exact", "admitted oob doc serves from the index")
    // an ENTIRELY inadmissible oob batch heals to consistent absence
    docsDf(Seq(3L, 4L))
      .withColumn(CorpusStore.BatchCol, lit("b_oob2"))
      .write.option("partitionOverwriteMode", "dynamic")
      .partitionBy(CorpusStore.BatchCol).mode("overwrite")
      .parquet(s"$dir/${CorpusStore.DocsSub}")
    CorpusStore.heal(spark, dir)
    assert(CorpusStore.health(spark, dir).toMap.apply("corpus_unbanded") === 0L)
    assert(!CorpusStore.readDocs(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).exists(i => i == 3L || i == 4L))
  }
}
