package graft.model

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, pmod}

/** One decoded index-catalog manifest row: which index exists, where
  * its parquet lives (relative to the catalog directory), and its
  * registration parameters — the fields populated depend on `kind`
  * (rollup/histogram/bucket_sums carry `windowNs`; kmv carries
  * `tag`/`windowNs`/`k`; mad carries `fromNs`/`toNs`; gap adds
  * `factor`). `pos` is the entry's IDENTITY (stable across retires,
  * used to address it), not its list index. */
final case class IndexCatalogEntry(
    pos: Int, kind: String, path: String,
    windowNs: Option[Long] = None,
    fromNs: Option[Long] = None, toNs: Option[Long] = None,
    factor: Option[Double] = None,
    tag: Option[String] = None, k: Option[Int] = None,
    /** The corpus-index kinds' recipe (content_hashes / lsh_bands,
      * [[graft.pipeline.CorpusStore]]): which document columns the
      * index derives from, and for lsh_bands the MinHash banding
      * parameters (shingle k rides the shared `k` field). A probe
      * built with different parameters would silently under-match —
      * the manifest is the one place the recipe lives. */
    idCol: Option[String] = None, textCol: Option[String] = None,
    numPerm: Option[Int] = None, bands: Option[Int] = None,
    /** The embedding-index kind's recipe (`ivf_cells`,
      * [[graft.pipeline.EmbeddingStore]]): which embedding column the
      * cells derive from, the deterministic-Lloyd fit parameters
      * (`nlist`/`iters` — what [[graft.pipeline.Similarity
      * .fitCodebook]] needs to re-derive the codebook), and the
      * optional product-quantization split (`m`/`ksub` — present
      * exactly when the stored assignment carries PQ codes). For this
      * kind `path` is the CURRENT EPOCH directory: a recall-gated
      * refit writes a new epoch and flips this pointer (manifest-last,
      * the save crash rule). */
    embCol: Option[String] = None,
    nlist: Option[Int] = None, iters: Option[Int] = None,
    m: Option[Int] = None, ksub: Option[Int] = None,
    /** true = the catalog wrote (and on retire deletes) this parquet;
      * false = [[IndexCatalog.adopt]]ed storage someone else owns —
      * typically a streaming maintainer's live sink — which retire
      * only de-registers, never deletes. */
    owned: Boolean = true,
    /** true (the default every save/append records) = this frame is
      * claimed to follow the kind's CANONICAL full-range recipe — the
      * construction [[IndexCatalog.rebuild]] re-derives from the
      * manifest params alone. An operator who registers a frame built
      * over FILTERED or sub-ranged facts marks it with
      * [[IndexCatalog.markNoncanonical]], and the rebuilds then refuse
      * (or, with skipNoncanonical, skip) it rather than silently
      * replacing a bespoke index with the full-facts build. */
    canonical: Boolean = true)

/** One [[IndexCatalog.freshness]] readout row: how current the data
  * behind catalog entry `pos` is. `lastNs` = the max committed time key
  * (ns) in the index parquet — for an ADOPTED stream-maintained entry,
  * the last window/bin its maintainer committed (the number an operator
  * alerts on when it stops advancing); for the snapshot kinds
  * (mad/gap), the registered build-range end. None = no rows yet. */
final case class IndexFreshness(pos: Int, kind: String, path: String,
    owned: Boolean, lastNs: Option[Long])

/** Persisted index catalog — the save/load half of index registration,
  * plus the operator surface (list / add / retire without a redeploy).
  *
  * Six index families serve statements ([[TsdbContext]].rollups /
  * histograms / bucketSums / kmvIndexes / madIndexes / gapIndexes), but
  * registration is construction-time wiring: nothing records WHICH
  * indexes exist, at what parameters, over which ranges. This module
  * closes that gap: [[save]] writes every registered index's frame to
  * parquet under one directory plus a single JSON-lines manifest of
  * (kind, path, params); [[load]] reconstructs the registration onto a
  * base context, after which [[graft.engine.Engine]]'s constructor
  * shape guards re-validate every frame exactly as they do for
  * hand-wired registration. [[describe]] lists the registration
  * without touching Spark, [[append]] adds indexes to a live catalog,
  * [[retire]] de-registers one and reclaims its storage — a restarted
  * engine no longer re-derives its registration from code, and an
  * operator manages indexes by editing storage, not redeploying.
  *
  * The reference persists exactly this kind of state in its sqlite
  * metastorage (/root/reference/stdb/metastorage/meta_storage.h:44+ —
  * series, configs and volumes survive restart); parquet + one
  * manifest file is the Spark-native analog: the index DATA is already
  * columnar and distributed, only the small registration record needs
  * a driver-readable file.
  *
  * Failure contract mirrors engine construction: a manifest that is
  * malformed, truncated, version-skewed, of unknown kind, or missing a
  * required parameter fails LOUDLY at read — never a silently smaller
  * registration. Parameters round-trip exactly: longs verbatim,
  * doubles via shortest-round-trip decimal (so [[GapIndexDef.factor]]'s
  * bit-exact serve-time match survives the catalog hop).
  *
  * Registration ORDER is the manifest's entry order and is preserved
  * by load — ladders register coarsest-first and statement serving
  * takes the first eligible level, so [[append]]ed entries (which land
  * last within their family) should be FINER levels; to place a
  * coarser level ahead, retire and re-save in the intended order.
  *
  * 100 TB notes: the manifest is O(#indexes) — tens of lines — and
  * lives beside index parquet that executors read directly; load does
  * no Spark job at all (frames stay lazy), so catalog recovery is a
  * driver-side millisecond operation regardless of data volume. ALL
  * catalog IO resolves through the path's Hadoop FileSystem — the
  * same resolution the tier metadata uses — so a database on HDFS/S3A
  * keeps its index registration exactly like a local one (the active
  * session's Hadoop configuration supplies runtime credentials;
  * spec-pinned by a scheme-qualified round-trip).
  */
object IndexCatalog {

  /** Manifest file name inside the catalog directory. */
  val ManifestName = "catalog.json"

  /** Manifest format version this code writes and accepts. */
  val Version = 1

  /** The manifest kinds, in the order [[save]] emits the families. */
  val Kinds: Seq[String] =
    Seq("rollup", "histogram", "bucket_sums", "kmv", "mad", "gap")

  /** The LLM-pipeline corpus-index kinds ([[graft.pipeline
    * .CorpusStore]]): `content_hashes` = the exact-dedup md5 lookup,
    * `lsh_bands` = the MinHash-LSH band rows carrying verification
    * sets. They share this manifest machinery (registration, recipe
    * params, canonical flag, describe) but NOT the fact rebuilds —
    * their facts are the corpus documents, their staleness record is
    * the store's pending/unbanded batch listing, and their heal is
    * [[graft.pipeline.CorpusStore.heal]]. */
  val CorpusKinds: Seq[String] = Seq("content_hashes", "lsh_bands")

  /** The LLM-pipeline embedding-index kind ([[graft.pipeline
    * .EmbeddingStore]]): `ivf_cells` = the persisted cell-partitioned
    * IVF assignment with its codebook (and optional PQ codes). Same
    * manifest machinery as the corpus kinds, same exclusions: its
    * facts are embedding vectors, its staleness reads are the store's
    * pending listing and cell-share drift, its heals are
    * [[graft.pipeline.EmbeddingStore.heal]] / the recall-gated refit. */
  val EmbeddingKinds: Seq[String] = Seq("ivf_cells")

  private val mapper = new ObjectMapper

  // ------------------------------------ filesystem (Hadoop, like the
  // tier metadata: a catalog on HDFS/S3A resolves exactly like a
  // local one instead of silently losing its index registration)

  /** The active session's Hadoop configuration when one exists (it
    * carries runtime credentials — S3A keys etc.); the classpath
    * default otherwise, so the Spark-free readouts ([[describe]],
    * [[markNoncanonical]], [[adopt]], [[retire]]) stay Spark-free. */
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** The catalog's view of `p`: the RAW filesystem (checksum wrapper
    * unwrapped) — the manifest is an OPERATOR-EDITABLE text file
    * ("manage indexes by editing storage"), so it must carry no `.crc`
    * sidecar ([[HadoopFiles.hfs]]). */
  private def catalogFs(p: String) = HadoopFiles.hfs(hadoopConf, p, raw = true)

  /** `dir`-relative entry paths join by string (URI-safe); absolute
    * recorded paths (local `/...` or scheme-qualified `scheme://...`)
    * resolve as themselves. */
  private def resolvePath(dir: String, entryPath: String): String =
    if (entryPath.startsWith("/") || entryPath.contains("://")) entryPath
    else s"${dir.stripSuffix("/")}/$entryPath"

  /** An owned binned index's `__day=<N>` storage partitions as
    * (day, path) — empty for an absent or FLAT (legacy) directory. */
  private def listDayPartitions(idxDir: String): Seq[(Long, String)] = {
    val (f, hp) = catalogFs(idxDir)
    if (!f.exists(hp) || f.getFileStatus(hp).isFile) Nil
    else f.listStatus(hp).toSeq.filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith(DayCol + "="))
        name.stripPrefix(DayCol + "=").toLongOption
          .map(_ -> st.getPath.toString)
      else None
    }
  }

  /** Adopted-storage provenance of LOADED frames: [[load]] records, per
    * adopted (owned=false) entry, the frame's logical plan → the
    * resolved absolute data path, so a later [[save]]/[[graft.model
    * .TsdbLayout.writeDatabase]] of a context carrying that SAME frame
    * re-emits the POINTER (owned=false, original path) instead of
    * copying the parquet — a re-save can never silently freeze a live
    * stream-maintained index at its current content while the
    * maintainer keeps appending to a now-unreferenced directory.
    * Weak keys: entries die with their frames. A TRANSFORMED frame
    * (filter/select over the adopted one) is a different plan and
    * saves as an owned copy — correct: a derivative is not the sink. */
  private val adoptedProvenance = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String]())

  // ------------------------------------------------------------- write

  private def entryNode(e: IndexCatalogEntry): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("pos", e.pos); n.put("kind", e.kind); n.put("path", e.path)
    e.windowNs.foreach(n.put("windowNs", _))
    e.fromNs.foreach(n.put("fromNs", _))
    e.toNs.foreach(n.put("toNs", _))
    e.factor.foreach(n.put("factor", _))
    e.tag.foreach(n.put("tag", _))
    e.k.foreach(n.put("k", _))
    e.idCol.foreach(n.put("idCol", _))
    e.textCol.foreach(n.put("textCol", _))
    e.numPerm.foreach(n.put("numPerm", _))
    e.bands.foreach(n.put("bands", _))
    e.embCol.foreach(n.put("embCol", _))
    e.nlist.foreach(n.put("nlist", _))
    e.iters.foreach(n.put("iters", _))
    e.m.foreach(n.put("m", _))
    e.ksub.foreach(n.put("ksub", _))
    if (!e.owned) n.put("owned", false)
    if (!e.canonical) n.put("canonical", false)
    n
  }

  /** Parsed manifest: the entries plus the next position to issue.
    * `nextPos` only grows — positions are never reissued, even after
    * every entry is retired, so a runbook's retire-by-pos can never
    * alias onto a later index. */
  private final case class Manifest(entries: Seq[IndexCatalogEntry],
      nextPos: Int)

  /** Rewrite the manifest atomically-enough for a single-writer
    * operator flow: temp file in the same directory, then move. */
  private def writeManifest(dir: String, entries: Seq[IndexCatalogEntry],
      nextPos: Int): Unit = {
    val header = mapper.createObjectNode()
    header.put("catalog_version", Version)
    header.put("entries", entries.size)
    header.put("next_pos", nextPos)
    val lines = (header +: entries.map(entryNode))
      .map(mapper.writeValueAsString)
    val (f, hp) = catalogFs(resolvePath(dir, ManifestName))
    HadoopFiles.atomicWrite(f, hp,
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** The (entry, frame) list a context's registration flattens to, in
    * family order — shared by [[save]] and [[append]]. `startPos`
    * offsets the positions (append continues after the existing max).
    * A frame [[load]] recorded as ADOPTED re-stages as the pointer it
    * was (owned=false, the live data path — relative when it lies
    * under `dir`), so ownership survives the save round-trip
    * ([[adoptedProvenance]]); everything else stages as an owned
    * `idx_<pos>_<kind>` copy. */
  private def flatten(ctx: TsdbContext, startPos: Int,
      dir: String): Seq[(IndexCatalogEntry, DataFrame)] = {
    var pos = startPos - 1
    def next(kind: String, frame: DataFrame,
        entryOf: (Int, String) => IndexCatalogEntry): (IndexCatalogEntry, DataFrame) = {
      pos += 1
      adoptedProvenance.get(frame.queryExecution.logical) match {
        case null => (entryOf(pos, s"idx_${pos}_$kind"), frame)
        case live => (entryOf(pos, storedPath(dir, live))
          .copy(owned = false), frame)
      }
    }
    ctx.rollups.map { case (step, r) =>
      next("rollup", r, (p, rel) =>
        IndexCatalogEntry(p, "rollup", rel, windowNs = Some(step)))
    } ++ ctx.histograms.map { case (win, h) =>
      next("histogram", h, (p, rel) =>
        IndexCatalogEntry(p, "histogram", rel, windowNs = Some(win)))
    } ++ ctx.bucketSums.map { case (step, b) =>
      next("bucket_sums", b, (p, rel) =>
        IndexCatalogEntry(p, "bucket_sums", rel, windowNs = Some(step)))
    } ++ ctx.kmvIndexes.map { d =>
      next("kmv", d.index, (p, rel) =>
        IndexCatalogEntry(p, "kmv", rel, windowNs = Some(d.windowNs),
          tag = Some(d.tag), k = Some(d.k)))
    } ++ ctx.madIndexes.map { d =>
      next("mad", d.index, (p, rel) =>
        IndexCatalogEntry(p, "mad", rel,
          fromNs = Some(d.fromNs), toNs = Some(d.toNs)))
    } ++ ctx.gapIndexes.map { d =>
      next("gap", d.index, (p, rel) =>
        IndexCatalogEntry(p, "gap", rel, fromNs = Some(d.fromNs),
          toNs = Some(d.toNs), factor = Some(d.factor)))
    }
  }

  /** How a data path is recorded in the manifest at `dir`: RELATIVE
    * when it lies under the catalog directory — the whole directory
    * then moves/copies as a unit (backup, restore, rename) with every
    * internal reference intact — and absolute otherwise, where moving
    * the catalog cannot move the external storage anyway (resolution
    * after a catalog move then either still serves the live directory
    * or fails loudly on the missing path — never a silent stale read,
    * spec-pinned). */
  private def storedPath(dir: String, dataPath: String): String = {
    // qualified-URI prefix comparison instead of java.nio relativize:
    // works identically for local paths and scheme-qualified remote
    // ones (an hdfs:// data path under an hdfs:// catalog dir records
    // relative; across filesystems it records the full qualified URI)
    val (rf, rp) = catalogFs(dir)
    val rootUri = rf.makeQualified(rp).toUri.toString.stripSuffix("/") + "/"
    val (df, dp) = catalogFs(dataPath)
    val dataUri = df.makeQualified(dp).toUri.toString
    if (dataUri.startsWith(rootUri)) dataUri.stripPrefix(rootUri)
    else if (dataUri.startsWith("file:")) dataUri.stripPrefix("file:")
    else dataUri
  }

  private def writeFrames(dir: String,
      staged: Seq[(IndexCatalogEntry, DataFrame)]): Unit =
    staged.foreach { case (e, frame) =>
      // adopted entries are POINTERS: their storage belongs to the
      // maintainer (usually a live stream sink) — copying it here
      // would freeze a live index at its current content
      if (e.owned) writeOwned(dir, e, frame, dynamicDays = false)
    }

  /** Partition column of OWNED binned index storage: the day of the
    * row's bin start. Day-partitioning the index parquet is what lets
    * [[rebuildScoped]] dynamic-overwrite only the bins a correction
    * touched (the [[graft.model.TsdbLayout.upsertSamples]] discipline
    * pointed at indexes); [[load]] strips the column, so registered
    * frames are byte-identical to the flat form. */
  private val DayCol = "__day"

  private val NsPerDay = graft.time.TimeUtil.NsPerDay

  /** The binned kinds' time-key column (None for the snapshot kinds). */
  private def timeColOf(kind: String): Option[String] = kind match {
    case "rollup" => Some("bin")
    case "histogram" | "kmv" => Some("win")
    case "bucket_sums" => Some("__b")
    case _ => None // mad/gap: fixed-range snapshots, no time key
  }

  /** The time key as epoch ns (bucket_sums labels are ordinals). */
  private def timeNsCol(e: IndexCatalogEntry): Column = {
    val c = col(timeColOf(e.kind).get)
    if (e.kind == "bucket_sums") c * lit(e.windowNs.get) else c
  }

  /** Write one owned entry's parquet: binned kinds partition by
    * [[DayCol]] (derived from the bin start; an EMPTY or
    * unexpected-shape frame writes flat — a zero-row partitionBy write
    * leaves no readable footer at all); snapshot kinds write flat.
    * `dynamicDays = true` scopes the overwrite to the day partitions
    * the frame carries ([[rebuildScoped]]); false replaces the whole
    * directory. */
  private def writeOwned(dir: String, e: IndexCatalogEntry,
      frame: DataFrame, dynamicDays: Boolean): Unit = {
    val path = resolvePath(dir, e.path)
    timeColOf(e.kind).filter(frame.columns.contains) match {
      case None =>
        frame.write.mode("overwrite").parquet(path)
      case Some(_) if frame.isEmpty =>
        // an EMPTY dynamic slice must be a NO-OP, never a fallthrough
        // that statically replaces the whole index with nothing (a
        // touched pair matching no rows would otherwise destroy it);
        // an empty FULL write stays flat — a zero-row partitionBy
        // write leaves no readable footer at all
        if (!dynamicDays) frame.write.mode("overwrite").parquet(path)
      case Some(_) =>
        val out = frame.withColumn(DayCol,
          graft.functions.VectorExpressions.longFloorDiv(timeNsCol(e), NsPerDay))
        // BOTH modes pinned explicitly, PER WRITE (the DataFrameWriter
        // option, never a session-conf toggle — which would race any
        // concurrent partitioned write in the session): a session-wide
        // "dynamic" default would make the FULL rewrite keep stale day
        // partitions the new frame doesn't carry (e.g. a day whose
        // facts were deleted — exactly what full rebuild must heal)
        out.write
          .option("partitionOverwriteMode",
            if (dynamicDays) "dynamic" else "static")
          .partitionBy(DayCol).mode("overwrite").parquet(path)
    }
  }

  /** Write `ctx`'s full index registration (all six families) under
    * `dir`: one parquet directory per index (`idx_<pos>_<kind>`) and
    * one JSON-lines manifest — a header line
    * `{"catalog_version":1,"entries":N}` followed by one entry object
    * per index in registration order (order matters: ladders register
    * coarsest-first and serving takes the first eligible level). The
    * manifest is written LAST, so a crashed save leaves no readable
    * catalog rather than a partial one. */
  def save(ctx: TsdbContext, dir: String): Unit = {
    val (f, hp) = catalogFs(dir); f.mkdirs(hp)
    val staged = flatten(ctx, startPos = 0, dir)
    writeFrames(dir, staged)
    writeManifest(dir, staged.map(_._1), nextPos = staged.size)
  }

  /** Add `extra`'s registered indexes to an EXISTING catalog at `dir`
    * without touching the live entries: new parquet directories at
    * positions after the current maximum, manifest rewritten once
    * (frames first, manifest last — the [[save]] crash rule). `extra`
    * is a parameter-carrier: only its index fields are read, so build
    * it as `emptyCarrier.copy(rollups = …)` over any context. Within
    * each family the new entries land AFTER the existing ones on load
    * — append finer ladder levels; re-save to reorder. */
  def append(extra: TsdbContext, dir: String): Unit = {
    val m = parseManifest(dir)
    // positions issue from the header's high-water mark, NEVER from the
    // surviving entries' max: reusing a retired entry's pos would let an
    // operator's earlier retire-by-pos silently address a later index
    val staged = flatten(extra, m.nextPos, dir)
    require(staged.nonEmpty, "append needs at least one index to add")
    writeFrames(dir, staged)
    writeManifest(dir, m.entries ++ staged.map(_._1),
      nextPos = m.nextPos + staged.size)
  }

  /** De-register entry `pos` from the catalog at `dir`; if the catalog
    * OWNS the entry's parquet (it came through [[save]]/[[append]]),
    * delete it too — nothing references it once the manifest drops it.
    * [[adopt]]ed entries only de-register: their storage belongs to
    * whoever maintains it (usually a live stream sink). Unknown
    * positions fail loudly — a retire that silently no-ops would let
    * an operator believe an index is gone while every restart keeps
    * serving from it. */
  def retire(dir: String, pos: Int): Unit = {
    val m = parseManifest(dir)
    val (hit, rest) = m.entries.partition(_.pos == pos)
    require(hit.nonEmpty,
      s"index catalog at $dir has no entry at pos $pos " +
        s"(present: ${m.entries.map(_.pos).mkString(", ")})")
    writeManifest(dir, rest, m.nextPos)
    if (hit.head.owned)
      HadoopFiles.deleteRecursive(hadoopConf, resolvePath(dir, hit.head.path))
  }

  /** Register an EXISTING index parquet without copying it — typically
    * a directory a streaming maintainer keeps fresh
    * ([[graft.streaming.TsdbStream]]'s rollupBuild / histBuild /
    * kmvBuild / bucketMeansBuild sinks, whose schemas are the
    * registered-index schemas by construction). The manifest records
    * the data path RELATIVE to the catalog directory when the sink
    * lives under it (the common layout — the catalog then relocates as
    * a unit, adopted entries intact) and absolute otherwise; [[load]]
    * resolves against the catalog directory either way, so restarts
    * keep serving from the live directory while the stream keeps
    * appending (subject to the maintainer's own freshness contract —
    * see [[graft.engine.Rollup]]'s; poll [[freshness]] to watch it).
    * A RELOCATED catalog with an outside-root adopted path either
    * still resolves the live directory (it did not move) or fails
    * loudly on the missing path at first read — never a silent stale
    * resolution (spec-pinned). [[save]]/[[append]]
    * WRITE frames the catalog owns; adopt POINTS at storage someone
    * else owns, and [[retire]] respects the difference — as does a
    * re-[[save]] of a loaded context, which re-emits adopted entries
    * as pointers instead of freezing a live sink into a copy.
    * Parameters are validated per kind exactly like a parsed manifest
    * entry.
    *
    * @return the assigned position (the handle [[retire]] takes). */
  def adopt(dir: String, kind: String, dataPath: String,
      windowNs: Option[Long] = None,
      fromNs: Option[Long] = None, toNs: Option[Long] = None,
      factor: Option[Double] = None,
      tag: Option[String] = None, k: Option[Int] = None): Int = {
    val missing: Seq[String] = kind match {
      case "rollup" | "histogram" | "bucket_sums" =>
        if (windowNs.isEmpty) Seq("windowNs") else Nil
      case "kmv" =>
        Seq("windowNs" -> windowNs, "tag" -> tag, "k" -> k)
          .collect { case (f, o) if o.isEmpty => f }
      case "mad" =>
        Seq("fromNs" -> fromNs, "toNs" -> toNs)
          .collect { case (f, o) if o.isEmpty => f }
      case "gap" =>
        Seq("fromNs" -> fromNs, "toNs" -> toNs, "factor" -> factor)
          .collect { case (f, o) if o.isEmpty => f }
      case other => throw new IllegalArgumentException(
        s"adopt: unknown index kind '$other'")
    }
    require(missing.isEmpty,
      s"adopt (kind $kind) lacks required parameter(s): ${missing.mkString(", ")}")
    val (df, dp) = catalogFs(dataPath)
    require(df.exists(dp) && df.getFileStatus(dp).isDirectory,
      s"adopt: no index data directory at ${df.makeQualified(dp)}")
    val m = parseManifest(dir)
    writeManifest(dir, m.entries :+ IndexCatalogEntry(m.nextPos, kind,
      storedPath(dir, dataPath), windowNs, fromNs, toNs, factor, tag, k,
      owned = false),
      m.nextPos + 1)
    m.nextPos
  }

  /** Record that entry `pos`'s frame does NOT follow its kind's
    * canonical full-range recipe — it was registered over filtered or
    * sub-ranged facts the manifest's params cannot describe. The
    * rebuilds ([[rebuild]] / [[rebuildScoped]]) refuse (or, with
    * `skipNoncanonical`, skip) such an entry instead of silently
    * replacing a bespoke index with the full-facts build, which would
    * change its index-served answers without warning. One-way by
    * design: proving a frame canonical again means retiring it and
    * re-registering a canonical build. Unknown positions fail loudly
    * ([[retire]]'s rule). */
  def markNoncanonical(dir: String, pos: Int): Unit = {
    val m = parseManifest(dir)
    require(m.entries.exists(_.pos == pos),
      s"index catalog at $dir has no entry at pos $pos " +
        s"(present: ${m.entries.map(_.pos).mkString(", ")})")
    writeManifest(dir, m.entries.map(e =>
      if (e.pos == pos) e.copy(canonical = false) else e), m.nextPos)
  }

  /** How fresh each registered index's data is — the standing alert an
    * operator pairs with [[graft.model.TsdbLayout.l0Stragglers]]: an
    * ADOPTED stream-maintained index serves statements with whatever
    * its sink last committed, and a stalled maintainer is invisible to
    * [[describe]] (kind/path/params only). Per entry, `lastNs` is the
    * max committed time key in the index data — rollup `bin` /
    * histogram and kmv `win` starts verbatim (ns), bucket_sums' `__b`
    * ordinal × its window — and the registered build-range end for the
    * snapshot kinds (mad/gap), whose freshness is fixed at build time.
    * None when the index holds no rows yet.
    *
    * Cost: one max() aggregation per entry over its own parquet — a
    * column-pruned single-column scan of the INDEX (no joins, no fact
    * read; index-sized, never fact-sized). Poll at a cadence the index
    * size affords; for a multi-GB sink, pruning the read to the sink's
    * newest partition/window files before the max is the operator's
    * lever — this readout deliberately stays exact and simple. */
  def freshness(spark: SparkSession, dir: String,
      adoptedOnly: Boolean = false): Seq[IndexFreshness] = {
    parseManifest(dir).entries
      // the max() scan per entry is the readout's whole cost: a
      // stalled-MAINTAINER poll ([[graft.model.TsdbLayout
      // .healthCheck]]'s index_lagging) needs only the adopted
      // entries, and must not pay a full-history owned index scan per
      // tick just to discard the answer
      .filter(e => !adoptedOnly || !e.owned)
      .map { e =>
        // time key via the one shared kind mapping ([[timeColOf]] /
        // [[timeNsCol]] — the same rule the day-partitioning uses, so
        // the two can never drift per kind)
        val lastNs = timeColOf(e.kind) match {
          case None => e.toNs // mad/gap: fixed [fromNs, toNs) builds
          case Some(_) =>
            val row = ParquetDirs.read(spark, resolvePath(dir, e.path))
              .agg(org.apache.spark.sql.functions.max(timeNsCol(e))).head()
            if (row.isNullAt(0)) None
            else Some(row.getAs[Number](0).longValue)
        }
        IndexFreshness(e.pos, e.kind, resolvePath(dir, e.path),
          e.owned, lastNs)
      }
  }

  // -------------------------------------------------------------- read

  /** List the catalog's registration — manifest parse only, no Spark,
    * no frame reads: the operator's `ls`. Fails loudly on every
    * malformation [[load]] would refuse. */
  def describe(dir: String): Seq[IndexCatalogEntry] =
    parseManifest(dir).entries

  private def parseManifest(dir: String): Manifest = {
    val manifest = resolvePath(dir, ManifestName)
    val (mf, mp) = catalogFs(manifest)
    require(mf.exists(mp) && mf.getFileStatus(mp).isFile,
      s"index catalog manifest not found: $manifest")
    val lines = HadoopFiles.readText(mf, mp).linesIterator
      .map(_.trim).filter(_.nonEmpty).toSeq
    require(lines.nonEmpty, s"index catalog manifest is empty: $manifest")

    def parse(line: String, what: String): JsonNode =
      try mapper.readTree(line)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"index catalog $what is not valid JSON: ${e.getMessage}") }

    val header = parse(lines.head, "header")
    val ver = header.path("catalog_version")
    require(ver.isInt && ver.asInt == Version,
      s"index catalog version mismatch: expected $Version, " +
        s"manifest says ${if (ver.isMissingNode) "<missing>" else ver}")
    val declared = header.path("entries")
    require(declared.isInt && declared.asInt == lines.size - 1,
      s"index catalog manifest truncated or padded: header declares " +
        s"${declared} entries, file has ${lines.size - 1}")

    def longOf(n: JsonNode, field: String, kind: String): Long = {
      val v = n.path(field)
      require(v.isIntegralNumber,
        s"index catalog entry (kind $kind) lacks required long '$field'")
      v.asLong
    }
    def doubleOf(n: JsonNode, field: String, kind: String): Double = {
      val v = n.path(field)
      require(v.isNumber,
        s"index catalog entry (kind $kind) lacks required double '$field'")
      v.asDouble
    }
    def textOf(n: JsonNode, field: String, kind: String): String = {
      val v = n.path(field)
      require(v.isTextual && v.asText.nonEmpty,
        s"index catalog entry (kind $kind) lacks required string '$field'")
      v.asText
    }

    val entries = lines.tail.zipWithIndex.map { case (line, i) =>
      val n = parse(line, s"entry ${i + 1}")
      val kind = textOf(n, "kind", "<any>")
      val pos = longOf(n, "pos", kind).toInt
      val path = textOf(n, "path", kind)
      // absent = owned (the pre-adopt manifest form); if present it
      // must be a JSON boolean — a lenient parse here could read a
      // hand-edited "false" string as owned and let retire delete a
      // live maintainer's storage
      val ownedNode = n.path("owned")
      require(ownedNode.isMissingNode || ownedNode.isBoolean,
        s"index catalog entry (kind $kind) has non-boolean 'owned'")
      val owned = ownedNode.isMissingNode || ownedNode.asBoolean
      // same strictness as 'owned': a hand-edited "false" STRING read
      // leniently would let rebuild replace a bespoke frame
      val canonNode = n.path("canonical")
      require(canonNode.isMissingNode || canonNode.isBoolean,
        s"index catalog entry (kind $kind) has non-boolean 'canonical'")
      val canonical = canonNode.isMissingNode || canonNode.asBoolean
      (kind match {
        case "rollup" | "histogram" | "bucket_sums" =>
          IndexCatalogEntry(pos, kind, path,
            windowNs = Some(longOf(n, "windowNs", kind)))
        case "kmv" =>
          IndexCatalogEntry(pos, kind, path,
            windowNs = Some(longOf(n, "windowNs", kind)),
            tag = Some(textOf(n, "tag", kind)),
            k = Some(longOf(n, "k", kind).toInt))
        case "mad" =>
          IndexCatalogEntry(pos, kind, path,
            fromNs = Some(longOf(n, "fromNs", kind)),
            toNs = Some(longOf(n, "toNs", kind)))
        case "gap" =>
          IndexCatalogEntry(pos, kind, path,
            fromNs = Some(longOf(n, "fromNs", kind)),
            toNs = Some(longOf(n, "toNs", kind)),
            factor = Some(doubleOf(n, "factor", kind)))
        case "content_hashes" =>
          IndexCatalogEntry(pos, kind, path,
            idCol = Some(textOf(n, "idCol", kind)),
            textCol = Some(textOf(n, "textCol", kind)))
        case "lsh_bands" =>
          IndexCatalogEntry(pos, kind, path,
            idCol = Some(textOf(n, "idCol", kind)),
            textCol = Some(textOf(n, "textCol", kind)),
            k = Some(longOf(n, "k", kind).toInt),
            numPerm = Some(longOf(n, "numPerm", kind).toInt),
            bands = Some(longOf(n, "bands", kind).toInt))
        case "ivf_cells" =>
          // the PQ half is present-both-or-neither: a manifest naming
          // only one is hand-edit damage, refused loudly
          val hasM = !n.path("m").isMissingNode
          val hasKsub = !n.path("ksub").isMissingNode
          require(hasM == hasKsub,
            s"index catalog entry (kind $kind) must carry both 'm' " +
              s"and 'ksub' or neither")
          IndexCatalogEntry(pos, kind, path,
            idCol = Some(textOf(n, "idCol", kind)),
            embCol = Some(textOf(n, "embCol", kind)),
            nlist = Some(longOf(n, "nlist", kind).toInt),
            iters = Some(longOf(n, "iters", kind).toInt),
            m = if (hasM) Some(longOf(n, "m", kind).toInt) else None,
            ksub = if (hasKsub) Some(longOf(n, "ksub", kind).toInt) else None)
        case other => throw new IllegalArgumentException(
          s"index catalog entry ${i + 1} has unknown kind '$other'")
      }).copy(owned = owned, canonical = canonical)
    }
    // pos is each entry's identity: duplicates would make retire-by-pos
    // de-register BOTH while reclaiming one parquet — refuse the
    // manifest (the fail-LOUDLY-at-read rule for hand-edited files)
    val dupPos = entries.groupBy(_.pos).collect {
      case (p, es) if es.size > 1 => p }
    require(dupPos.isEmpty,
      s"index catalog manifest has duplicate pos value(s): ${dupPos.mkString(", ")}")
    // next_pos is the position high-water mark (older manifests lack
    // it: fall back to max+1 — correct until the first retire)
    val np = header.path("next_pos")
    val nextPos =
      if (np.isInt) np.asInt
      else entries.map(_.pos).maxOption.getOrElse(-1) + 1
    require(entries.forall(_.pos < nextPos),
      s"index catalog next_pos ($nextPos) must exceed every entry pos")
    Manifest(entries, nextPos)
  }

  /** Rebuild every OWNED index frame of the database at `dbDir` from
    * its CURRENT facts — the remedy for the persisted-index staleness
    * window ([[graft.model.TsdbLayout.upsertSamples]]'s contract: owned
    * frames are save-time snapshots, corrections reach the layout, not
    * them). Each family re-derives with its CANONICAL recipe from the
    * manifest params alone — the same construction the engine's shape
    * guards assume and the stream maintainers emit — so a rebuild of an
    * UNCHANGED database reproduces the saved frames row-for-row
    * (spec-pinned; ladder levels rebuilt from raw equal their
    * compacted-from-finer originals because every family's accumulators
    * merge by addition), and a rebuild after upserts serves the
    * corrections. Adopted entries are untouched — their maintainer owns
    * the storage and [[freshness]] reads its lag. The manifest is
    * untouched (params, positions, order all keep); a crash
    * mid-overwrite leaves that one parquet loudly unreadable and a
    * re-run IS the recovery (idempotent) — which is why facts come
    * through [[graft.model.TsdbLayout.openFacts]], NOT openDatabase:
    * the full open eagerly loads every index frame and would throw on
    * the destroyed one before any rewrite could run (spec-pinned).
    * Consistency across families: every family derives from the ONE
    * fact snapshot openFacts resolves (file listings pinned at open),
    * so a live ingest committing mid-rebuild cannot make two owned
    * indexes disagree about the same rows — the new epoch simply waits
    * for the next rebuild.
    *
    * Non-canonical entries ([[markNoncanonical]]) refuse by default —
    * replacing a bespoke frame with the full-facts build would change
    * its index-served answers without warning; pass
    * `skipNoncanonical = true` to rebuild the canonical entries and
    * leave the marked ones untouched. A successful rebuild clears the
    * database's upsert-touched record
    * ([[graft.model.TsdbLayout.indexDirtyPairs]]) — every canonical
    * owned frame now reflects the corrected facts.
    *
    * @return number of owned frames rebuilt. */
  def rebuild(spark: SparkSession, dbDir: String,
      skipNoncanonical: Boolean = false): Int = {
    val dir = s"$dbDir/indexes"
    val canon = canonicalOwned(dir, skipNoncanonical)
    // the pending record is read BEFORE the fact snapshot — pairs AND
    // the files holding them — and the completion clear shrinks only
    // those files: an upsert landing while a long rebuild runs records
    // pairs this rebuild's (already-pinned) snapshot does not contain
    // into a NEW file, which must STAY pending even when it repeats a
    // pair the snapshot held (a hot partition's repeated correction)
    // or the staleness alert would go green over uncorrected index
    // bins. Residual window documented at
    // [[graft.model.TsdbLayout.IndexDirtyName]]. With no canonical
    // owned entry there is nothing a record can owe (frames appended
    // later derive from then-current facts), so the pending pairs
    // clear rather than alerting forever
    val (pending, pendingFiles) = TsdbLayout.indexDirtySnapshot(spark, dbDir)
    if (canon.isEmpty) {
      TsdbLayout.clearIndexDirty(spark, dbDir, pending, pendingFiles)
      return 0
    }
    val ctx = TsdbLayout.openFacts(spark, dbDir)
    val facts = ctx.samples.select("series_id", "ts", "value")
    canon.foreach { e =>
      writeOwned(dir, e, canonicalFrame(e, facts, ctx), dynamicDays = false)
    }
    TsdbLayout.clearIndexDirty(spark, dbDir, pending, pendingFiles)
    canon.size
  }

  /** The canonical-policy gate both rebuilds share: owned entries,
    * refusing loudly on non-canonical ones unless `skip`. */
  private def canonicalOwned(dir: String,
      skip: Boolean): Seq[IndexCatalogEntry] = {
    val owned = parseManifest(dir).entries.filter(_.owned)
    // the corpus-index kinds derive from DOCUMENTS, not the fact
    // layout — a fact rebuild could only destroy them. Their heal is
    // CorpusStore.heal (pending/unbanded batch listing); refuse loudly
    // rather than silently skipping an owned canonical entry
    val corpus = owned.filter(e =>
      CorpusKinds.contains(e.kind) || EmbeddingKinds.contains(e.kind))
    require(corpus.isEmpty,
      s"rebuild: catalog at $dir registers pipeline-index entr" +
        s"${if (corpus.size == 1) "y" else "ies"} at pos " +
        s"${corpus.map(_.pos).mkString(", ")} (${corpus.map(_.kind).distinct
          .mkString(", ")}) — those derive from corpus documents / " +
        s"embeddings and heal through graft.pipeline.CorpusStore.heal " +
        s"or graft.pipeline.EmbeddingStore, not the fact rebuilds")
    val marked = owned.filterNot(_.canonical)
    require(marked.isEmpty || skip,
      s"rebuild: catalog at $dir has non-canonical owned entr" +
        s"${if (marked.size == 1) "y" else "ies"} at pos " +
        s"${marked.map(_.pos).mkString(", ")} — rebuilding would replace " +
        s"bespoke frames with the full-facts build and silently change " +
        s"their answers; pass skipNoncanonical = true to rebuild only " +
        s"the canonical entries")
    owned.filter(_.canonical)
  }

  /** One entry's CANONICAL construction over a fact slice — the exact
    * recipes the engine's maintainers emit and the shape guards
    * assume, shared by [[rebuild]] (full facts) and [[rebuildScoped]]
    * (a day-pruned slice; every binned family's groupBy keys embed the
    * bin, so building over the slice yields exactly the slice's bins).
    * `facts` carries (series_id, ts, value) at minimum. */
  private def canonicalFrame(e: IndexCatalogEntry, facts: DataFrame,
      ctx: TsdbContext): DataFrame = {
    val f3 = facts.select("series_id", "ts", "value")
    def named(from: Long, to: Long) = f3
      .where(col("ts") >= from && col("ts") < to)
      .join(ctx.series.select(col("series_id"), col("name")), "series_id")
    e.kind match {
      case "rollup" =>
        graft.engine.Rollup.build(f3, e.windowNs.get)
      case "histogram" =>
        graft.ops.HistQuantiles.histogram(
          f3.withColumn("win",
            col("ts") - pmod(col("ts"), lit(e.windowNs.get))),
          Seq("series_id", "win"))
      case "bucket_sums" =>
        graft.ops.Stats.bucketSums(f3, e.windowNs.get,
          keyCol = "series_id")
      case "kmv" =>
        graft.ops.Sketches.kmvIndex(
          f3.join(ctx.series.select(col("series_id"), col("metric"),
              col("tags").getItem(e.tag.get).as("__tv")), "series_id")
            .where(col("__tv").isNotNull)
            .select(col("metric"),
              (col("ts") - pmod(col("ts"), lit(e.windowNs.get))).as("win"),
              col("__tv")),
          "metric", "win", "__tv", k = e.k.get)
      case "mad" =>
        graft.ops.Monitoring.madIndex(
          named(e.fromNs.get, e.toNs.get).select(col("name"), col("value")),
          "name")
      case "gap" =>
        graft.ops.Monitoring.gapThresholdIndex(
          named(e.fromNs.get, e.toNs.get).select(col("name"), col("ts")),
          factor = e.factor.get, keyCol = "name")
    }
  }

  /** Merge a pair list's per-metric day set into maximal disjoint
    * W-aligned ns intervals: for touched day d, every bin whose
    * [bin, bin+W) overlaps the day is affected, so the interval is
    * [floor-align(day start), ceil-align(day end)) — wider than the
    * day only when W does not divide a day (weekly rollups etc.). */
  private def binIntervals(days: Seq[Long],
      w: Long): Seq[(Long, Long)] = {
    val raw = days.sorted.map { d =>
      (Math.floorDiv(d * NsPerDay, w) * w,
        Math.floorDiv((d + 1) * NsPerDay + w - 1, w) * w)
    }
    raw.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: rest, (l, h)) if l <= hi =>
        (lo, math.max(hi, h)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  }

  /** The day-pruned fact slice covering exactly the affected bin
    * intervals — metric AND ts_day bound the scan's PARTITION filters
    * (PlanShapeSpec pins both reach the parquet scan), the ts bounds
    * trim straddling row groups. Day bounds are RANGE predicates per
    * merged interval, never per-day enumerations: a months-long
    * correction (or a retention sweep routed through the record)
    * stays O(intervals) in the plan, not O(days) — at 100 TB the
    * predicate must not grow with the span it prunes. Exposed for the
    * plan pin; the slice is what keeps [[rebuildScoped]]'s fact read
    * day-sized. */
  private[graft] def scopedFactSlice(facts: DataFrame,
      ivs: Seq[(String, Seq[(Long, Long)])]): DataFrame =
    facts.where(ivs.map { case (m, vs) =>
      col("metric") === m &&
        vs.map { case (l, h) =>
          col("ts_day").between(
            Math.floorDiv(l, NsPerDay), Math.floorDiv(h - 1, NsPerDay)) &&
            col("ts") >= l && col("ts") < h
        }.reduce(_ || _)
    }.reduce(_ || _))

  /** Expose [[binIntervals]] for the plan/equality specs. */
  private[graft] def binIntervalsOf(days: Seq[Long], w: Long): Seq[(Long, Long)] =
    binIntervals(days, w)

  /** Retention's index half, called by [[graft.model.TsdbLayout
    * .expire]]: for every OWNED CANONICAL entry, drop the aged bins
    * the fact expiry just orphaned. Binned families whose window
    * divides a day (no bin straddles a day boundary) drop their
    * `__day < cutoffDay` storage partitions — the same metadata-only
    * directory delete the fact side used, exact by construction.
    * Everything else cannot be healed by a partition drop: a window
    * that straddles days (weekly rollups — the boundary bin holds
    * surviving facts too), flat legacy storage (no partitions to
    * drop), and snapshot families whose registered build range
    * intersects the expired days (a median over partly-vanished facts
    * must re-derive whole). For those this returns true and the
    * caller records the dropped (metric, day) set — the standing
    * `index_stale` alert then drives [[rebuildScoped]], which
    * re-derives the affected bins over the SURVIVING facts (bins
    * whose facts vanished entirely come out removed: kept excludes
    * them, the recompute finds nothing). Adopted and non-canonical
    * entries are never touched.
    *
    * @return true when at least one owned canonical entry needs the
    *         dirty-record path instead of the partition drop. */
  private[model] def expireBins(spark: SparkSession, dbDir: String,
      cutoffDay: Long): Boolean = {
    val dir = s"$dbDir/indexes"
    val owned = parseManifest(dir).entries
      .filter(e => e.owned && e.canonical)
    var unremovable = false
    owned.foreach { e =>
      val idxDir = resolvePath(dir, e.path)
      timeColOf(e.kind) match {
        case Some(_)
            if e.windowNs.exists(w => w > 0 && NsPerDay % w == 0) =>
          val dayDirs = listDayPartitions(idxDir)
          if (dayDirs.isEmpty) unremovable = true // flat legacy storage
          else {
            val (aged, surviving) = dayDirs.partition(_._1 < cutoffDay)
            // whole-index expiry cannot arise through expire (it
            // refuses to empty the fact layout, and the index covers
            // the fact days) — defensively route it through the
            // record instead of leaving an unreadable footer-less dir
            if (surviving.isEmpty && aged.nonEmpty) unremovable = true
            else aged.foreach { case (_, p) =>
              HadoopFiles.deleteRecursive(hadoopConf, p)
            }
          }
        case Some(_) => unremovable = true // bins straddle days
        case None => // snapshot kinds: re-derive iff range intersects
          if (e.fromNs.exists(_ < cutoffDay * NsPerDay)) unremovable = true
      }
    }
    unremovable
  }

  /** Rebuild only the index bins a correction TOUCHED — the
    * partition-scoped form of [[rebuild]], and the reason an upsert at
    * 100 TB does not cost six full-history scans: the fact read is
    * pruned to the (metric, ts_day) partitions covering the affected
    * bins (every binned family's accumulators merge by addition — the
    * compaction-ladder law — so bins outside the touched set are kept
    * verbatim from the existing index), and the index rewrite
    * dynamic-overwrites only the touched [[DayCol]] partitions of the
    * day-partitioned owned storage (a legacy FLAT owned parquet falls
    * back to one index-sized rewrite — still with the day-pruned fact
    * read — and is upgraded to the partitioned layout in passing).
    * The reference never pays even this: its SubtreeRef stats update
    * inside the write path (stdb/storage/nbtree.h:457,
    * nbtree_def.h:47-84) — a day-scoped re-derivation is the closest a
    * snapshot index can come.
    *
    * The SNAPSHOT kinds (mad/gap) have no additive law — a median
    * cannot be patched per day — so an entry whose registered
    * [fromNs, toNs) build range intersects a touched day re-derives
    * whole, and one that doesn't is skipped untouched.
    *
    * `touched` = the corrected (metric, ts_day) set; None reads the
    * record [[graft.model.TsdbLayout.upsertSamples]] keeps
    * ([[graft.model.TsdbLayout.indexDirtyPairs]]). Either way the
    * pairs handled are cleared from that record on success, so
    * `maintenanceTick`'s `index_stale` alert drops to zero exactly
    * when every canonical owned frame serves the corrections.
    * DELETIONS heal too, as long as they are in the touched set: a
    * touched bin whose facts vanished (retention routed through the
    * record, a recorded manual purge) comes out REMOVED — kept
    * excludes it, the recompute finds nothing, and the partition
    * delete below reclaims day partitions the output no longer
    * carries. Only an UNRECORDED fact removal (manual surgery that
    * never touched the record) still needs [[rebuild]] or an explicit
    * `touched` set naming it. Same non-canonical policy,
    * [[graft.model.TsdbLayout.openFacts]] snapshot-consistency and
    * crash-idempotence (re-run IS the recovery) as [[rebuild]].
    *
    * @return number of owned frames whose storage was rewritten. */
  def rebuildScoped(spark: SparkSession, dbDir: String,
      touched: Option[Seq[(String, Long)]] = None,
      skipNoncanonical: Boolean = false): Int = {
    val dir = s"$dbDir/indexes"
    // pairs first, manifest second: a database with NO index catalog
    // at all (stream-assembled, never writeDatabase'd) must make a
    // healing maintenanceTick a clean zero, not a manifest-not-found
    // crash after the tick already paid its compaction work
    // pairs AND the record files holding them are snapshotted at
    // ENTRY: the completion clear shrinks only those files, so a
    // recorder landing mid-rebuild stays pending even when it repeats
    // a pair this run serves (file identity — see
    // [[graft.model.TsdbLayout.IndexDirtyName]])
    val (recPairs, recFiles) = TsdbLayout.indexDirtySnapshot(spark, dbDir)
    val pairs = touched.getOrElse(recPairs).distinct
    if (pairs.isEmpty) return 0
    val (mf0, mp0) = catalogFs(resolvePath(dir, ManifestName))
    if (!mf0.exists(mp0)) {
      TsdbLayout.clearIndexDirty(spark, dbDir, pairs, recFiles)
      return 0
    }
    val canon = canonicalOwned(dir, skipNoncanonical)
    if (canon.isEmpty) {
      // nothing rebuildable: with no canonical owned entry the record
      // can owe nothing (a frame appended later derives from
      // then-current facts) — clear the pairs rather than leaving a
      // permanent, un-clearable index_stale alert
      TsdbLayout.clearIndexDirty(spark, dbDir, pairs, recFiles)
      return 0
    }
    val ctx = TsdbLayout.openFacts(spark, dbDir)
    // broadcast (series_id, metric) of the touched metrics: the
    // series-keyed index rows' metric resolution (catalog-sized). A
    // touched metric the catalog does not know can have contributed no
    // index row and no fact — drop it up front so it neither forces a
    // pointless kept-only partition rewrite nor survives as a
    // perpetually-pending record entry
    val tSeries = ctx.series
      .where(col("metric").isin(pairs.map(_._1).distinct: _*))
      .select(col("series_id"), col("metric"))
    val knownMetrics = tSeries.select("metric").distinct()
      .collect().map(_.getString(0)).toSet
    val effPairs = pairs.filter(p => knownMetrics(p._1))
    if (effPairs.isEmpty) {
      TsdbLayout.clearIndexDirty(spark, dbDir, pairs, recFiles)
      return 0
    }
    val metrics = effPairs.map(_._1).distinct
    var n = 0
    canon.foreach { e =>
      timeColOf(e.kind) match {
        case None =>
          // snapshot kinds: re-derive whole iff the touched days
          // intersect the registered build range
          val lo = e.fromNs.get; val hi = e.toNs.get
          val hit = effPairs.exists { case (_, d) =>
            d * NsPerDay < hi && (d + 1) * NsPerDay > lo }
          if (hit) {
            writeOwned(dir, e,
              canonicalFrame(e, ctx.samples, ctx), dynamicDays = false)
            n += 1
          }
        case Some(_) =>
          val w = e.windowNs.get
          val ivs: Seq[(String, Seq[(Long, Long)])] = effPairs.groupBy(_._1)
            .view.mapValues(ps => binIntervals(ps.map(_._2), w)).toSeq
          // bin-start day RANGES of the affected intervals (for index
          // pruning + the dynamic overwrite) — range predicates per
          // merged interval, O(intervals) in the plan like the fact
          // slice, never a per-day enumeration
          val partDayRanges = ivs.flatMap(_._2).map { case (l, h) =>
            (Math.floorDiv(l, NsPerDay), Math.floorDiv(h - w, NsPerDay))
          }.distinct
          def hitPred(timeNs: Column): Column = ivs.map { case (m, vs) =>
            col("metric") === m &&
              vs.map { case (l, h) => timeNs >= l && timeNs < h }
                .reduce(_ || _)
          }.reduce(_ || _)
          val idxPath = resolvePath(dir, e.path)
          val old = ParquetDirs.read(spark, idxPath)
          val hasDayCol = old.columns.contains(DayCol)
          // rows to KEEP inside the touched partitions: everything not
          // (touched metric AND affected bin). Series-keyed kinds
          // resolve metric through the broadcast catalog slice — a row
          // with no match is another metric's, kept verbatim.
          val scopedOld = (if (hasDayCol)
              old.where(partDayRanges
                  .map { case (lo, hi) => col(DayCol).between(lo, hi) }
                  .reduce(_ || _))
                .drop(DayCol)
            else old)
          val kept = (if (e.kind == "kmv") scopedOld
              .where(!(col("metric").isin(metrics: _*) &&
                hitPred(timeNsCol(e))))
            else scopedOld
              .join(broadcast(tSeries), Seq("series_id"), "left")
              .where(col("metric").isNull || !hitPred(timeNsCol(e)))
              .drop("metric"))
          val fresh = canonicalFrame(e, scopedFactSlice(ctx.samples, ivs),
            ctx)
          // localCheckpoint severs the read-then-overwrite lineage on
          // the very directory being rewritten (the upsert discipline);
          // bounded by the touched slice, never the index
          val out = kept.unionByName(fresh).localCheckpoint()
          if (!hasDayCol) {
            // flat legacy index: one static whole-directory rewrite
            // (upgrading it to partitioned — or to a readable empty
            // flat frame when everything vanished)
            writeOwned(dir, e, out, dynamicDays = false)
            n += 1
          } else {
            // dynamic overwrite only replaces partitions the output
            // CARRIES — a touched partition whose bins all VANISHED
            // (their facts expired/deleted) emits no rows and would
            // silently keep its stale files, serving data the layout
            // no longer holds. So: write the partitions that exist,
            // then DELETE touched partitions absent from the output;
            // if that would empty the index entirely, replace it with
            // a readable empty flat frame instead (a no-partition
            // parquet root has no footer to read). Touched-but-absent
            // on BOTH sides (no rows before or after) is the no-op.
            val outDays = out.select(graft.functions.VectorExpressions
                .longFloorDiv(timeNsCol(e), NsPerDay).as("__d"))
              .distinct().collect().map(_.getLong(0)).toSet
            val dayDirs = listDayPartitions(idxPath)
            val stale = dayDirs.filter { case (d, _) =>
              !outDays(d) &&
                partDayRanges.exists { case (lo, hi) => d >= lo && d <= hi }
            }
            if (outDays.isEmpty && stale.nonEmpty &&
                stale.size == dayDirs.size) {
              out.write.mode("overwrite").parquet(idxPath)
              n += 1
            } else {
              if (outDays.nonEmpty)
                writeOwned(dir, e, out, dynamicDays = true)
              stale.foreach { case (_, p) =>
                HadoopFiles.deleteRecursive(hadoopConf, p)
              }
              if (outDays.nonEmpty || stale.nonEmpty) n += 1
            }
          }
      }
    }
    TsdbLayout.clearIndexDirty(spark, dbDir, pairs, recFiles)
    n
  }

  /** Reconstruct a saved registration onto `base` (whose catalog/fact
    * frames are supplied by the caller — the manifest records indexes,
    * not the data they index). Frames load lazily from the recorded
    * parquet paths; registration order is the manifest's entry order.
    * Any structural problem — unreadable or truncated manifest,
    * version skew, unknown kind, missing parameter — throws
    * IllegalArgumentException naming the offending line; a missing
    * parquet directory surfaces as Spark's own loud path error.
    * Build an [[graft.engine.Engine]] over the result to re-run the
    * constructor shape guards on every loaded frame. */
  def load(spark: SparkSession, dir: String, base: TsdbContext): TsdbContext = {
    parseManifest(dir).entries.foldLeft(base) { (out, e) =>
      // pipeline kinds refuse BEFORE any read: their paths resolve
      // against the STORE directory, not this catalog's, so a read
      // here would fail obscurely instead of naming the misuse
      if (CorpusKinds.contains(e.kind) || EmbeddingKinds.contains(e.kind))
        throw new IllegalArgumentException(
          s"index catalog entry pos ${e.pos} (kind ${e.kind}) is a " +
            s"pipeline-index registration — it loads through " +
            s"graft.pipeline.CorpusStore / EmbeddingStore, not onto " +
            s"a TsdbContext")
      val resolved = resolvePath(dir, e.path)
      val raw = ParquetDirs.read(spark, resolved)
      // owned binned storage is day-partitioned for rebuildScoped's
      // dynamic overwrite; the partition column is storage detail, not
      // index schema — registered frames match the flat form exactly
      val frame =
        if (raw.columns.contains(DayCol)) raw.drop(DayCol) else raw
      // adopted entries keep their provenance across a load → re-save
      // round-trip: a later save re-emits the pointer, never a frozen
      // copy of the live sink
      if (!e.owned) {
        val (pf, pp) = catalogFs(resolved)
        adoptedProvenance.put(frame.queryExecution.logical,
          pf.makeQualified(pp).toUri.toString)
      }
      e.kind match {
        case "rollup" =>
          out.copy(rollups = out.rollups :+ (e.windowNs.get -> frame))
        case "histogram" =>
          out.copy(histograms = out.histograms :+ (e.windowNs.get -> frame))
        case "bucket_sums" =>
          out.copy(bucketSums = out.bucketSums :+ (e.windowNs.get -> frame))
        case "kmv" =>
          out.copy(kmvIndexes = out.kmvIndexes :+
            KmvIndexDef(e.tag.get, e.windowNs.get, e.k.get, frame))
        case "mad" =>
          out.copy(madIndexes = out.madIndexes :+
            MadIndexDef(e.fromNs.get, e.toNs.get, frame))
        case "gap" =>
          out.copy(gapIndexes = out.gapIndexes :+
            GapIndexDef(e.fromNs.get, e.toNs.get, e.factor.get, frame))
      }
    }
  }

  /** Write the corpus-index manifest ([[graft.pipeline.CorpusStore]]'s
    * registration): the exact-dedup `content_hashes` entry and the
    * MinHash-LSH `lsh_bands` entry, recipe parameters recorded so a
    * probe or append with DIFFERENT parameters is refusable instead of
    * a silent under-match. Paths are the store's fixed relative
    * `hashes`/`bands` directories; both entries are owned + canonical
    * (the recipe is the canonical construction [[graft.pipeline
    * .CorpusStore.heal]] re-derives per batch). */
  def saveCorpusManifest(dir: String, idCol: String, textCol: String,
      k: Int, numPerm: Int, bands: Int): Unit = {
    require(k > 0 && numPerm > 0 && bands > 0 && numPerm % bands == 0,
      s"corpus index recipe invalid: k=$k numPerm=$numPerm bands=$bands " +
        s"(numPerm must be a positive multiple of bands)")
    val (f, hp) = catalogFs(dir); f.mkdirs(hp)
    writeManifest(dir, Seq(
      IndexCatalogEntry(0, "content_hashes", "hashes",
        idCol = Some(idCol), textCol = Some(textCol)),
      IndexCatalogEntry(1, "lsh_bands", "bands",
        idCol = Some(idCol), textCol = Some(textCol),
        k = Some(k), numPerm = Some(numPerm), bands = Some(bands))),
      nextPos = 2)
  }

  /** Write the embedding-index manifest ([[graft.pipeline
    * .EmbeddingStore]]'s registration): ONE `ivf_cells` entry whose
    * `path` names the current epoch directory and whose params are the
    * codebook recipe (nlist/iters over idCol/embCol, optional PQ
    * m/ksub). Written LAST at create and REWRITTEN (atomically) at a
    * refit's epoch flip — the manifest IS the epoch pointer. */
  def saveEmbeddingManifest(dir: String, epochPath: String,
      idCol: String, embCol: String, nlist: Int, iters: Int,
      m: Option[Int], ksub: Option[Int]): Unit = {
    require(nlist > 0 && iters >= 0,
      s"embedding index recipe invalid: nlist=$nlist iters=$iters")
    require(m.isDefined == ksub.isDefined,
      "embedding index PQ recipe needs both m and ksub or neither")
    for (mv <- m; kv <- ksub)
      require(mv > 0 && kv > 0,
        s"embedding index PQ recipe invalid: m=$mv ksub=$kv")
    val (f, hp) = catalogFs(dir); f.mkdirs(hp)
    writeManifest(dir, Seq(
      IndexCatalogEntry(0, "ivf_cells", epochPath,
        idCol = Some(idCol), embCol = Some(embCol),
        nlist = Some(nlist), iters = Some(iters), m = m, ksub = ksub)),
      nextPos = 1)
  }

  /** Flip the `ivf_cells` entry's epoch pointer to `newEpochPath` —
    * one atomic manifest rewrite, the commit point of a recall-gated
    * refit (the new epoch's data and codebook are fully written before
    * this runs; a crash before it leaves the old epoch serving). */
  def setEmbeddingEpoch(dir: String, newEpochPath: String): Unit = {
    val mf = parseManifest(dir)
    val e = mf.entries.filter(_.kind == "ivf_cells") match {
      case Seq(one) => one
      case es => throw new IllegalArgumentException(
        s"setEmbeddingEpoch: catalog at $dir must register exactly one " +
          s"ivf_cells entry, found ${es.size}")
    }
    writeManifest(dir,
      mf.entries.map(x => if (x.pos == e.pos) x.copy(path = newEpochPath) else x),
      mf.nextPos)
  }
}
