package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance for the persisted on-disk index layouts (IVF-PQ code
  * partitions, MinHash banded signatures): their append lifecycles
  * (`Similarity.appendIvfPqIndex`, `Dedup.appendMinhashIndex`) add one
  * parquet file per touched partition per append, so a high-frequency
  * ingest cadence accumulates small files and the probe cost becomes
  * file-OPEN-bound long before it is byte-bound — the standard warehouse
  * small-file story.
  *
  * [[compact]] rewrites such a layout to one file per partition value
  * WITHOUT changing a single row: read, hash-repartition ON the partition
  * column (every value's rows land in exactly one task, so each
  * partition directory gets exactly one output file), rewrite into a
  * staging directory, carry the `_graft_*` model/parameter sidecars
  * byte-verbatim, then swap via two renames. Because index rows are
  * independent (no global statistics, no ordering — the property that
  * already makes append ≡ rebuild), compaction ≡ identity on every probe
  * result; MinhashIndexSpec and IvfPqMaintSpec pin probe-before ==
  * probe-after bit-exactly.
  *
  * Lifecycle: the parameter-sidecar indexes — IVF-PQ (`Similarity`,
  * partitioned by `centroid_id`, sidecar `_graft_model`), MinHash
  * (`Dedup`, `band_idx`, `_graft_minhash_params`), media fingerprints
  * (`Multimodal`, `band_idx`, `_graft_fp_params`) and the resampler
  * caches (`Resampler`, unpartitioned, `_graft_resample_params`) — write,
  * append and open through one code path: [[writeIndex]] (flat overwrite
  * or a new manifest generation via [[rebuild]]), [[appendIndex]] and
  * [[openIndex]] (live generation, guard, read, tombstone filter). All
  * planes share one guard, [[requireParamsMatch]], whose sidecar
  * read goes through [[readSmall]]: one control read per guarded call on
  * a flat layout, two on a manifest layout.
  *
  * Crash window: between the two renames the live path is briefly
  * absent; a crash there leaves the complete OLD index at
  * `<dir>__precompact` for manual recovery, and the staging dir is only
  * renamed in AFTER a fully successful write. On object stores without
  * atomic rename, run with `swap = false` and repoint serving at the
  * returned staging path instead (the blue/green form).
  *
  * SINGLE MUTATOR (r12, contract): exactly one writer — append,
  * tombstone, or compact — may mutate an index at a time. Concurrent
  * READS are safe throughout (and with an [[enableManifest]] pointer
  * layout, safe even across a compaction swap), but a row appended to the live
  * dir AFTER compact's staging read and BEFORE its swap is silently
  * lost (moved to `__precompact`, then deleted), and a tombstone
  * written in that window is wrongly cleared as if materialized.
  * [[compact]] enforces the append half of this loudly: it re-lists the
  * live dir before swapping and aborts if any data file is newer than
  * its staging snapshot. Serialize mutators externally (an ingest lock,
  * a single owner job) — the same rule every log-structured index
  * (LSM, Lucene, Iceberg without a catalog) imposes. */
object IndexMaintenance {

  private val TombstoneDir = "_graft_tombstones"
  private val ManifestFile = "_graft_manifest"
  private val GenPrefix = "_graft_gen_"

  /** Driver FS control-file reads performed through [[readSmall]]
    * (manifest resolutions + sidecar reads) — test instrumentation for
    * the O(1)-reads-per-resolve contracts (r17: `Dedup.labelChain`'s
    * one-read chain sidecar). Monotonic; specs assert deltas. */
  private[graft] val controlReads = new java.util.concurrent.atomic.AtomicLong

  // ------------------------------------------------- rename atomicity

  /** Filesystems whose single-file rename-overwrite IS atomic — the
    * property [[writeManifest]]'s pointer swap and [[compact]]'s
    * directory swap rely on. abfs/abfss = ADLS Gen2 with hierarchical
    * namespace (atomic rename is the feature); o3fs/ofs = Ozone. */
  private val AtomicRenameSchemes =
    Set("file", "local", "hdfs", "viewfs", "webhdfs", "hopsfs", "o3fs", "ofs", "abfs", "abfss")

  /** Object stores whose "rename" is copy+delete (or eventually
    * consistent): a manifest swap there can be observed TORN or
    * half-applied by a concurrent reader — silently, which is worse
    * than not working at all. */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "swift", "oss", "cos", "cosn", "obs")

  /** Escape hatch for stores fronted by a consistency layer that makes
    * rename atomic (e.g. an HDFS-compatible gateway keeping its own
    * scheme name). */
  val AssumeAtomicRenameConf = "spark.graft.manifest.assumeAtomicRename"

  private val warnedSchemes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Loud guard (r17, two-round verdict item — the r16 `.crc` rename
    * race proved the hazard class is real even locally): refuse to run
    * an atomic-swap lifecycle on a filesystem known to lack atomic
    * rename, instead of silently tearing under concurrent readers.
    * Unknown schemes get a one-time stderr warning (fail-open: a
    * denylist can't enumerate every HDFS-compatible FS). */
  private[graft] def requireAtomicRename(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem, api: String): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    if (NonAtomicRenameSchemes.contains(scheme)) {
      if (!spark.conf.getOption(AssumeAtomicRenameConf).exists(_.trim.equalsIgnoreCase("true")))
        throw new IllegalStateException(
          s"$api: filesystem scheme '$scheme' does not provide atomic rename — the " +
            "manifest pointer swap would be silently torn under concurrent readers. " +
            "Use the blue/green form instead (compact(swap = false) and repoint serving " +
            "at the returned staging path), or set " +
            s"$AssumeAtomicRenameConf=true if this store is fronted by a consistency " +
            "layer that makes rename atomic.")
    } else if (!AtomicRenameSchemes.contains(scheme) &&
        !spark.conf.getOption(AssumeAtomicRenameConf).exists(_.trim.equalsIgnoreCase("true")) &&
        warnedSchemes.add(scheme)) {
      System.err.println(
        s"[graft] $api: unrecognized filesystem scheme '$scheme' — the manifest swap " +
          "assumes atomic single-file rename-overwrite; verify your store provides it " +
          s"(or silence this with $AssumeAtomicRenameConf=true)")
    }
  }

  // ------------------------------------------------- manifest generations

  /** True when `dir` carries the manifest-pointer layout. */
  def hasManifest(spark: SparkSession, dir: String): Boolean =
    fileSystem(spark, dir).exists(new Path(dir, ManifestFile))

  /** The directory probes and appends actually read/write: the
    * GENERATION subdir named by `<dir>/_graft_manifest` when the index
    * uses the manifest-pointer layout ([[enableManifest]]), else `dir`
    * itself (the flat layout every `write*Index` produces). Probe entry
    * points resolve per call — a streaming `foreachBatch` server picks
    * up a compaction swap on its next micro-batch with zero restart.
    * Generation names start with an underscore, so a flat
    * `spark.read.parquet(dir)` of a manifest root never accidentally
    * reads any generation's data. */
  def resolveLive(spark: SparkSession, dir: String): String = {
    val fs = fileSystem(spark, dir)
    val mf = new Path(dir, ManifestFile)
    if (fs.exists(mf)) new Path(dir, readSmall(fs, mf)).toString else dir
  }

  /** Migrate a flat index layout to the manifest-pointer layout: the
    * existing data moves into generation `_graft_gen_00000` and
    * `_graft_manifest` points at it. After this, [[compact]] swaps
    * generations by atomically rewriting the one-line manifest — the
    * live path is NEVER absent, so a concurrent probe (including a
    * mid-stream `annServe`/`dedupServe` micro-batch) always resolves a
    * complete index: the old generation before the swap, the new one
    * after. The previous generation is retained for in-flight readers
    * and deleted by the NEXT compaction.
    *
    * The migration itself is a MUTATION (single-mutator contract): run
    * it once, before serving starts. Root-level `_graft_tombstones`
    * stays at the root — tombstones are generation-independent pending
    * deletes and are materialized+cleared by the next compaction. */
  def enableManifest(spark: SparkSession, dir: String): String = {
    val fs = fileSystem(spark, dir)
    // fail BEFORE any file moves: enabling the pointer layout on a
    // store that can't swap the pointer atomically is a setup error
    requireAtomicRename(spark, fs, "enableManifest")
    val root = fs.makeQualified(new Path(dir))
    require(fs.exists(root), s"enableManifest: no index at $dir")
    require(!fs.exists(new Path(root, ManifestFile)),
      s"enableManifest: $dir already has a manifest")
    val gen0 = new Path(root, f"$GenPrefix${0}%05d")
    fs.mkdirs(gen0)
    fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName != gen0.getName && p.getName != TombstoneDir)
      .foreach { p =>
        require(fs.rename(p, new Path(gen0, p.getName)),
          s"enableManifest: could not move ${p.getName} into ${gen0.getName}")
      }
    writeManifest(spark, root, gen0.getName)
    gen0.toString
  }

  /** Atomically (re)point `<root>/_graft_manifest` at `genName`: write a
    * temp file, then FileContext rename with OVERWRITE — atomic on HDFS
    * and on posix local filesystems, so a reader sees either the old or
    * the new generation name, never a partial file and never no file.
    * (Local-fs caveat: the checksummed LocalFileSystem renames the
    * `.crc` sidecar as a SECOND step, so a racing read can throw
    * ChecksumException for a few microseconds — [[readSmall]] absorbs
    * that with a bounded retry; the data file itself is never torn.) */
  private def writeManifest(spark: SparkSession, root: Path, genName: String): Unit = {
    val fs = fileSystem(spark, root.toString)
    requireAtomicRename(spark, fs, "manifest swap")
    val tmp = new Path(root, ManifestFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(genName.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      root.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, new Path(root, ManifestFile),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Read a tiny control file (manifest / sidecar) whole. Retries
    * ChecksumException: on Hadoop's checksummed LOCAL filesystem a
    * rename moves the data file and its `.crc` sidecar in two steps, so
    * a reader racing [[writeManifest]]'s atomic swap can transiently
    * observe new data under the old checksum (r16 — surfaced as a
    * once-per-hundreds flake in ManifestSwapSpec's compaction race).
    * HDFS keeps checksums server-side and has no such window; locally
    * the pair settles within the writer's next instruction, so a short
    * bounded retry restores the "old or new, never torn" contract. */
  private def readSmall(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    controlReads.incrementAndGet()
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(p)
        try return scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          if (attempt >= 8) throw e
          Thread.sleep(5L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Write a one-line parameter sidecar `<dir>/<name>` (the
    * `_graft_*` convention: leading underscore, carried verbatim by
    * [[compact]], checked loudly by probes/appends). */
  def writeParamsSidecar(
      spark: SparkSession, dir: String, name: String, content: String): Unit = {
    require(name.startsWith("_graft_"), s"sidecar name must be _graft_*: $name")
    val p = new Path(dir, name)
    val fs = fileSystem(spark, dir)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** The content of sidecar `<dir>/<name>`, when present. */
  def readParamsSidecar(spark: SparkSession, dir: String, name: String): Option[String] = {
    val p = new Path(dir, name)
    val fs = fileSystem(spark, dir)
    if (fs.exists(p)) Some(readSmall(fs, p)) else None
  }

  /** Throws when `dir` carries sidecar `name` with content other than
    * `expected` — the shared guard of the index lifecycle below, which
    * keeps probe/append parameters consistent with the build's; the
    * message names `what` differs ("model parameters", "MinHash
    * parameters", "parameters"). Absent sidecar passes unchecked
    * (pre-sidecar or externally-written indexes). */
  private[graft] def requireParamsMatch(spark: SparkSession, dir: String, name: String,
      expected: String, api: String, what: String): Unit = {
    val p = new Path(dir, name)
    val fs = fileSystem(spark, dir)
    if (fs.exists(p)) {
      val stored = readSmall(fs, p)
      require(stored == expected,
        s"$api: index at $dir was built under different $what " +
          s"(stored '$stored', supplied '$expected') — rebuild the index")
    }
  }

  /** Zero-gap REBUILD on a manifest layout (r12): `writeGen` writes a
    * complete fresh index (data + sidecars) into the returned staging
    * generation path; when it finishes, the manifest atomically repoints
    * and older generations (except the superseded one, retained for
    * in-flight readers) are reaped. Serving probes resolve per call, so
    * a rebuild — retrained codebooks via
    * `Similarity.pqCodebooksTrained`, a re-sharded corpus, new MinHash
    * reference set — lands between micro-batches with zero restart and
    * zero absent-path window, exactly like [[compact]]'s swap. Pending
    * tombstones are CLEARED, not carried: a rebuild defines the new
    * reference population outright (exclude deleted content from the
    * rebuild input). Mutator op — single-mutator contract applies.
    * Returns the new live generation's path. */
  def rebuild(spark: SparkSession, dir: String, alsoKeep: Set[String] = Set.empty)(
      writeGen: String => Unit): String = {
    val fs = fileSystem(spark, dir)
    val root = fs.makeQualified(new Path(dir))
    require(fs.exists(new Path(root, ManifestFile)),
      s"rebuild: $dir is not a manifest layout — run enableManifest first " +
        "(a flat layout rebuilds with the plain overwrite write)")
    val liveGenName = readSmall(fs, new Path(root, ManifestFile))
    val nextN = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(GenPrefix))
      .map(_.stripPrefix(GenPrefix).toInt).max + 1
    val next = new Path(root, f"$GenPrefix$nextN%05d")
    fs.delete(next, true)
    writeGen(next.toString)
    writeManifest(spark, root, next.getName)
    fs.delete(new Path(root, TombstoneDir), true)
    // `alsoKeep` (r14): generations a layered layout still depends on —
    // the label planes' delta chains — survive the reap alongside the
    // superseded live generation
    fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.startsWith(GenPrefix) &&
        p.getName != next.getName && p.getName != liveGenName &&
        !alsoKeep.contains(p.getName))
      .foreach(p => fs.delete(p, true))
    next.toString
  }

  // ------------------------------------------------- index lifecycle

  /** How one operator plane persists its index: the parquet partition
    * columns (none for an unpartitioned index), the `_graft_*` parameter
    * sidecar, and what a mismatched sidecar means, for the guard's message. */
  private[graft] final case class IndexLayout(
      partitionCols: Seq[String], sidecar: String, what: String)

  /** Write a complete index of `rows` with sidecar content `params`: a
    * flat overwrite of `dir`, or on a manifest layout a new generation
    * through [[rebuild]] — a zero-gap swap that a probe still holding the
    * old parameters fails on loudly, never mixing the two builds. The
    * sidecar is written after the data, so a present sidecar marks a
    * complete write. */
  private[graft] def writeIndex(
      rows: DataFrame, dir: String, layout: IndexLayout, params: String): Unit = {
    val spark = rows.sparkSession
    def writeTo(target: String): Unit = {
      rows.write.mode("overwrite").partitionBy(layout.partitionCols: _*).parquet(target)
      writeParamsSidecar(spark, target, layout.sidecar, params)
    }
    if (hasManifest(spark, dir)) rebuild(spark, dir)(writeTo) else writeTo(dir)
  }

  /** Append `rows` to the live generation of the index at `dir`, after
    * the guard has checked `params` against its sidecar. */
  private[graft] def appendIndex(rows: DataFrame, dir: String, layout: IndexLayout,
      params: String, api: String): Unit = {
    val live = resolveLive(rows.sparkSession, dir)
    requireParamsMatch(rows.sparkSession, live, layout.sidecar, params, api, layout.what)
    rows.write.mode("append").partitionBy(layout.partitionCols: _*).parquet(live)
  }

  /** The live rows of the index at `dir` for a probe: resolve the live
    * generation (per call, so a swap is picked up by the next probe),
    * guard `params` against its sidecar, read it, and drop the ids
    * tombstoned at the root (pending deletes are generation-independent). */
  private[graft] def openIndex(spark: SparkSession, dir: String, layout: IndexLayout,
      params: String, idCol: String, api: String): DataFrame = {
    val live = resolveLive(spark, dir)
    requireParamsMatch(spark, live, layout.sidecar, params, api, layout.what)
    filterTombstoned(spark, dir, spark.read.parquet(live), idCol)
  }

  /** DELETE from a persisted index, tombstone-style: the ids are
    * appended to a slim parquet set under `<dir>/_graft_tombstones`
    * (leading underscore — the index's own parquet reads never see it),
    * every probe anti-joins live rows against the set
    * ([[filterTombstoned]]), and the next [[compact]] drops the rows
    * physically and clears the set. O(|deleted|) per delete, zero index
    * rewriting until compaction — the GDPR-expunge shape.
    *
    * Semantics: a tombstone is id-level and PERMANENT until the
    * compaction that materializes it — appending new rows under a
    * tombstoned id does not resurrect the id (delete means "this id's
    * content is expunged"); re-admit by compacting first, then
    * appending. */
  def tombstone(spark: SparkSession, dir: String, ids: DataFrame, idCol: String): Unit = {
    require(fileSystem(spark, dir).exists(new Path(dir)), s"tombstone: no index at $dir")
    // a string id would CAST to null silently and the delete would no-op
    // — same plan-build-time contract as the heap top-k paths
    Similarity.requireIntegralId(ids, idCol, "tombstone")
    ids.select(col(idCol).cast("long").as("_del_id")).distinct()
      .write.mode("append").parquet(new Path(dir, TombstoneDir).toString)
  }

  /** The index's tombstone id set, when any deletes are pending. */
  def tombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(dir, TombstoneDir)
    if (fileSystem(spark, dir).exists(p))
      Some(spark.read.parquet(p.toString).distinct())
    else None
  }

  /** `rows` minus any tombstoned ids — the probe-side read of a
    * [[tombstone]]d index (one anti-join on a slim id set; AQE
    * broadcasts it at realistic delete volumes). */
  def filterTombstoned(
      spark: SparkSession, dir: String, rows: DataFrame, idCol: String): DataFrame =
    tombstones(spark, dir) match {
      case None => rows
      case Some(t) =>
        rows.join(t, rows(idCol).cast("long") === t("_del_id"), "left_anti")
    }

  private def fileSystem(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive (path, length, modtime) listing of every FILE under
    * `root` — the drift fingerprint for [[compact]]'s single-mutator
    * guard. A concurrent append adds part files (and rewrites
    * `_SUCCESS`), a concurrent tombstone adds files under
    * `_graft_tombstones` — all visible as set difference. */
  private def listTree(
      fs: org.apache.hadoop.fs.FileSystem, root: Path): Seq[(String, Long, Long)] = {
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    while (it.hasNext) {
      val st = it.next()
      buf += ((st.getPath.toUri.getPath, st.getLen, st.getModificationTime))
    }
    buf.toSeq
  }

  /** Compacts the partitioned parquet index at `dir` to one file per
    * `partitionCol` value, materializing any pending [[tombstone]]s
    * (rows dropped physically, the tombstone set cleared — pass
    * `tombstoneIdCol` so the anti-join knows the id column). Returns the
    * path now holding the compacted layout: `dir` itself when `swap`
    * (default), else the staging dir.
    *
    * On a manifest-pointer layout ([[enableManifest]]) this is a
    * [[rebuild]] instead: the compacted rows land in a NEW generation
    * dir, the one-line manifest is atomically repointed, and
    * the live path is never absent — serving probes (including
    * mid-stream `annServe`/`dedupServe` micro-batches) are safe across
    * the swap; `swap` is ignored (the manifest IS the blue/green
    * pointer). Returns the new generation's path. */
  def compact(
      spark: SparkSession,
      dir: String,
      partitionCol: String,
      swap: Boolean = true,
      tombstoneIdCol: Option[String] = None): String = {
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(live), s"compact: no index at $dir")
    // fail BEFORE the staging rewrite: an in-place swap on a
    // non-atomic-rename store is the documented swap=false case
    if (swap) requireAtomicRename(spark, fs, "compact")
    if (fs.exists(new Path(live, ManifestFile)))
      return rebuild(spark, dir) { next =>
        // single-mutator guard: appends land in the live generation,
        // tombstones at the root — snapshot both, re-check before publish
        val liveGen = new Path(resolveLive(spark, dir))
        val snapshot = mutationScope(fs, live, liveGen)
        writeCompacted(spark, dir, liveGen, new Path(next), partitionCol, tombstoneIdCol)
        requireNoDrift(dir, "the manifest swap", snapshot, mutationScope(fs, live, liveGen))
      }
    val staging = new Path(dir + "__compacting")
    val backup = new Path(dir + "__precompact")
    fs.delete(staging, true)
    fs.delete(backup, true)

    // single-mutator guard (r12): snapshot the live tree now; re-list
    // just before the swap and abort loudly if anything changed, so an
    // append/tombstone racing this compaction fails the compaction
    // instead of vanishing into __precompact
    val snapshot = listTree(fs, live)
    writeCompacted(spark, dir, live, staging, partitionCol, tombstoneIdCol)
    if (!swap) return staging.toString
    requireNoDrift(dir, "the swap", snapshot, listTree(fs, live))
    require(fs.rename(live, backup), s"compact: could not stage-out $dir")
    require(fs.rename(staging, live), s"compact: could not swap in ${staging.getName}")
    fs.delete(backup, true)
    dir
  }

  /** [[compact]]'s rewrite of the index at `from` into `to`: the rows
    * minus materialized tombstones, one file per `partitionCol` value,
    * plus the model/parameter sidecars carried byte-verbatim — the
    * compacted index is the SAME index, so append/probe guards must keep
    * matching. FILES only: the tombstone DIRECTORY is deliberately not
    * carried — its deletes were just materialized into the rewrite. */
  private def writeCompacted(spark: SparkSession, dir: String, from: Path, to: Path,
      partitionCol: String, tombstoneIdCol: Option[String]): Unit = {
    val rows = spark.read.parquet(from.toString)
    tombstoneIdCol.fold(rows)(filterTombstoned(spark, dir, rows, _))
      .repartition(col(partitionCol))
      .write.partitionBy(partitionCol).parquet(to.toString)
    val fs = fileSystem(spark, dir)
    fs.listStatus(from).map(_.getPath)
      .filter(p => p.getName.startsWith("_graft_") && fs.getFileStatus(p).isFile)
      .foreach(p => org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, new Path(to, p.getName),
        false, true, spark.sparkContext.hadoopConfiguration))
  }

  /** The single-mutator abort: the tree [[compact]] read changed before
    * it could publish the rewrite. */
  private def requireNoDrift(dir: String, swap: String,
      before: Seq[(String, Long, Long)], after: Seq[(String, Long, Long)]): Unit = {
    val drift = after.toSet.diff(before.toSet)
    require(drift.isEmpty,
      s"compact: concurrent mutation of $dir detected (single-mutator " +
        s"contract) — aborting before $swap; changed: " +
        drift.take(5).map(_._1).mkString(", "))
  }

  /** Everything a concurrent mutator could touch while a generation
    * compaction runs: the live generation's tree (appends) plus the
    * root tombstone set (deletes). */
  private def mutationScope(
      fs: org.apache.hadoop.fs.FileSystem, root: Path, liveGen: Path): Seq[(String, Long, Long)] = {
    val t = new Path(root, TombstoneDir)
    listTree(fs, liveGen) ++ (if (fs.exists(t)) listTree(fs, t) else Nil)
  }
}
