package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints.BarrierSyntax
import org.apache.spark.sql.types._

/** Multimodal column handling for training-data pipelines (builder
  * extension): image/audio/video payloads ride as opaque `binary` columns
  * with typed metadata structs alongside. Since r9 the decode is REAL:
  * [[MediaCodec]] parses PNG/JPEG/GIF/BMP headers and
  * [[graft.functions.DecodeResizeExpr]] executes a javax.imageio
  * decode+resize — all pure JVM, all inside whole-stage codegen (no
  * ScalaUDFs in this file). [[decodeStub]] remains ONLY for synthetic
  * non-media payloads (the oracle-replayable test-data path).
  */
object Multimodal {

  val MetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType)))

  /** Deterministic fake decoder for SYNTHETIC payloads (testdata text
    * bytes are not images): fake dimensions derived from content so the
    * pipeline stays testable end-to-end where no real image bytes exist.
    * Real media bytes never reach this — [[withDecodedMeta]] routes any
    * recognized magic to [[MediaCodec.parseMeta]]. */
  private[operators] def decodeStub(payload: Array[Byte]): (String, Int, Int, Long) = {
    val n = payload.length
    val fmt = if (n % 3 == 0) "png" else if (n % 3 == 1) "jpeg" else "webp"
    val w = 16 + (math.abs(java.util.Arrays.hashCode(payload)) % 64)
    val h = 16 + (math.abs(java.util.Arrays.hashCode(payload) / 64) % 64)
    (fmt, w, h, n.toLong)
  }

  /** Attach binary payload metadata: one pass, partition-local, no
    * shuffle, codegen-native ([[graft.functions.MediaMetaExpr]] — a real
    * PNG IHDR / JPEG SOF / GIF / BMP header parse). Payloads with no
    * recognized magic (synthetic test bytes) fall back to the
    * deterministic [[decodeStub]] fake so downstream schema contracts
    * hold on any input. */
  def withDecodedMeta(df: DataFrame, binCol: String = "payload"): DataFrame = {
    val real = graft.functions.MediaMetaExpr.column(col(binCol))
    // md5-arithmetic stub (same family as withPortableMeta): integer-exact
    // in SQL (conv/div, no double division — the hash exceeds 2^53)
    df.withColumn("_mm_h", conv(substring(md5(col(binCol)), 1, 15), 16, 10).cast("long"))
      .withColumn("media_meta",
        when(col(binCol).isNull, lit(null).cast(
          "struct<format:string,width:int,height:int,n_bytes:bigint>"))
          .when(real.getField("format").isNotNull, real)
          .otherwise(expr(
            s"""named_struct(
               |'format', element_at(array('png','jpeg','webp'), CAST(length($binCol) % 3 + 1 AS INT)),
               |'width',  CAST(16 + _mm_h % 64 AS INT),
               |'height', CAST(16 + (_mm_h div 64) % 64 AS INT),
               |'n_bytes', CAST(length($binCol) AS BIGINT))""".stripMargin)))
      .drop("_mm_h")
  }

  /** Portable decode-stub: payload metadata via md5 ARITHMETIC — pure
    * codegen column expressions (no UDF), so the fake dimensions are
    * reproducible by any SQL engine (unlike [[decodeStub]]'s JVM
    * hashCode). Same contract: replace with a real header parser in
    * production; everything downstream ([[patchGrid]]) only needs the
    * (width, height) schema. */
  def withPortableMeta(df: DataFrame, binCol: String = "payload"): DataFrame = {
    val h = conv(substring(md5(col(binCol)), 1, 15), 16, 10).cast("long")
    df.withColumn("_h", h)
      .withColumn("width", expr("CAST(16 + _h % 64 AS INT)"))
      .withColumn("height", expr("CAST(16 + (_h div 64) % 64 AS INT)"))
      .withColumn("n_bytes", length(col(binCol)).cast("long"))
      .drop("_h")
  }

  /** ViT-style patchification plumbing: one row per `patchSize`-square
    * patch of each image, with position ids and pixel bounds (edge
    * patches clamped) — the patch-token materialization a vision
    * training pipeline feeds to the tokenizer. Pure integer arithmetic
    * over a bounded `sequence` explode: fan-out = ⌈w/p⌉·⌈h/p⌉ per image,
    * zero shuffles, streaming-safe. */
  def patchGrid(df: DataFrame, patchSize: Int,
      wCol: String = "width", hCol: String = "height"): DataFrame = {
    require(patchSize >= 1, "patchSize must be positive")
    val p = patchSize
    df.withColumn("_pw", expr(s"CAST(($wCol + ${p - 1}) div $p AS BIGINT)"))
      .withColumn("_ph", expr(s"CAST(($hCol + ${p - 1}) div $p AS BIGINT)"))
      // guard the degenerate w=0/h=0 row: two-arg sequence(0, -1) steps
      // BACKWARD (two bogus patches); an empty array explodes to no rows
      .withColumn("patch_id",
        explode(expr("CASE WHEN _pw * _ph > 0 THEN sequence(CAST(0 AS BIGINT), _pw * _ph - 1) ELSE CAST(array() AS array<bigint>) END")))
      .withColumn("py", expr("patch_id div _pw"))
      .withColumn("px", expr("patch_id % _pw"))
      .withColumn("x0", expr(s"px * $p"))
      .withColumn("y0", expr(s"py * $p"))
      .withColumn("x1", expr(s"least(px * $p + $p, CAST($wCol AS BIGINT))"))
      .withColumn("y1", expr(s"least(py * $p + $p, CAST($hCol AS BIGINT))"))
      .drop("_pw", "_ph")
  }

  /** Content-addressed dedup of binary payloads: md5 over bytes, exact
    * hash-groupBy — same shuffle shape as text dedup. */
  def dedupPayloads(df: DataFrame, idCol: String, binCol: String = "payload"): DataFrame =
    df.groupBy(md5(col(binCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"),
        max(length(col(binCol))).as("n_bytes"))

  /** Resize planning: integer-exact target dimensions for a max-dimension
    * resize (the standard vision-pipeline pre-process contract: longest
    * side becomes `maxDim`, aspect preserved, round-half-up, never below
    * 1 px; `noUpscale` passes small images through). The actual pixel
    * resample is the production codec's job — THIS is the part a
    * distributed pipeline must agree on deterministically, and it is
    * pure codegen integer arithmetic (zero shuffles, streaming-safe). */
  def resizePlan(df: DataFrame, maxDim: Int, noUpscale: Boolean = true,
      wCol: String = "width", hCol: String = "height"): DataFrame = {
    require(maxDim >= 1, "maxDim must be positive")
    val m = maxDim
    val pass = if (noUpscale) s"greatest($wCol, $hCol) <= $m" else "false"
    df.withColumn("_mx", expr(s"CAST(greatest($wCol, $hCol) AS BIGINT)"))
      .withColumn("out_w", expr(
        s"CAST(CASE WHEN $pass THEN $wCol ELSE greatest(1, (2 * $wCol * $m + _mx) div (2 * _mx)) END AS INT)"))
      .withColumn("out_h", expr(
        s"CAST(CASE WHEN $pass THEN $hCol ELSE greatest(1, (2 * $hCol * $m + _mx) div (2 * _mx)) END AS INT)"))
      .drop("_mx")
  }

  /** Feature-extraction plumbing: a deterministic `dim`-component feature
    * vector from the payload bytes via md5 arithmetic — component j is
    * `(md5_long(payload ‖ '#j') mod 2001 − 1000) / 1000` ∈ [−1, 1]. A
    * production pipeline swaps the hash for a real encoder behind the
    * same (payload → array<double> embedding) contract; everything
    * downstream (ANN, SemDeDup, margin mining) composes unchanged. Pure
    * per-row codegen — the map-stage shape a 100 TB embed pass needs —
    * and replayable by any SQL engine (the q198 oracle). */
  def payloadEmbedding(df: DataFrame, dim: Int = 8,
      binCol: String = "payload"): DataFrame = {
    require(dim >= 1 && dim <= 64, "dim must be in [1, 64]")
    val comps = (0 until dim).map { j =>
      val h = conv(substring(md5(concat(col(binCol), lit(s"#$j".getBytes("UTF-8")))), 1, 15), 16, 10)
        .cast("long")
      ((h % 2001L - 1000L).cast("double") / 1000.0).as(s"_e$j")
    }
    df.withColumn("embedding", array(comps: _*))
  }

  /** Execute the planned resize on real image payloads: the caller's
    * (width, height) metadata drives [[resizePlan]], whose (out_w, out_h)
    * feed [[graft.functions.DecodeResizeExpr]] — a javax.imageio decode,
    * bilinear rescale, and PNG re-encode, all inside codegen. Payloads
    * that do not decode (synthetic bytes) yield a null `resized` column.
    * Map-stage only: zero shuffles, streaming-safe. */
  def decodeAndResize(df: DataFrame, maxDim: Int, binCol: String = "payload",
      noUpscale: Boolean = true): DataFrame = {
    val planned = resizePlan(withDecodedMeta(df, binCol), maxDim, noUpscale,
      wCol = "media_meta.width", hCol = "media_meta.height")
    planned.withColumn("resized",
      graft.functions.DecodeResizeExpr.column(col(binCol), col("out_w"), col("out_h")))
  }

  /** 63-bit perceptual average-hash of an image payload — REAL
    * javax.imageio decode + 8×8 thumbnail + above-mean bits
    * ([[graft.functions.AHashExpr]] / `MediaCodec.aHash63`). Null for
    * undecodable payloads. A pure per-row codegen map stage: the 100 TB
    * fingerprint pass reads each payload once and emits one long. */
  def aHash(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.AHashExpr.column(payload)

  /** Perceptual near-duplicate image pairs: decode + aHash every payload
    * (map stage), candidates share any 13-bit band of the hash (the
    * SimHash banding discipline — 5 disjoint bands over 63 bits, so a
    * Hamming-≤4 pair always agrees on ≥1 band by pigeonhole; r11 widened
    * from 4×16 bands, whose guarantee stopped at maxDist 3 and silently
    * missed ~10% of true distance-4 pairs at the default), verify by
    * exact Hamming distance (`bit_count(xor)`). Never all-pairs: the
    * candidate join is a band equi-join on slim (id, band) rows;
    * undecodable payloads drop out.
    *
    * Return contract: EXACT recall for `maxDist <= 4`; for larger
    * `maxDist` the banding is probabilistic (a pair flipping ≥5 bits can
    * straddle all 5 bands) — raise the band count if exactness beyond 4
    * is needed. Output: (d1, d2, dist) with d1 < d2. The image twin of
    * `Dedup.simhashNearDup`. */
  def imageNearDup(
      df: DataFrame,
      maxDist: Int = 4,
      idCol: String = "doc_id",
      binCol: String = "payload",
      maxBandSize: Int = Dedup.DefaultMaxBucket,
      maxClassSize: Int = Dedup.DefaultMaxBucket): DataFrame =
    fingerprintNearDup(df, aHash(col(binCol)), maxDist, idCol, maxBandSize, maxClassSize)

  /** Identical-fingerprint CLASSES of an image corpus — the scale
    * representation of exact perceptual duplicates (r12): one row per
    * distinct aHash with the member count and the min-id representative,
    * instead of the n(n−1)/2 enumerated pairs [[imageNearDup]] emits for
    * such a class. A web-scale corpus is full of constant payloads
    * (blank/black frames, tracking pixels) whose class is millions of
    * members; their pair list is quadratic BY CONSTRUCTION, but the
    * class row is O(1). One decode pass + one groupBy — never a join.
    * Output: (fp, n_members, rep_id). */
  def imageDupClusters(
      df: DataFrame,
      idCol: String = "doc_id",
      binCol: String = "payload"): DataFrame =
    fingerprintClusters(df, aHash(col(binCol)), idCol)

  /** Perceptual near-duplicate AUDIO pairs (r11): real RIFF/WAVE PCM16
    * decode + 63-bit window-energy fingerprint
    * ([[graft.functions.AudioFpExpr]] / `MediaCodec.audioFp63` — the
    * Haitsma–Kalker sign-of-energy-difference family), then the same
    * 5×13-bit banded Hamming join as [[imageNearDup]]: exact recall for
    * `maxDist <= 4` by pigeonhole, probabilistic beyond. Undecodable
    * payloads drop out. Output: (d1, d2, dist) with d1 < d2. */
  def audioNearDup(
      df: DataFrame,
      maxDist: Int = 4,
      idCol: String = "doc_id",
      binCol: String = "payload",
      maxBandSize: Int = Dedup.DefaultMaxBucket,
      maxClassSize: Int = Dedup.DefaultMaxBucket): DataFrame =
    fingerprintNearDup(df, audioFp(col(binCol)), maxDist, idCol, maxBandSize, maxClassSize)

  /** Identical-fingerprint classes of an audio corpus (silence, repeated
    * jingles) — the audio twin of [[imageDupClusters]].
    * Output: (fp, n_members, rep_id). */
  def audioDupClusters(
      df: DataFrame,
      idCol: String = "doc_id",
      binCol: String = "payload"): DataFrame =
    fingerprintClusters(df, audioFp(col(binCol)), idCol)

  /** 63-bit audio fingerprint of a WAV payload (real PCM decode; null
    * for undecodable bytes). Pure per-row codegen — the audio twin of
    * [[aHash]]. */
  def audioFp(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.AudioFpExpr.column(payload)

  /** One row per distinct fingerprint with member count and min-id
    * representative — the shared engine behind [[imageDupClusters]] /
    * [[audioDupClusters]] and [[fingerprintNearDup]]'s class table. */
  private def fingerprintClusters(
      df: DataFrame,
      fp: org.apache.spark.sql.Column,
      idCol: String): DataFrame =
    df.withColumn("_fp", fp)
      .filter(col("_fp").isNotNull)
      .groupBy(col("_fp").as("fp"))
      .agg(count(lit(1)).as("n_members"), min(col(idCol)).as("rep_id"))

  /** Shared banded-Hamming near-dup engine behind [[imageNearDup]] and
    * [[audioNearDup]]: fingerprint ONCE (the joins would otherwise
    * duplicate the whole upstream plan — including the media decode, the
    * expensive stage — into every side; the checkpointed table is
    * (id, long): n×16 B, the same eager-checkpoint precedent as
    * Dedup.connectedComponents' label table), then find near pairs on the
    * DISTINCT-fingerprint table (r12): candidates share any of 5 disjoint
    * 13-bit bands (pigeonhole: ≤4 flipped bits leave ≥1 band intact),
    * verify by exact `bit_count(xor)`, and expand verified fp pairs back
    * to id pairs with two hash joins. Identical-fp pairs (dist 0) never
    * enter the banding at all — they come from one fp-equality self-join.
    *
    * Why distinct-fp, not per-id banding (the pre-r12 form): a web-scale
    * corpus is full of constant payloads (silence WAVs, blank frames)
    * that collapse to ONE fingerprint; banding per id puts that whole
    * class into every band bucket and the band self-join enumerates
    * n²/2 candidates per bucket. On the distinct-fp table each class
    * occupies ONE slot per band regardless of its population, so
    * candidate generation scales with distinct content, not corpus size.
    *
    * The two remaining quadratic exposures are knob-guarded,
    * OUTPUT-VISIBLY (the q219 `maxBandSize` semantics):
    *  - `maxClassSize`: identical-fp classes larger than this are
    *    excluded from pair enumeration entirely (their pair LIST is
    *    quadratic by construction — represent them as one
    *    [[imageDupClusters]] row instead);
    *  - `maxBandSize`: band buckets holding more than this many DISTINCT
    *    fingerprints (near-identical content families) are dropped before
    *    the band self-join.
    * Defaults = `Dedup.DefaultMaxBucket` (r13); pass `Dedup.Uncapped`
    * for the bit-exact uncapped r11 output. */
  private[operators] def fingerprintNearDup(
      df: DataFrame,
      fp: org.apache.spark.sql.Column,
      maxDist: Int,
      idCol: String,
      maxBandSize: Int = Dedup.DefaultMaxBucket,
      maxClassSize: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(maxBandSize >= 2, "maxBandSize < 2 would drop every near candidate")
    require(maxClassSize >= 1, "maxClassSize must be positive")
    val hashed = df
      .withColumn("_fp", fp)
      .filter(col("_fp").isNotNull)
      .select(col(idCol), col("_fp"))
      .barrier()
    // distinct-fp class table: slim (fp, population) — checkpointed once,
    // it feeds the class gate, both banding sides, and the occupancy cap
    val allClasses = hashed.groupBy("_fp").agg(count(lit(1)).as("_n"))
    val classes =
      (if (maxClassSize == Int.MaxValue) allClasses
       else allClasses.filter(col("_n") <= maxClassSize))
        .barrier()
    val kept =
      if (maxClassSize == Int.MaxValue) hashed
      else hashed.join(classes.select("_fp"), Seq("_fp"), "left_semi")
    // dist = 0: identical fingerprints, one fp-equality self-join —
    // exact, no banding, output bounded per class by maxClassSize
    val same = kept.as("a")
      .join(kept.as("b"),
        col("a._fp") === col("b._fp") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        lit(0).cast("int").as("dist"))
    // dist in [1, maxDist]: band the DISTINCT fps
    val bandStructs = (0 until 5).map { b =>
      struct(lit(b).as("band_idx"),
        shiftrightunsigned(col("_fp"), b * 13).bitwiseAND(0x1FFFL).as("band"))
    }
    val allBands = classes
      .select(col("_fp"), explode(array(bandStructs: _*)).as("_b"))
      .select(col("_fp"), col("_b.band_idx").as("band_idx"), col("_b.band").as("band"))
    val bands =
      if (maxBandSize == Int.MaxValue) allBands
      else allBands.join(
        allBands.groupBy("band_idx", "band").agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") <= maxBandSize)
          .select("band_idx", "band"),
        Seq("band_idx", "band"), "left_semi")
    val fpPairs = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.band") === col("b.band") &&
          col("a._fp") < col("b._fp"))
      .select(col("a._fp").as("_f1"), col("b._fp").as("_f2"),
        bit_count(col("a._fp").bitwiseXOR(col("b._fp"))).cast("int").as("dist"))
      .distinct()
      .filter(col("dist") >= 1 && col("dist") <= maxDist)
    // expand verified fp pairs to id pairs (each id has exactly one fp,
    // so no id-level dedup is needed); d1 < d2 by least/greatest because
    // fp order and id order are unrelated
    val near = fpPairs
      .join(kept.as("x"), col("_f1") === col("x._fp"))
      .join(kept.as("y"), col("_f2") === col("y._fp"))
      .select(
        least(col(s"x.$idCol"), col(s"y.$idCol")).as("d1"),
        greatest(col(s"x.$idCol"), col(s"y.$idCol")).as("d2"),
        col("dist"))
    same.unionByName(near)
  }

  // --------------------------------------------- persisted fingerprint index

  /** The fingerprint index's layout: banded rows partitioned by band,
    * guarded by the fingerprint-family sidecar. */
  private val FpLayout = IndexMaintenance.IndexLayout(Seq("band_idx"), "_graft_fp_params", "parameters")
  private def fpParams(kind: String): String = s"kind=$kind bands=5 bits=13"

  /** Materialize a perceptual-fingerprint index ONCE as a parquet layout
    * partitioned by `band_idx` — the persisted-index lifecycle
    * (`Dedup.writeMinhashIndex` / `Similarity.writeIvfPqIndex`) on the
    * MULTIMODAL plane (r12): the reference corpus reduces to one slim
    * (ref_id, fp, band) row per 13-bit band — 5 rows of ~24 B per
    * payload, never media bytes — so an ingest batch near-dedups against
    * 100 TB of reference images with ONE decode pass over the batch and
    * zero re-decoding of the reference. A parameter sidecar makes
    * probe/append under a different fingerprint family fail loudly.
    * Manifest layouts ([[IndexMaintenance.enableManifest]]) rebuild as a
    * new generation with zero serving gap, like the other index planes.
    * Undecodable reference payloads (null fingerprint) are skipped. */
  def writeImageFpIndex(
      docs: DataFrame,
      dir: String,
      idCol: String = "doc_id",
      binCol: String = "payload"): Unit =
    IndexMaintenance.writeIndex(fpIndexRows(docs, aHash(col(binCol)), idCol, "ref_id"),
      dir, FpLayout, fpParams("ahash63"))

  /** The audio twin of [[writeImageFpIndex]] (Haitsma–Kalker window
    * fingerprints). */
  def writeAudioFpIndex(
      docs: DataFrame,
      dir: String,
      idCol: String = "doc_id",
      binCol: String = "payload"): Unit =
    IndexMaintenance.writeIndex(fpIndexRows(docs, audioFp(col(binCol)), idCol, "ref_id"),
      dir, FpLayout, fpParams("audiofp63"))

  /** Incremental maintenance: append new (already-deduplicated) payloads'
    * banded audio fingerprint rows — rows are independent, so append ≡
    * rebuild (MultimodalIndexSpec). Appends land in the live generation
    * on a manifest layout. */
  def appendAudioFpIndex(newDocs: DataFrame, dir: String,
      idCol: String = "doc_id", binCol: String = "payload"): Unit =
    IndexMaintenance.appendIndex(fpIndexRows(newDocs, audioFp(col(binCol)), idCol, "ref_id"),
      dir, FpLayout, fpParams("audiofp63"), "appendFpIndex")

  /** DELETE reference payloads — tombstoned immediately, honored by every
    * subsequent probe, expunged at the next [[compactFpIndex]]. */
  def deleteFromFpIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      ids: DataFrame, idCol: String = "doc_id"): Unit =
    IndexMaintenance.tombstone(spark, dir, ids, idCol)

  /** One-file-per-band compaction ([[IndexMaintenance.compact]] — rename
    * swap on flat layouts, atomic manifest repoint on generation
    * layouts); probe decisions unchanged, pending tombstones
    * materialized. */
  def compactFpIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      swap: Boolean = true): String =
    IndexMaintenance.compact(spark, dir, "band_idx", swap, tombstoneIdCol = Some("ref_id"))

  /** Near-dup dedup of an ingest batch AGAINST the persisted image
    * fingerprint index — the incremental twin of [[imageNearDup]] (which
    * is all-pairs within one corpus): the batch decodes ONCE, its
    * fingerprints band-join the stored rows on (band_idx, band), matches
    * verify by exact `bit_count(xor) <= maxDist` from the STORED
    * fingerprint (reference media is never re-read), and a batch doc is
    * kept iff no reference payload is within `maxDist`. Output: every
    * `incoming` row plus (keep, dup_of = smallest matching ref id,
    * n_ref_dups). Undecodable incoming payloads keep (no fingerprint —
    * route them to a quarantine gate, they are not evidence of
    * uniqueness). By default the batch side broadcasts (ingest batches
    * are small by contract) so the index side never shuffles; pass
    * `broadcastIncoming = false` for corpus-scale backfills — a
    * (band_idx, band) hash join, bit-identical decisions. */
  def dedupAgainstImageFpIndex(
      incoming: DataFrame,
      dir: String,
      maxDist: Int = 4,
      idCol: String = "doc_id",
      binCol: String = "payload",
      broadcastIncoming: Boolean = true): DataFrame =
    probeFpIndex(incoming, dir, aHash(col(binCol)), "ahash63",
      maxDist, idCol, broadcastIncoming)

  /** The audio twin of [[dedupAgainstImageFpIndex]]. */
  def dedupAgainstAudioFpIndex(
      incoming: DataFrame,
      dir: String,
      maxDist: Int = 4,
      idCol: String = "doc_id",
      binCol: String = "payload",
      broadcastIncoming: Boolean = true): DataFrame =
    probeFpIndex(incoming, dir, audioFp(col(binCol)), "audiofp63",
      maxDist, idCol, broadcastIncoming)

  /** One slim banded row set per payload: (ref_id, fp, band_idx, band). */
  private def fpIndexRows(
      df: DataFrame, fp: org.apache.spark.sql.Column,
      idCol: String, outId: String): DataFrame = {
    val bandStructs = (0 until 5).map { b =>
      struct(lit(b).as("band_idx"),
        shiftrightunsigned(col("_fp"), b * 13).bitwiseAND(0x1FFFL).as("band"))
    }
    df.withColumn("_fp", fp)
      .filter(col("_fp").isNotNull)
      .select(col(idCol).as(outId), col("_fp").as("fp"),
        explode(array(bandStructs: _*)).as("_b"))
      .select(col(outId), col("fp"),
        col("_b.band_idx").as("band_idx"), col("_b.band").as("band"))
  }

  private def probeFpIndex(
      incoming: DataFrame, dir: String, fp: org.apache.spark.sql.Column,
      kind: String, maxDist: Int, idCol: String, broadcastIncoming: Boolean): DataFrame = {
    val idx = IndexMaintenance.openIndex(incoming.sparkSession, dir, FpLayout,
      fpParams(kind), "ref_id", "dedupAgainstFpIndex")
    val inRows0 = fpIndexRows(incoming, fp, idCol, "new_id")
      .withColumnRenamed("fp", "nfp")
    val inRows = if (broadcastIncoming) broadcast(inRows0) else inRows0
    val matched = inRows.join(idx, Seq("band_idx", "band"))
      .filter(bit_count(col("nfp").bitwiseXOR(col("fp"))) <= maxDist)
      .select(col("new_id"), col("ref_id"))
      .distinct()
      .groupBy("new_id")
      .agg(min("ref_id").as("dup_of"), countDistinct("ref_id").as("n_ref_dups"))
    incoming
      .join(matched, incoming(idCol) === matched("new_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
      .withColumn("n_ref_dups", coalesce(col("n_ref_dups"), lit(0L)))
      .drop("new_id")
  }

  /** Frame sampling plumbing: explode a (video) payload into every k-th
    * fixed-size byte window ("frame"). A production codec swaps the
    * substring for a real frame decode behind the same schema. Pure
    * codegen arithmetic (sequence explode + substring — no UDF);
    * `frame_idx` is the frame's index within its own payload,
    * deterministic under any partitioning. */
  def sampleFrames(df: DataFrame, everyK: Int, frameBytes: Int = 256,
      binCol: String = "payload"): DataFrame = {
    require(everyK >= 1 && frameBytes >= 1, "everyK and frameBytes must be positive")
    df.withColumn("_nf", expr(s"(length($binCol) + ${frameBytes - 1}) div $frameBytes"))
      .withColumn("_pos", explode(expr(
        s"CASE WHEN _nf > 0 THEN sequence(CAST(0 AS BIGINT), (_nf - 1) div $everyK) ELSE CAST(array() AS array<bigint>) END")))
      .withColumn("frame_idx", col("_pos") * everyK)
      .withColumn("frame",
        expr(s"substring($binCol, CAST(frame_idx * $frameBytes + 1 AS INT), $frameBytes)"))
      .drop("_nf", "_pos")
  }
}
