package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted fingerprint index (r12 — the persisted-index lifecycle
  * on the multimodal plane): decisions replayed INDEPENDENTLY from raw
  * audio samples (the AudioCodecSpec discipline — the oracle-side
  * fingerprint never touches the engine's decoder), and the full
  * maintenance algebra pinned: append ≡ rebuild, delete ≡
  * fresh-build-without-the-victim, compact ≡ identity, wrong-family
  * probe fails loudly, streaming serve == batch probe. */
class MultimodalIndexSpec extends SparkSpec {

  private def wav(samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(1.toShort).putInt(8000)
      .putInt(8000 * 2).putShort(2.toShort).putShort(16.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }
  private def samples(seed: Int): Array[Short] =
    Array.tabulate(256)(i => (((seed * 31 + i * 17) % 2048) - 1024).toShort)
  private def fp63(mono: Array[Long]): Long = {
    val n = mono.length
    val e = Array.tabulate(64) { w =>
      val (f0, f1) = ((w.toLong * n / 64).toInt, ((w + 1).toLong * n / 64).toInt)
      (f0 until f1).map(i => mono(i) * mono(i)).sum
    }
    (0 until 63).foldLeft(0L)((h, i) => if (e(i) > e(i + 1)) h | (1L << i) else h)
  }

  private def decisions(df: org.apache.spark.sql.DataFrame, dir: String, maxDist: Int = 4) =
    Multimodal.dedupAgainstAudioFpIndex(df, dir, maxDist = maxDist)
      .select(col("doc_id"), col("keep"), col("dup_of"), col("n_ref_dups"))
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.get(2)).map(_.toString.toLong), r.getLong(3))).toSet

  test("audio fp index probe == independent replay from raw samples; undecodable incoming keeps") {
    val s = spark
    import s.implicits._
    // refs 1..5 distinct signals; probes: 10 = near-dup of ref 1 (one
    // perturbed window), 11 = exact copy of ref 3, 12 = unrelated,
    // 13 = undecodable bytes
    val refSig = (1L to 5L).map(i => i -> samples(i.toInt * 7)).toMap
    val nearOf1 = refSig(1L).clone(); nearOf1(0) = (nearOf1(0) + 9).toShort
    val probes = Map(10L -> nearOf1, 11L -> refSig(3L), 12L -> samples(999))
    val refs = refSig.toSeq.map { case (id, x) => (id, wav(x)) }.toDF("doc_id", "payload")
    val incoming = (probes.toSeq.map { case (id, x) => (id, wav(x)) } :+
      ((13L, Array.fill[Byte](64)(1)))).toDF("doc_id", "payload")

    val dir = java.nio.file.Files.createTempDirectory("fp_idx").toString
    Multimodal.writeAudioFpIndex(refs, dir)
    val got = decisions(incoming, dir)

    // independent replay: fingerprints from raw samples, 5x13 banding,
    // exact Hamming <= 4, min-ref attribution
    val refFp = refSig.map { case (id, x) => id -> fp63(x.map(_.toLong)) }
    val probeFp = probes.map { case (id, x) => id -> fp63(x.map(_.toLong)) }
    def bands(f: Long) = (0 until 5).map(k => (k, (f >>> (13 * k)) & 0x1FFF)).toSet
    val expected = probeFp.map { case (pid, pf) =>
      val hits = refFp.filter { case (_, rf) =>
        bands(pf).intersect(bands(rf)).nonEmpty &&
          java.lang.Long.bitCount(pf ^ rf) <= 4
      }.keys
      if (hits.isEmpty) (pid, true, None: Option[Long], 0L)
      else (pid, false, Some(hits.min), hits.size.toLong)
    }.toSet + ((13L, true, None, 0L)) // undecodable keeps
    assert(got === expected)
    assert(got.exists(p => p._1 == 11L && !p._2 && p._3.contains(3L)),
      "the exact copy must be flagged against its reference")
    assert(got.exists(p => p._1 == 10L && !p._2), "the near-dup must be flagged")

    // the on-disk sidecar format: indexes written by earlier builds must still open
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_fp_params")).toSeq ===
      "kind=audiofp63 bands=5 bits=13".getBytes("UTF-8").toSeq)
    // wrong fingerprint family fails loudly
    val ex = intercept[IllegalArgumentException] {
      Multimodal.dedupAgainstImageFpIndex(incoming, dir).collect()
    }
    assert(ex.getMessage.contains("different parameters"))
  }

  test("maintenance algebra: append == rebuild; delete == fresh build without victim; compact identity") {
    val s = spark
    import s.implicits._
    val all = (1L to 12L).map(i => (i, wav(samples(i.toInt * 7)))) :+
      ((13L, wav(samples(7)))) // 13 duplicates ref 1's signal exactly
    val (partA, partB) = all.partition(_._1 <= 6L)
    val incoming = Seq((100L, wav(samples(7))), (101L, wav(samples(63)))) // dup of 1/13 + dup of 9
      .toDF("doc_id", "payload")

    val inc = java.nio.file.Files.createTempDirectory("fp_inc").toString
    Multimodal.writeAudioFpIndex(partA.toDF("doc_id", "payload"), inc)
    Multimodal.appendAudioFpIndex(partB.toDF("doc_id", "payload"), inc)
    val full = java.nio.file.Files.createTempDirectory("fp_full").toString
    Multimodal.writeAudioFpIndex(all.toDF("doc_id", "payload"), full)
    assert(decisions(incoming, inc) === decisions(incoming, full), "append must equal rebuild")

    // delete ref 1: probe 100 must re-attribute to 13 (same signal)
    Multimodal.deleteFromFpIndex(spark, inc, Seq(1L).toDF("doc_id"))
    val noVictim = java.nio.file.Files.createTempDirectory("fp_nv").toString
    Multimodal.writeAudioFpIndex(
      all.filter(_._1 != 1L).toDF("doc_id", "payload"), noVictim)
    val afterDel = decisions(incoming, inc)
    assert(afterDel === decisions(incoming, noVictim),
      "delete must equal a fresh build without the victim")
    assert(afterDel.exists(p => p._1 == 100L && p._3.contains(13L)),
      "attribution must move to the surviving duplicate")

    // compaction materializes the tombstone and changes no decision
    Multimodal.compactFpIndex(spark, inc)
    assert(decisions(incoming, inc) === afterDel, "compaction must be probe-identity")
    assert(!new java.io.File(inc).listFiles().map(_.getName).contains("_graft_tombstones"))
  }

  test("fp index on a manifest layout: enable is probe-identity, rebuild swaps with zero gap") {
    val s = spark
    import s.implicits._
    val refsA = (1L to 4L).map(i => (i, wav(samples(i.toInt * 7))))
    val refsB = (1L to 8L).map(i => (i, wav(samples(i.toInt * 7))))
    val incoming = Seq((100L, wav(samples(7 * 6)))).toDF("doc_id", "payload") // dup of ref 6
    val dir = java.nio.file.Files.createTempDirectory("fp_manifest").toString
    Multimodal.writeAudioFpIndex(refsA.toDF("doc_id", "payload"), dir)
    val before = decisions(incoming, dir)
    IndexMaintenance.enableManifest(spark, dir)
    assert(decisions(incoming, dir) === before, "enableManifest must be probe-identity")
    assert(before.forall(_._2), "ref 6 not indexed yet — incoming keeps")
    // rebuild with the full reference set lands as generation 1
    Multimodal.writeAudioFpIndex(refsB.toDF("doc_id", "payload"), dir)
    assert(new java.io.File(IndexMaintenance.resolveLive(spark, dir)).getName
      === "_graft_gen_00001")
    val after = decisions(incoming, dir)
    assert(after.exists(p => p._1 == 100L && !p._2 && p._3.contains(6L)),
      "the rebuilt reference set must flag the incoming dup")
  }

  test("audioDedupServe: streamed micro-batches == batch probe; refresh picked up next batch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext
    val refs = (1L to 6L).map(i => (i, wav(samples(i.toInt * 7)))).toDF("doc_id", "payload")
    val dir = java.nio.file.Files.createTempDirectory("fp_serve").toString
    Multimodal.writeAudioFpIndex(refs, dir)
    val incoming = Seq((50L, wav(samples(7))), (51L, wav(samples(5000))))

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getBoolean(1), Option(r.get(2)).map(_.toString), r.getLong(3))
    val batchExpected = Multimodal.dedupAgainstAudioFpIndex(
        incoming.toDF("doc_id", "payload"), dir)
      .select(col("doc_id"), col("keep"), col("dup_of"), col("n_ref_dups"))
      .collect().map(key).toSet

    var perBatch = List.empty[Set[(Long, Boolean, Option[String], Long)]]
    val mem = MemoryStream[(Long, Array[Byte])]
    val query = graft.streaming.StreamingOps.audioDedupServe(
      mem.toDF.toDF("doc_id", "payload"), dir) { out =>
      perBatch.synchronized {
        perBatch :+= out.select(col("doc_id"), col("keep"), col("dup_of"), col("n_ref_dups"))
          .collect().map(key).toSet
      }
    }
    try {
      mem.addData(incoming: _*)
      query.processAllAvailable()
      // refresh: append a ref matching 51's signal — next batch flags it
      Multimodal.appendAudioFpIndex(
        Seq((7L, wav(samples(5000)))).toDF("doc_id", "payload"), dir)
      mem.addData(incoming: _*)
      query.processAllAvailable()
      assert(query.exception.isEmpty)
      assert(perBatch.length === 2)
      assert(perBatch(0) === batchExpected, "batch 1 must equal the batch probe")
      assert(perBatch(1) !== perBatch(0), "the appended reference must flip 51's decision")
      assert(perBatch(1).exists(p => p._1 == 51L && !p._2 && p._3.contains("7")),
        "51 must now be attributed to the appended reference")
    } finally query.stop()
  }

  test("every guarded index entry point costs O(1) control reads: 1 flat, 2 on a manifest layout") {
    val s = spark
    import s.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = emb.select(col("vec_id").as("cid"), col("embedding"))
    val books = Similarity.pqCodebooks(c, m = 8, ksub = 16)
    val ctr = graft.queries.TrainedCentroids.sf001k8
    val q = emb.limit(1).select(col("vec_id").as("qid"), col("embedding"))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val refs = (1L to 3L).map(i => (i, wav(samples(i.toInt * 7)))).toDF("doc_id", "payload")
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (ivf, mh, fp) = (tmp("reads_ivf"), tmp("reads_mh"), tmp("reads_fp"))
    Similarity.writeIvfPqIndex(c.filter(col("cid") % 4 === 0), ctr, books, ivf)
    Dedup.writeMinhashIndex(docs.limit(20), mh)
    Multimodal.writeAudioFpIndex(refs, fp)
    val guarded: Seq[(String, () => Any)] = Seq(
      "appendIvfPqIndex" -> (() => Similarity.appendIvfPqIndex(c.limit(1), ctr, books, ivf)),
      "ivfPqTopKIndexed" -> (() => Similarity.ivfPqTopKIndexed(q, ivf, c, ctr, books, k = 1)),
      "ivfRangeSearchIndexed" ->
        (() => Similarity.ivfRangeSearchIndexed(q, ivf, c, ctr, books, minSim = 0.9)),
      "appendMinhashIndex" -> (() => Dedup.appendMinhashIndex(docs.limit(2), mh)),
      "dedupAgainstMinhashIndex" -> (() => Dedup.dedupAgainstMinhashIndex(docs.limit(2), mh)),
      "appendAudioFpIndex" -> (() => Multimodal.appendAudioFpIndex(refs.limit(1), fp)),
      "dedupAgainstAudioFpIndex" -> (() => Multimodal.dedupAgainstAudioFpIndex(refs, fp)))
    // flat: the sidecar read; manifest: the manifest resolve + the sidecar read
    for ((layout, want) <- Seq("flat" -> 1L, "manifest" -> 2L)) {
      if (layout == "manifest") Seq(ivf, mh, fp).foreach(IndexMaintenance.enableManifest(spark, _))
      for ((api, call) <- guarded) {
        val before = IndexMaintenance.controlReads.get()
        call()
        val reads = IndexMaintenance.controlReads.get() - before
        assert(reads === want, s"$api on a $layout layout did $reads control-file reads")
      }
    }
  }
}
