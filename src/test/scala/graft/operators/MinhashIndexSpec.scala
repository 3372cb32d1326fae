package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted MinHash index lifecycle (r11): append must be
  * indistinguishable from rebuild (rows are independent), the parameter
  * sidecar must reject probes/appends under a different hash family,
  * and the index decision must agree with an in-memory recomputation of
  * the same estimator. */
class MinhashIndexSpec extends SparkSpec {

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def key(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getBoolean(1), Option(r.get(2)).map(_.toString), r.getLong(3))

  private def probe(incoming: org.apache.spark.sql.DataFrame, dir: String) =
    Dedup.dedupAgainstMinhashIndex(incoming, dir)
      .select(col("doc_id"), col("keep"), col("dup_of"), col("n_ref_dups"))
      .collect().map(key).toSet

  test("appendMinhashIndex: post-append probe == rebuilt-index probe") {
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val refA = ref.filter(col("doc_id") % 4 === 0)
    val refB = ref.filter(col("doc_id") % 4 === 2)

    val incDir = java.nio.file.Files.createTempDirectory("mh_inc").toString
    Dedup.writeMinhashIndex(refA, incDir)
    Dedup.appendMinhashIndex(refB, incDir)
    val fullDir = java.nio.file.Files.createTempDirectory("mh_full").toString
    Dedup.writeMinhashIndex(ref, fullDir)

    val (inc, full) = (probe(incoming, incDir), probe(incoming, fullDir))
    assert(inc.nonEmpty && inc === full)
    assert(inc.exists(!_._2), "some near-dup must actually be caught")
    assert(inc.exists(_._2), "and some doc must survive")
  }

  test("broadcastIncoming=false (corpus-scale probe) decides identically") {
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("mh_shuffle").toString
    Dedup.writeMinhashIndex(ref, dir)
    val shuffled = Dedup.dedupAgainstMinhashIndex(
        incoming, dir, broadcastIncoming = false)
      .select(col("doc_id"), col("keep"), col("dup_of"), col("n_ref_dups"))
      .collect().map(key).toSet
    assert(shuffled === probe(incoming, dir),
      "shuffle-join probe must be bit-identical to the broadcast probe")
  }

  test("compactMinhashIndex: probes bit-identical, one file per band, sidecar kept") {
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("mh_compact").toString
    // an append-heavy cadence: base + 3 appends = up to 4 files per band
    Dedup.writeMinhashIndex(ref.filter(col("doc_id") % 8 === 0), dir)
    for (r <- Seq(2L, 4L, 6L))
      Dedup.appendMinhashIndex(ref.filter(col("doc_id") % 8 === r), dir)
    val before = probe(incoming, dir)
    def bandFiles() = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("band_idx="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(bandFiles().values.exists(_ > 1), "appends must have left small files")

    assert(Dedup.compactMinhashIndex(spark, dir) == dir)
    assert(bandFiles().values.forall(_ == 1), "one file per band after compaction")
    assert(probe(incoming, dir) === before, "compaction must not change any probe")
    // the parameter sidecar survived the swap: a mismatched probe still throws
    intercept[IllegalArgumentException] {
      Dedup.dedupAgainstMinhashIndex(incoming, dir, rowsPerBand = 4)
    }
  }

  test("deleteFromMinhashIndex: tombstone honored at probe, expunged at compaction") {
    val s = spark
    import s.implicits._
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("mh_del").toString
    Dedup.writeMinhashIndex(ref, dir)
    // pick a reference doc that actually catches some incoming dup
    val caught = probe(incoming, dir).filter(!_._2)
    assert(caught.nonEmpty)
    val victim = caught.flatMap(_._3).map(_.toLong).min
    Dedup.deleteFromMinhashIndex(spark, dir, Seq(victim).toDF("doc_id"))
    // probe now behaves as if the victim never existed: identical to an
    // index built WITHOUT it
    val cleanDir = java.nio.file.Files.createTempDirectory("mh_del_clean").toString
    Dedup.writeMinhashIndex(ref.filter(col("doc_id") =!= victim), cleanDir)
    val afterDelete = probe(incoming, dir)
    assert(afterDelete === probe(incoming, cleanDir))
    assert(afterDelete.forall(r => !r._3.contains(victim.toString)),
      "no decision may still cite the deleted reference")
    // compaction materializes the delete: rows physically gone, the
    // tombstone dir cleared, probe decisions unchanged
    Dedup.compactMinhashIndex(spark, dir)
    assert(!new java.io.File(dir, "_graft_tombstones").exists())
    assert(spark.read.parquet(dir).filter(col("ref_id") === victim).count() === 0L)
    assert(probe(incoming, dir) === afterDelete)
  }

  test("tombstones are permanent until compaction: append does not resurrect a deleted id") {
    val s = spark
    import s.implicits._
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("mh_resurrect").toString
    Dedup.writeMinhashIndex(ref, dir)
    val victim = probe(incoming, dir).filter(!_._2).flatMap(_._3).map(_.toLong).min
    Dedup.deleteFromMinhashIndex(spark, dir, Seq(victim).toDF("doc_id"))
    // re-appending the deleted id's rows changes nothing: delete means
    // "this id's content is expunged" until a compaction re-admits it
    val afterDelete = probe(incoming, dir)
    Dedup.appendMinhashIndex(ref.filter(col("doc_id") === victim), dir)
    assert(probe(incoming, dir) === afterDelete,
      "append under a tombstoned id must not resurrect it")
    // compaction materializes the delete AND clears the set; a fresh
    // append afterwards re-admits the id
    Dedup.compactMinhashIndex(spark, dir)
    Dedup.appendMinhashIndex(ref.filter(col("doc_id") === victim), dir)
    assert(probe(incoming, dir) !== afterDelete, "post-compaction append re-admits")
  }

  test("deleteFromMinhashIndex rejects non-integral ids (silent null-cast guard)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mh_del_ids").toString
    Dedup.writeMinhashIndex(docs.limit(20), dir)
    val e = intercept[IllegalArgumentException] {
      Dedup.deleteFromMinhashIndex(spark, dir, Seq("doc-7").toDF("doc_id"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("parameter sidecar rejects a different hash family") {
    val dir = java.nio.file.Files.createTempDirectory("mh_params").toString
    Dedup.writeMinhashIndex(docs.limit(50), dir, numHashes = 8, rowsPerBand = 2)
    // the on-disk sidecar format: indexes written by earlier builds must still open
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_minhash_params")).toSeq ===
      "numHashes=8 rowsPerBand=2 shingleN=2".getBytes("UTF-8").toSeq)
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstMinhashIndex(docs.limit(10), dir, numHashes = 8, rowsPerBand = 4)
    }
    assert(e.getMessage.contains("different MinHash parameters"))
    intercept[IllegalArgumentException] {
      Dedup.appendMinhashIndex(docs.limit(10), dir, shingleN = 1)
    }
  }
}
