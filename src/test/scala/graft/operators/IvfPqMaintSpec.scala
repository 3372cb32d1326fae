package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Index maintenance for the persisted IVF-PQ layout (r11):
  * `appendIvfPqIndex` must be semantically invisible — serving from an
  * index built on a base set and appended with the rest must equal
  * serving from a fresh build over the union, bit-for-bit. And the
  * streaming `annServe` must pick up an index refresh mid-stream: each
  * micro-batch re-reads the layout, so rows appended between batches
  * are retrievable in the next batch with zero restart. */
class IvfPqMaintSpec extends SparkSpec {

  private def key(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getDouble(4))

  test("appendIvfPqIndex: post-append serving == rebuilt-index serving (bit-exact)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = emb.select(col("vec_id").as("cid"), col("embedding"))
    val books = Similarity.pqCodebooks(c, m = 8, ksub = 16)
    val ctr = graft.queries.TrainedCentroids.sf001k8
    val base = c.filter(col("cid") % 3 =!= 0)
    val late = c.filter(col("cid") % 3 === 0)
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))

    val incDir = java.nio.file.Files.createTempDirectory("ivfpq_inc").toString
    Similarity.writeIvfPqIndex(base, ctr, books, incDir)
    Similarity.appendIvfPqIndex(late, ctr, books, incDir)

    val fullDir = java.nio.file.Files.createTempDirectory("ivfpq_full").toString
    Similarity.writeIvfPqIndex(c, ctr, books, fullDir)

    val inc = Similarity.ivfPqTopKIndexed(q, incDir, c, ctr, books,
      k = 10, nProbe = 2, rerankFactor = 3).collect().map(key).toSet
    val full = Similarity.ivfPqTopKIndexed(q, fullDir, c, ctr, books,
      k = 10, nProbe = 2, rerankFactor = 3).collect().map(key).toSet
    assert(inc.nonEmpty)
    assert(inc === full, "append must be indistinguishable from rebuild")
    // the appended rows actually participate (some late cid in the results)
    assert(inc.exists(_._2 % 3 == 0), "appended rows must be retrievable")
  }

  test("compactIvfPqIndex: serving bit-identical, one file per cell, model sidecar kept") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = emb.select(col("vec_id").as("cid"), col("embedding"))
    val books = Similarity.pqCodebooks(c, m = 8, ksub = 16)
    val ctr = graft.queries.TrainedCentroids.sf001k8
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_compact").toString
    Similarity.writeIvfPqIndex(c.filter(col("cid") % 3 === 1), ctr, books, dir)
    for (r <- Seq(2L, 0L))
      Similarity.appendIvfPqIndex(c.filter(col("cid") % 3 === r), ctr, books, dir)
    def serve() = Similarity.ivfPqTopKIndexed(q, dir, c, ctr, books,
      k = 10, nProbe = 2, rerankFactor = 3).collect().map(key).toSet
    val before = serve()
    def cellFiles() = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("centroid_id="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(cellFiles().values.exists(_ > 1), "appends must have left small files")

    assert(Similarity.compactIvfPqIndex(spark, dir) == dir)
    assert(cellFiles().values.forall(_ == 1), "one file per cell after compaction")
    assert(serve() === before, "compaction must not change any served result")
    // model sidecar survived: a retrained model still fails loudly
    val books2 = books.map(_.map(_.clone)); books2(0)(0)(0) += 0.25
    intercept[IllegalArgumentException] {
      Similarity.appendIvfPqIndex(c.limit(1), ctr, books2, dir)
    }
  }

  test("deleteFromIvfPqIndex: served results exclude the victim; compaction expunges") {
    val s = spark
    import s.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = emb.select(col("vec_id").as("cid"), col("embedding"))
    val books = Similarity.pqCodebooks(c, m = 8, ksub = 16)
    val ctr = graft.queries.TrainedCentroids.sf001k8
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_del").toString
    Similarity.writeIvfPqIndex(c, ctr, books, dir)
    def serve() = Similarity.ivfPqTopKIndexed(q, dir, c, ctr, books,
      k = 10, nProbe = 2, rerankFactor = 3).collect().map(key).toSet
    val before = serve()
    val victim = before.map(_._2).min
    Similarity.deleteFromIvfPqIndex(spark, dir, Seq(victim).toDF("cid"))
    // serving behaves as a fresh build without the victim, bit-for-bit
    val cleanDir = java.nio.file.Files.createTempDirectory("ivfpq_del_clean").toString
    Similarity.writeIvfPqIndex(c.filter(col("cid") =!= victim), ctr, books, cleanDir)
    val after = serve()
    assert(after.forall(_._2 != victim))
    assert(after != before, "the delete must actually change served results")
    assert(after === Similarity.ivfPqTopKIndexed(q, cleanDir, c, ctr, books,
      k = 10, nProbe = 2, rerankFactor = 3).collect().map(key).toSet)
    // compaction expunges physically and clears the tombstone set
    Similarity.compactIvfPqIndex(spark, dir)
    assert(!new java.io.File(dir, "_graft_tombstones").exists())
    assert(spark.read.parquet(dir).filter(col("cid") === victim).count() === 0L)
    assert(serve() === after)
  }

  test("model-mismatch guard: append/serve under a different model fails loudly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = emb.select(col("vec_id").as("cid"), col("embedding"))
    val books = Similarity.pqCodebooks(c, m = 8, ksub = 16)
    val ctr = graft.queries.TrainedCentroids.sf001k8
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_sig").toString
    Similarity.writeIvfPqIndex(c, ctr, books, dir)
    // the on-disk sidecar format (md5 hex of the model's doubles):
    // indexes written by earlier builds must still open
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_model")).toSeq ===
      "ed29f866ff051bee5757730165c7bb31".getBytes("UTF-8").toSeq)
    // a "retrained" model: one codebook entry nudged
    val books2 = books.map(_.map(_.clone)); books2(0)(0)(0) += 0.25
    val q = emb.limit(1).select(col("vec_id").as("qid"), col("embedding"))
    val e1 = intercept[IllegalArgumentException] {
      Similarity.appendIvfPqIndex(c.limit(1), ctr, books2, dir)
    }
    assert(e1.getMessage.contains("different model"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexed(q, dir, c, ctr, books2, k = 1)
    }
    assert(e2.getMessage.contains("different model"))
    // the matching model still serves
    assert(Similarity.ivfPqTopKIndexed(q, dir, c, ctr, books, k = 1).count() === 1)
  }

  test("annServe honors a tombstone delete on the next micro-batch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = emb.select(col("vec_id").as("cid"), col("embedding"))
    val books = Similarity.pqCodebooks(c, m = 8, ksub = 16)
    val ctr = graft.queries.TrainedCentroids.sf001k8
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_serve_del").toString
    Similarity.writeIvfPqIndex(c, ctr, books, dir)

    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("e"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

    var perBatch = List.empty[Set[(Long, Long, Int, Double, Double)]]
    val mem = MemoryStream[(Long, Array[Double])]
    val query = graft.streaming.StreamingOps.annServe(
      mem.toDF.toDF("qid", "embedding"), dir, c, ctr, books,
      k = 10, nProbe = 2, rerankFactor = 3) { out =>
      perBatch.synchronized { perBatch :+= out.collect().map(key).toSet }
    }
    try {
      mem.addData(queries.toSeq: _*)
      query.processAllAvailable()
      val victim = perBatch.head.map(_._2).min
      Similarity.deleteFromIvfPqIndex(spark, dir, Seq(victim).toDF("cid"))
      mem.addData(queries.toSeq: _*)
      query.processAllAvailable()
      assert(perBatch.length === 2)
      assert(perBatch(0).exists(_._2 == victim))
      assert(perBatch(1).forall(_._2 != victim),
        "no post-delete serving result may contain the tombstoned vector")
    } finally query.stop()
  }

  test("annServe serves across an index refresh: appended rows retrievable next batch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = s.sqlContext

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = emb.select(col("vec_id").as("cid"), col("embedding"))
    val books = Similarity.pqCodebooks(c, m = 8, ksub = 16)
    val ctr = graft.queries.TrainedCentroids.sf001k8
    val base = c.filter(col("cid") % 3 =!= 0)
    val late = c.filter(col("cid") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_refresh").toString
    Similarity.writeIvfPqIndex(base, ctr, books, dir)

    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("e"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    assert(queries.length >= 2)

    var perBatch = List.empty[Set[(Long, Long, Int, Double, Double)]]
    val mem = MemoryStream[(Long, Array[Double])]
    val query = graft.streaming.StreamingOps.annServe(
      mem.toDF.toDF("qid", "embedding"), dir, c, ctr, books,
      k = 10, nProbe = 2, rerankFactor = 3) { out =>
      perBatch.synchronized { perBatch :+= out.collect().map(key).toSet }
    }
    try {
      mem.addData(queries.toSeq: _*)
      query.processAllAvailable()
      // refresh the index UNDER the live stream
      Similarity.appendIvfPqIndex(late, ctr, books, dir)
      mem.addData(queries.toSeq: _*)
      query.processAllAvailable()
    } finally query.stop()

    assert(perBatch.length === 2)
    val expectedAfter = Similarity.ivfPqTopKIndexed(
      queries.toSeq.toDF("qid", "embedding"), dir, c, ctr, books,
      k = 10, nProbe = 2, rerankFactor = 3).collect().map(key).toSet
    assert(perBatch(1) === expectedAfter,
      "post-refresh batch must serve the appended index bit-for-bit")
    assert(perBatch(0) !== perBatch(1),
      "the refresh must actually change results (appended near-neighbours rank)")
    assert(perBatch(0).forall(t => t._2 % 3 != 0),
      "pre-refresh batch cannot see unappended rows")
  }
}
