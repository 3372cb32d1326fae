package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints.BarrierSyntax

/** 50× measurement of the INCREMENTAL cluster-maintenance plane (r14,
  * verdict item 5): holds the ingest batch size FIXED while the old
  * corpus scales, and times the merge alone — the one-time corpus
  * clustering and the batch's pair generation are setup, not the
  * steady-state daily cost.
  *
  * Reported per corpus scale, min over SPARK_GRAFT_BENCH_ITERS (default
  * 2) iterations:
  *  - `update`: `Dedup.updateClusterLabels` (frontier-bounded
  *    propagation) + count — the pure compute cost of folding the
  *    batch's pairs into the labels;
  *  - `merge`: `Dedup.mergeClusterLabels` — update + the full label
  *    generation write + manifest swap (the persisted-plane cost; the
  *    generation write is O(corpus) slim rows by design, so this row is
  *    expected near-linear while `update` must stay batch-bounded).
  *
  * Usage mirrors ScaleBench: `runMain graft.tools.MaintScale [baseDir]`
  * with the 50× docs blow-up prebuilt by ScaleBench at
  * `target/tmp/<base>x<factor>` (SPARK_GRAFT_SCALE_TABLES=docs). */
object MaintScale {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "50").toInt
    val big = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"target/tmp/${base.split('/').last}x$factor")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt.max(1)
    val batchSize = sys.env.getOrElse("SPARK_GRAFT_MAINT_BATCH", "200").toInt
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    require(new java.io.File(s"$big/documents.parquet").exists(),
      s"no ${factor}x docs blow-up at $big — run ScaleBench with SPARK_GRAFT_SCALE_TABLES=docs first")

    val shuffleBytes = ScaleBench.shuffleMeter(spark)

    // every label dir this tool mints is scratch: delete it as soon as
    // its timed reads complete (r15 advice — at factor 50 each holds a
    // corpus-sized base generation, and repeated runs otherwise
    // accumulate full-corpus parquet copies in /tmp)
    def deleteRec(dir: String): Unit = {
      def walk(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(walk)
        f.delete(); ()
      }
      walk(new java.io.File(dir))
    }

    def timed(body: => Unit): (Double, Long) = {
      Thread.sleep(300)
      val sw0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      body
      ((System.nanoTime() - t0) / 1e9, shuffleBytes.get() - sw0)
    }

    /** One corpus scale: fixed-size batch split off, old labels built
      * and persisted (setup), then update/merge timed. */
    def measure(dir: String, tag: String): Map[String, (Double, Long)] = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      // deterministic fixed-size batch: the LOWEST batchSize doc ids
      // (never scales with the corpus)
      val batchIds = docs.select(col("doc_id")).orderBy("doc_id").limit(batchSize)
        .collect().map(_.getLong(0)).toSet
      val isBatch = col("doc_id").isInCollection(batchIds)
      System.err.println(s"[maint] $tag: building old labels (setup, untimed)")
      // ONE pair pass over the full corpus, split old/ingest (the q227
      // shape) — setup for the measurement, shared by every iteration
      val pairs = graft.operators.Dedup.ngramJaccard(docs, Seq("lang", "n_chars"))
        .select("d1", "d2").barrier()
      val inB = (c: org.apache.spark.sql.Column) => c.isInCollection(batchIds)
      val oldPairs = pairs.filter(!inB(col("d1")) && !inB(col("d2")))
      val newPairs = pairs.filter(inB(col("d1")) || inB(col("d2")))
        .barrier()
      val oldLabels = graft.operators.Dedup.nearDupClusters(
          docs.filter(!isBatch).select("doc_id"), oldPairs)
        .select(col("doc_id").as("id"), col("cluster_id"))
        .barrier()
      val nNew = newPairs.count()
      System.err.println(s"[maint] $tag: ${oldLabels.count()} old labels, $nNew ingest pairs")

      val runs = (1 to iters).map { i =>
        spark.catalog.clearCache()
        val upd = timed {
          graft.operators.Dedup.updateClusterLabels(oldLabels, newPairs).count(); ()
        }
        // persisted plane: fresh dir per iteration so every merge does
        // identical work (build gen0, merge writes gen1)
        val labDir = java.nio.file.Files.createTempDirectory(s"maint_${tag}_$i").toString
        val mrg = try {
          graft.operators.Dedup.writeClusterLabels(oldLabels, labDir)
          timed {
            graft.operators.Dedup.mergeClusterLabels(spark, labDir, newPairs); ()
          }
        } finally deleteRec(labDir)
        // delta mode (r14): same merge, only the touched rows written
        val deltaDir = java.nio.file.Files.createTempDirectory(s"maintd_${tag}_$i").toString
        val dlt = try {
          graft.operators.Dedup.writeClusterLabels(oldLabels, deltaDir)
          timed {
            graft.operators.Dedup.mergeClusterLabels(spark, deltaDir, newPairs,
              delta = true); ()
          }
        } finally deleteRec(deltaDir)
        (upd, mrg, dlt)
      }
      Map("update" -> runs.map(_._1).minBy(_._1),
        "merge" -> runs.map(_._2).minBy(_._1),
        "merge_delta" -> runs.map(_._3).minBy(_._1))
    }

    val small = measure(base, "base")
    val large = measure(big, s"${factor}x")
    val rows = Seq("update", "merge", "merge_delta").map { k =>
      val (t1, s1) = small(k); val (tN, sN) = large(k)
      val exp = math.log(tN / t1) / math.log(factor)
      System.err.println(f"[maint] $k%-7s t1=$t1%6.2fs t$factor=$tN%6.2fs exp=$exp%5.2f " +
        f"sw1=${s1 / 1048576.0}%7.1fMB sw$factor=${sN / 1048576.0}%7.1fMB")
      s""""$k":{"t1":${f"$t1%.2f"},"t$factor":${f"$tN%.2f"},"exp":${f"$exp%.2f"},""" +
        s""""shuffle_mb_1":${f"${s1 / 1048576.0}%.1f"},"shuffle_mb_$factor":${f"${sN / 1048576.0}%.1f"}}"""
    }
    println(s"""{"metric":"maint_scale","factor":$factor,"batch":$batchSize,${rows.mkString(",")}}""")

    // ---- chain-read cost at chain length K (r15, r14 verdict item 3):
    // the serving-side read between folds. A fresh label dir gets a full
    // base + (K−1) tiny delta merges (fresh-id pairs, no fold), then
    // readClusterLabels().count() is timed — wall must stay ~flat in
    // corpus size (the broadcast-overlay read never shuffles the base)
    // and bounded in K.
    def chainRead(dir: String, tag: String, k: Int): (Double, Long) = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val labels = graft.operators.Dedup.exact(docs)
        .select(col("keep_id").as("id"), col("keep_id").as("cluster_id"))
      val labDir = java.nio.file.Files.createTempDirectory(s"maintk_${tag}_$k").toString
      try {
        graft.operators.Dedup.writeClusterLabels(labels, labDir)
        (1 until k).foreach { j =>
          val a = 10000000000L + 2L * j
          val p = spark.range(1).select(lit(a).as("d1"), lit(a + 1).as("d2"))
          graft.operators.Dedup.mergeClusterLabels(spark, labDir, p,
            delta = true, maxChain = k + 1)
        }
        val runs = (1 to iters).map { _ =>
          spark.catalog.clearCache()
          timed { graft.operators.Dedup.readClusterLabels(spark, labDir).count(); () }
        }
        runs.minBy(_._1)
      } finally deleteRec(labDir)
    }
    val readRows = for (k <- Seq(1, 8, 64)) yield {
      val (t1, s1) = chainRead(base, "base", k)
      val (tN, sN) = chainRead(big, s"${factor}x", k)
      val exp = math.log(tN / t1) / math.log(factor)
      System.err.println(f"[maint] read K=$k%-3d t1=$t1%6.2fs t$factor=$tN%6.2fs exp=$exp%5.2f " +
        f"sw1=${s1 / 1048576.0}%7.1fMB sw$factor=${sN / 1048576.0}%7.1fMB")
      s""""read_k$k":{"t1":${f"$t1%.2f"},"t$factor":${f"$tN%.2f"},"exp":${f"$exp%.2f"},""" +
        s""""shuffle_mb_1":${f"${s1 / 1048576.0}%.1f"},"shuffle_mb_$factor":${f"${sN / 1048576.0}%.1f"}}"""
    }
    println(s"""{"metric":"maint_read","factor":$factor,${readRows.mkString(",")}}""")

    // ---- streaming twin at scale (r15, r14 verdict item 5): the
    // per-micro-batch wall and write volume of
    // StreamingOps.clusterMaintain(delta = true) over the big corpus,
    // with a fixed micro-batch cadence. Pairs come from a precomputed
    // pool keyed by batch index, the realistic "today's ingest" shape.
    def streamMaint(dir: String, tag: String, nBatches: Int): (Double, Double, Long) = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val labels = graft.operators.Dedup.exact(docs)
        .select(col("keep_id").as("id"), col("keep_id").as("cluster_id"))
      val labDir = java.nio.file.Files.createTempDirectory(s"maints_$tag").toString
      try {
      graft.operators.Dedup.writeClusterLabels(labels, labDir)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[Long]
      val q = graft.streaming.StreamingOps.clusterMaintain(
        in.toDF().withColumnRenamed("value", "batch_id"),
        labDir, delta = true, maxChain = nBatches + 2) { batch =>
        // fixed-size synthetic ingest per batch: 20 fresh-id pairs
        val ids = batch.select(col("batch_id")).collect().map(_.getLong(0))
        val b = ids.headOption.getOrElse(0L)
        spark.range(20).select(
          (lit(20000000000L) + b * 100 + col("id") * 2).as("d1"),
          (lit(20000000000L) + b * 100 + col("id") * 2 + 1).as("d2"))
      } { _ => () }
      val walls = (1 to nBatches).map { i =>
        val t0 = System.nanoTime()
        in.addData(i.toLong)
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }
      q.stop()
      // write volume: total bytes across delta generations (excl. gen 0)
      val genBytes = Option(new java.io.File(labDir).listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("_graft_gen_") && f.getName != "_graft_gen_00000")
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .map(_.length()).sum
      (walls.sum / walls.length, walls.sorted.apply(walls.length / 2), genBytes)
      } finally deleteRec(labDir)
    }
    val (avg1, med1, by1) = streamMaint(base, "base", 5)
    val (avgN, medN, byN) = streamMaint(big, s"${factor}x", 5)
    System.err.println(f"[maint] stream_delta base avg=$avg1%5.2fs med=$med1%5.2fs " +
      f"bytes=${by1 / 1024.0}%9.1fKB | ${factor}x avg=$avgN%5.2fs med=$medN%5.2fs " +
      f"bytes=${byN / 1024.0}%9.1fKB exp=${math.log(medN / med1) / math.log(factor)}%5.2f")
    println(s"""{"metric":"maint_stream","factor":$factor,"batches":5,""" +
      s""""base":{"avg":${f"$avg1%.2f"},"med":${f"$med1%.2f"},"delta_kb":${f"${by1 / 1024.0}%.1f"}},""" +
      s""""big":{"avg":${f"$avgN%.2f"},"med":${f"$medN%.2f"},"delta_kb":${f"${byN / 1024.0}%.1f"}}}""")
    spark.stop()
  }
}
