package graft.tools

import org.apache.spark.sql.functions._

/** Durability-tax measurement for reliable-checkpoint mode (r17, a
  * two-round verdict item): every published number for the
  * cluster-maintenance plane was taken in localCheckpoint mode, while
  * production multi-hour loops are told to set
  * `spark.graft.reliableCheckpointDir`. This tool measures what that
  * durability actually costs on the queries that ride the barrier
  * machinery — {q64, q226, q227, q228} plus a
  * `StreamingOps.clusterMaintain` twin — by running each in BOTH modes
  * (interleaved, min over SPARK_GRAFT_BENCH_ITERS, default 2) against
  * the same session, and recording the reliable root's file high-water
  * mark (a 100 ms sampler) plus the residual after each query.
  *
  * The session sets `spark.cleaner.referenceTracking.cleanCheckpoints`
  * at context start (the knob `Checkpoints.loopBarrier` warns about),
  * so one-shot barriers are reclaimed on GC; loop rounds and
  * reapScope'd merge bodies reclaim deterministically.
  *
  * Usage: `runMain graft.tools.ReliableTax [baseDir]`; set
  * SPARK_GRAFT_SCALE_DIR to also measure a ScaleBench blow-up dir.
  * Output: one JSON line per dir with per-query
  * `{local, reliable, tax, hw_mb, hw_files, resid_files}`. */
object ReliableTax {
  private val TaxQueries = Seq(
    "q64_neardup_clusters", "q226_minhash_clusters",
    "q227_incremental_clusters", "q228_delta_clusters")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val extra = sys.env.get("SPARK_GRAFT_SCALE_DIR").filter(_.nonEmpty)
      .filter(d => new java.io.File(s"$d/documents.parquet").exists())
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt.max(1)
    val relRoot = java.nio.file.Files.createTempDirectory("graft_reliable_root").toString
    val spark = graft.GraftSession.local(32,
      Map("spark.cleaner.referenceTracking.cleanCheckpoints" -> "true"))
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warm-up

    // ---- reliable-root telemetry: a sampler records the high-water
    // (bytes, files) between resets; residuals are read after a GC
    // nudge so ContextCleaner-driven one-shot reclamation has a chance
    // to land before we call something "leaked"
    def walk(dir: java.io.File): (Long, Long) = {
      var bytes = 0L; var files = 0L
      def go(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(go)
        else { bytes += f.length(); files += 1 }
      go(dir); (bytes, files)
    }
    val hwBytes = new java.util.concurrent.atomic.AtomicLong
    val hwFiles = new java.util.concurrent.atomic.AtomicLong
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val (b, f) = walk(new java.io.File(relRoot))
        hwBytes.getAndUpdate(x => math.max(x, b))
        hwFiles.getAndUpdate(x => math.max(x, f))
        Thread.sleep(100)
      }
    }, "reliable-root-sampler")
    sampler.setDaemon(true)
    sampler.start()

    def residual(): Long = {
      System.gc(); Thread.sleep(500)
      walk(new java.io.File(relRoot))._2
    }

    def timedMin(body: => Unit): Double =
      (1 to iters).map { _ =>
        spark.catalog.clearCache()
        Thread.sleep(300)
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }.min

    def inReliable[T](body: => T): T = {
      spark.conf.set(graft.operators.Checkpoints.ConfKey, relRoot)
      try body finally spark.conf.unset(graft.operators.Checkpoints.ConfKey)
    }

    def measureDir(dir: String): String = {
      val rows = TaxQueries.map { name =>
        val q = graft.SparkEntry.queries(name)
        val tLocal = timedMin { q(spark, dir).count(); () }
        hwBytes.set(0); hwFiles.set(0)
        val tRel = inReliable { timedMin { q(spark, dir).count(); () } }
        val resid = residual()
        val tax = tRel / tLocal
        System.err.println(f"[reltax] $name%-26s local=$tLocal%6.2fs reliable=$tRel%6.2fs " +
          f"tax=$tax%4.2fx hw=${hwBytes.get / 1048576.0}%7.1fMB/${hwFiles.get}%d files resid=$resid%d")
        f""""$name":{"local":$tLocal%.2f,"reliable":$tRel%.2f,"tax":$tax%.2f,""" +
          f""""hw_mb":${hwBytes.get / 1048576.0}%.1f,"hw_files":${hwFiles.get},"resid_files":$resid}"""
      }

      // streaming twin: 5 clusterMaintain(delta) micro-batches per mode
      def streamMaint(reliable: Boolean): Double = {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val labels = graft.operators.Dedup.exact(docs)
          .select(col("keep_id").as("id"), col("keep_id").as("cluster_id"))
        val labDir = java.nio.file.Files.createTempDirectory("reltax_stream").toString
        def deleteRec(d: java.io.File): Unit = {
          Option(d.listFiles()).toSeq.flatten.foreach(deleteRec); d.delete(); ()
        }
        try {
          val body = () => {
            graft.operators.Dedup.writeClusterLabels(labels, labDir)
            import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
            implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
            import spark.implicits._
            val in = MemoryStream[Long]
            val q = graft.streaming.StreamingOps.clusterMaintain(
              in.toDF().withColumnRenamed("value", "batch_id"),
              labDir, delta = true, maxChain = 16) { batch =>
              val b = batch.select(col("batch_id")).collect()
                .map(_.getLong(0)).headOption.getOrElse(0L)
              spark.range(20).select(
                (lit(20000000000L) + b * 100 + col("id") * 2).as("d1"),
                (lit(20000000000L) + b * 100 + col("id") * 2 + 1).as("d2"))
            } { _ => () }
            val walls = (1 to 5).map { i =>
              val t0 = System.nanoTime()
              in.addData(i.toLong)
              q.processAllAvailable()
              (System.nanoTime() - t0) / 1e9
            }
            q.stop()
            walls.sorted.apply(walls.length / 2)
          }
          if (reliable) inReliable(body()) else body()
        } finally deleteRec(new java.io.File(labDir))
      }
      val sLocal = streamMaint(reliable = false)
      hwBytes.set(0); hwFiles.set(0)
      val sRel = streamMaint(reliable = true)
      val sResid = residual()
      System.err.println(f"[reltax] maint_stream(med batch)      local=$sLocal%6.2fs reliable=$sRel%6.2fs " +
        f"tax=${sRel / sLocal}%4.2fx hw=${hwBytes.get / 1048576.0}%7.1fMB resid=$sResid%d")
      val streamRow =
        f""""maint_stream":{"local":$sLocal%.2f,"reliable":$sRel%.2f,"tax":${sRel / sLocal}%.2f,""" +
          f""""hw_mb":${hwBytes.get / 1048576.0}%.1f,"hw_files":${hwFiles.get},"resid_files":$sResid}"""
      s"""{"metric":"reliable_tax","dir":"$dir",${(rows :+ streamRow).mkString(",")}}"""
    }

    val lines = (Seq(base) ++ extra).map(measureDir)
    sampling = false
    lines.foreach(println)
    spark.stop()
  }
}
