package graft.tools

import org.apache.spark.sql.functions._

/** r17 optimization-round probe harness: micro-measurements behind the
  * plan-level profiles (ImageIO decode cost, fixture synthesis, cluster
  * family phase split). Dev-only; never run by the driver. */
object R17Probe {
  def time[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    println(f"[probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("imageio")
    which match {
      case "imageio" => imageio()
      case "phases" => phases(args(1))
      case "jobs" => jobs(args(1), args(2))
      case other => sys.error(s"unknown probe $other")
    }
  }

  /** ImageIO decode cost per BMP payload, default disk cache vs
    * setUseCache(false). */
  def imageio(): Unit = {
    // one 8x8 24bpp BMP, same layout as the q212 fixture
    val header = "424DF6000000000000003600000028000000080000000800000001001800" +
      "00000000C000000000000000000000000000000000000000"
    val px = (0 until 64).map(i => { val g = (i * 37) % 199; f"$g%02X" * 3 }).mkString
    val bytes = (header + px).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def run(n: Int): Long = {
      var s = 0L
      var i = 0
      while (i < n) { s += graft.operators.MediaCodec.aHash63(bytes); i += 1 }
      s
    }
    run(500) // warm
    javax.imageio.ImageIO.setUseCache(true)
    time("aHash63 x5000, useCache=true")(run(5000))
    javax.imageio.ImageIO.setUseCache(false)
    time("aHash63 x5000, useCache=false")(run(5000))
    javax.imageio.ImageIO.setUseCache(true)
    time("aHash63 x5000, useCache=true (2)")(run(5000))
    javax.imageio.ImageIO.setUseCache(false)
    time("aHash63 x5000, useCache=false (2)")(run(5000))
  }

  /** Per-Spark-job wall breakdown for ONE query: runs it twice (warm
    * second), printing every job's duration + call site. */
  def jobs(sfDir: String, qName: String): Unit = {
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            // root node name of the physical plan = the action shape
            val head = s.physicalPlanDescription.linesIterator
              .find(l => l.nonEmpty && !l.startsWith("==")).getOrElse("").trim.take(60)
            execDesc.put(s.executionId, s"${s.description.linesIterator.next().take(40)} | $head")
          case _ => ()
        }
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (record) {
          val site = Option(js.properties.getProperty("spark.sql.execution.id"))
            .map(id => s"ex$id " + Option(execDesc.get(id.toLong)).getOrElse(""))
            .getOrElse("(non-sql)")
          starts.put(js.jobId, (System.nanoTime(), site))
        }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null) println(f"[job] ${je.jobId}%4d ${(System.nanoTime() - s._1) / 1e9}%7.3f s  ${s._2}")
      }
    })
    val fn = graft.SparkEntry.queries(qName)
    for (i <- 1 to 2) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      println(s"--- run $i")
      record = i == 2
      time(s"$qName run $i")(fn(spark, sfDir).count())
    }
    Thread.sleep(500)
    spark.stop()
  }

  /** Phase split for the cluster-maintenance family at a given sf dir. */
  def phases(sfDir: String): Unit = {
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.count()
    import graft.operators.Dedup
    for (iter <- 1 to 3) {
      println(s"--- iter $iter")
      val pairs = time("ngramJaccard build+barrier") {
        Dedup.ngramJaccard(docs, Seq("lang", "n_chars"), maxBlockSize = Dedup.Uncapped)
          .select("d1", "d2").localCheckpoint(true)
      }
      time("pairs.count")(pairs.count())
      val labels = time("nearDupClusters total") {
        Dedup.nearDupClusters(docs.select("doc_id"), pairs)
      }
      time("labels.count")(labels.count())
      time("q64 shape full") {
        Dedup.nearDupClusters(docs.select("doc_id"),
          Dedup.ngramJaccard(docs, Seq("lang", "n_chars"),
            maxBlockSize = Dedup.Uncapped).select("d1", "d2")).count()
      }
      time("minhashClusterLabels (q226 core)") {
        Dedup.minhashClusterLabels(docs, threshold = 0.4,
          maxBandSize = Dedup.Uncapped).count()
      }
    }
    spark.stop()
  }
}
