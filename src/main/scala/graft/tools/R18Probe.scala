package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r18 optimization-round probe harness: avgHashProbe root-cause
  * experiments on multi-million-key hash aggregates (the q175/q81
  * degradation the r17 round measured and left open) and the bm25
  * hot-qid skew fixture. Dev-only; never run by the driver. */
object R18Probe {

  /** Walk the executed plan printing every HashAggregate's probe/memory
    * metrics. */
  private def aggMetrics(df: DataFrame, label: String): Unit = {
    // toRdd.count() forces THIS QueryExecution (a noop write would wrap
    // the plan in its own execution and leave these metrics at zero)
    df.queryExecution.toRdd.count()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case h if h.nodeName.contains("HashAggregate") =>
          val m = h.metrics
          def v(k: String) = m.get(k).map(_.value).getOrElse(-1L)
          println(f"[probe] $label%-34s ${h.nodeName}%-18s rows=${v("numOutputRows")}%9d " +
            f"probe=${v("avgHashProbe")}%5d peakMB=${v("peakMemory") / 1024 / 1024}%5d " +
            f"aggTimeMs=${v("aggTime")}%7d spill=${v("spillSize")}%d fallback=${v("numTasksFallBacked")}%d")
        case _ => ()
      }
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      kids.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Controlled replicas of the q81 (qid, doc) sum shape. */
  def hashprobe(): Unit = {
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val nQids = 18
    val nDocs = 100000L
    val rows = 3200000L
    // fan-out rows: ~1.8M distinct (qid, doc) pairs from 3.2M rows
    def fanout = spark.range(rows)
      .select((col("id") % nQids).as("qid"),
        ((col("id") * 2654435761L) % nDocs).as("doc"),
        lit(1L).as("m"))
    val t0 = System.nanoTime()
    // A: the bm25 shape — repartition by qid alone, sum by (qid, doc)
    aggMetrics(fanout.repartition(32, col("qid")).groupBy("qid", "doc")
      .agg(sum("m").as("s")), "A qid-partitioned (bm25 shape)")
    // B: uniform partitioning on the full key
    aggMetrics(fanout.repartition(32, col("qid"), col("doc")).groupBy("qid", "doc")
      .agg(sum("m").as("s")), "B (qid,doc)-partitioned")
    // C: single dense long key, default exchange
    aggMetrics(spark.range(rows).select((col("id") % 1800000L).as("k"), lit(1L).as("m"))
      .groupBy("k").agg(sum("m").as("s")), "C dense single key")
    // D: A again but with the two-level fast map disabled
    spark.conf.set("spark.sql.codegen.aggregate.map.twolevel.enabled", "false")
    aggMetrics(fanout.repartition(32, col("qid")).groupBy("qid", "doc")
      .agg(sum("m").as("s")), "D A-shape, twolevel off")
    spark.conf.unset("spark.sql.codegen.aggregate.map.twolevel.enabled")
    // E: A-shape with doc ids made high-entropy (xxhash64)
    aggMetrics(fanout.select(col("qid"), xxhash64(col("doc")).as("doc"), col("m"))
      .repartition(32, col("qid")).groupBy("qid", "doc")
      .agg(sum("m").as("s")), "E A-shape, hashed doc ids")
    def denseKey = spark.range(rows)
      .select((col("id") % 1800000L).as("k"), lit(1L).as("m"))
    // F: fewer keys per task (256 shuffle partitions)
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    aggMetrics(denseKey.groupBy("k").agg(sum("m").as("s")), "F dense key, 256 parts")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    // G: 10x fewer keys, same row count
    aggMetrics(spark.range(rows).select((col("id") % 180000L).as("k"), lit(1L).as("m"))
      .groupBy("k").agg(sum("m").as("s")), "G dense key, 180k keys")
    // H: first-level fast map widened to 2^20 slots (needs a FRESH
    // session: the conf is read at codegen, but capacityBit is
    // plan-level — set via conf and re-run)
    spark.conf.set("spark.sql.codegen.aggregate.fastHashMap.capacityBit", "20")
    aggMetrics(denseKey.groupBy("k").agg(sum("m").as("s")), "H dense key, fastmap 2^20")
    spark.conf.unset("spark.sql.codegen.aggregate.fastHashMap.capacityBit")
    println(f"[probe] total ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }

  /** Worst-case bm25 batch: ONE query whose terms hit most of the corpus
    * (verdict "What's wrong #3" — the qid-only exchange concentrates the
    * whole fan-out in one task). Compares a 1-hot-query batch against a
    * normal batch on wall clock. */
  def bm25hot(sfDir: String): Unit = {
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.count()
    // hot: one query made of the corpus's most frequent words
    val top = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().orderBy(desc("count")).limit(30)
      .collect().map(_.getString(0))
    val spark2 = spark
    import spark2.implicits._
    val hot = Seq((1L, top.mkString(" "))).toDF("qid", "text")
    val normal = docs.limit(16)
      .select(col("doc_id").as("qid"), substring(col("text"), 1, 60).as("text"))
    for ((label, qs) <- Seq(("hot-1q", hot), ("normal-16q", normal))) {
      val t0 = System.nanoTime()
      val df = graft.operators.Retrieval.bm25Batch(qs, docs, k = 10)
      df.queryExecution.toRdd.count()
      println(f"[probe] bm25 $label%-12s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      def walk(p: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
        val m = p.metrics
        val interesting = Seq("aggTime", "pipelineTime", "dataSize", "shuffleWriteTime",
          "numOutputRows", "sortTime")
          .flatMap(k => m.get(k).filter(_.value > 0).map(v => s"$k=${v.value}"))
        if (interesting.nonEmpty)
          println("[probe]   " + "  " * d + p.nodeName + " " + interesting.mkString(", "))
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case _ => p.children
        }
        kids.foreach(walk(_, d + 1))
      }
      walk(df.queryExecution.executedPlan, 0)
    }
    spark.stop()
  }

  /** Isolated bm25 scoring tail at synthetic hot-qid scale: ONE qid,
    * 20M (qid, doc, micro) fan-out rows — the shape a single torrential
    * query produces at corpus scale. A/B: r17's qid-only exchange
    * (everything in one task) vs r18's salted two-phase sum. */
  def bm25tail(): Unit = {
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val rows = 20000000L
    def fanout = spark.range(rows)
      .select(lit(1L).as("qid"),
        ((col("id") * 2654435761L) % 4000000L).as("doc"),
        (col("id") % 1000L).as("_m"))
    val w = 32
    def tail(pre: DataFrame => DataFrame, post: DataFrame => DataFrame, label: String): Unit = {
      val t0 = System.nanoTime()
      val df = post(pre(fanout))
        .groupBy("qid")
        .agg(graft.functions.TopKNearest.topkNearest(
          struct((-col("score")).as("dist2"), col("doc").cast("long").as("src_id"),
            col("score").as("score")), 10, payload = Seq("score")).as("_top"))
      df.queryExecution.toRdd.count()
      println(f"[probe] bm25tail $label%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    for (i <- 1 to 2) {
      tail(
        _.repartition(w, col("qid")).groupBy("qid", "doc")
          .agg(sum("_m").as("_sm")),
        _.withColumn("score", col("_sm").cast("double") / lit(1e6)),
        s"qid-only (r17) #$i")
      tail(
        _.withColumn("_salt", pmod(xxhash64(col("doc")), lit(w.toLong)))
          .repartition(w, col("qid"), col("_salt"))
          .groupBy("qid", "_salt", "doc").agg(sum("_m").as("_sm")).drop("_salt"),
        _.withColumn("score", col("_sm").cast("double") / lit(1e6)),
        s"salted (r18)   #$i")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    args.headOption.getOrElse("hashprobe") match {
      case "hashprobe" => hashprobe()
      case "bm25hot" => bm25hot(args(1))
      case "bm25tail" => bm25tail()
      case other => sys.error(s"unknown probe $other")
    }
  }
}
