package perfbench

/** Per-layer metrics of a traced run, named after the engine's modules.
  * Every traced run reports every name; a layer the workload does not call
  * reads 0. Spark counters are means per operation. The tracing overhead
  * is the driver's wait for the listener bus as a share of the timed
  * phase; against the untraced run it is the ratio of `trace.items_per_s`
  * to the untraced `items_per_s` of the same seed. */
object Layers {
  val QueryFamilies: Seq[String] = QueryMixWorkload.Families.map(_._1)

  def metrics(ctx: Ctx, wl: Workload, timedWall: Double, cores: Int): Seq[(String, Double, String)] = {
    val ops = ctx.ops.toSeq
    val n = math.max(1, ops.size).toDouble
    val all = new OpStats
    ops.flatMap(_.stats).foreach(all.add)
    val wall = ops.map(_.wallS).sum
    val residual = ops.map(o => o.wallS - o.stats.map(_.jobUnionS).getOrElse(0.0)).sum
    val tr = ctx.tracer
    // operation time spent inside layer spans: the rest is the operation
    // span's own self time, work that no layer span covers
    val roots = tr.spans.filter(_.name.startsWith("op.")).map(_.id).toSet
    val inLayers = tr.spans.filter(s => roots.contains(s.parent)).map(_.durS).sum
    val total = tr.totalByName
    val count = tr.countByName
    def perCall(span: String): Double = total.get(span).map(_ / count(span)).getOrElse(0.0)
    val computes = Seq("operators.nearest.compute", "operators.bilinear.compute")
    val readCompute = computes.map(total.getOrElse(_, 0.0)).sum / math.max(1, computes.map(count.getOrElse(_, 0)).sum)
    def opStats(name: String): Seq[OpStats] = ops.filter(_.name == name).flatMap(_.stats).toSeq

    // join outputs picked by their key columns: the k-NN cell join
    // (cx, cy, cz) yields the candidates, the index-data join (src_id) the
    // kept neighbours; the LSH band self-join (band) the candidate pairs
    def joined(op: String, key: String): Double =
      opStats(op).flatMap(_.joinRows.collect { case (k, v) if k.split(",").contains(key) => v.toDouble }).sum
    val knnCand = joined("gauss", "cx")
    val knnKept = joined("gauss", "src_id")
    val knnCells = ctx.counter("knn.result_cells")
    val lshCand = joined("dedup.minhash_lsh", "band")
    val lshPairs = ctx.counter("dedup.lsh_pairs")
    val qOps = if (wl.name == "query-mix") ops else Seq.empty

    Seq(
      ("spark.sql_executions", all.sqlExecutions / n, "count"),
      ("spark.jobs", all.jobs / n, "count"),
      ("spark.stages", all.stages / n, "count"),
      ("spark.tasks", all.tasks / n, "count"),
      ("spark.planning_s", all.planningS / n, "s"),
      ("spark.executor_cpu_s", all.executorCpuS / n, "s"),
      ("spark.task_s", all.taskS / n, "s"),
      ("spark.scheduler_delay_s", all.schedulerDelayS / n, "s"),
      ("spark.gc_s", all.gcS / n, "s"),
      ("spark.shuffle_write_bytes", all.shuffleWriteBytes / n, "B"),
      ("spark.shuffle_read_bytes", all.shuffleReadBytes / n, "B"),
      ("spark.spill_bytes", all.spillBytes / n, "B"),
      ("spark.failed_tasks", all.failedTasks / n, "count"),
      ("spark.core_util", if (wall > 0) all.taskS / (wall * cores) else 0.0, "ratio"),
      ("driver.residual_s", residual / n, "s"),
      ("trace.accounted_share", if (wall > 0) inLayers / wall else 0.0, "ratio"),
      ("trace.overhead_share", ctx.meter.map(_.drainS).getOrElse(0.0) / timedWall, "ratio"),
      ("trace.items_per_s", ops.map(_.items).sum / timedWall, "1/s"),
      ("trace.spans", tr.spans.size.toDouble, "count"),
      ("operators.nearest.precompute_s", perCall("operators.nearest.precompute"), "s"),
      ("operators.nearest.compute_s", perCall("operators.nearest.compute"), "s"),
      ("operators.gauss_s", perCall("operators.gauss"), "s"),
      ("operators.bilinear.precompute_s", perCall("operators.bilinear.precompute"), "s"),
      ("operators.bilinear.compute_s", perCall("operators.bilinear.compute"), "s"),
      ("operators.bucket.average_s", perCall("operators.bucket.average"), "s"),
      ("operators.ewa.resample_s", perCall("operators.ewa.resample"), "s"),
      ("operators.knn.candidates_per_target", if (knnCells > 0) knnCand / knnCells else 0.0, "ratio"),
      ("operators.knn.useful_share", if (knnCand > 0) knnKept / knnCand else 0.0, "ratio"),
      ("operators.index.write_s", perCall("op.index.write"), "s"),
      ("operators.index.write_bytes", ctx.counter("index.write_bytes") / math.max(1, count.getOrElse("op.index.write", 1)), "B"),
      ("operators.index.read_compute_s", readCompute, "s"),
      ("operators.dedup.exact_s", perCall("operators.dedup.exact"), "s"),
      ("operators.dedup.minhash_lsh_s", perCall("operators.dedup.minhash_lsh"), "s"),
      ("operators.dedup.verify_s", perCall("operators.dedup.verify"), "s"),
      ("operators.dedup.lsh_precision", if (lshCand > 0) lshPairs / lshCand else 0.0, "ratio"),
      ("operators.dedup.cc_s", perCall("operators.dedup.cc"), "s"),
      ("operators.labels.write_s", perCall("operators.labels.write"), "s"),
      ("operators.labels.merge_s", perCall("operators.labels.merge"), "s"),
      ("operators.labels.read_s", perCall("operators.labels.read"), "s"),
      ("operators.labels.fs_read_bytes", ctx.counter("labels.fs_read_bytes") / math.max(1, count.getOrElse("operators.labels.read", 1)), "B"),
      ("queries.jobs_per_query", if (qOps.isEmpty) 0.0 else qOps.flatMap(_.stats).map(_.jobs).sum.toDouble / qOps.size, "count"),
      ("queries.planning_share",
        if (qOps.isEmpty) 0.0 else qOps.flatMap(_.stats).map(_.planningS).sum / qOps.map(_.wallS).sum, "ratio")
    ) ++ QueryFamilies.map(f => (s"queries.$f.p50_s", Stats.median(qOps.filter(_.family == f).map(_.wallS).toSeq), "s"))
  }
}
