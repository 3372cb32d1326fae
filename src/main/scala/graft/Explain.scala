package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Plan-inspection main: prints `explain("formatted")` for selected queries
  * so scan pushdown (PushedFilters / ReadSchema), join strategies, and
  * whole-stage-codegen spans can be reviewed. Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  * With EXEC=1 the query is executed first and the AQE-final plan is
  * printed with per-node runtime metrics (rows, aggTime, pipelineTime,
  * shuffle sizes, partition counts) — the profiling view that exposed the
  * single-task AQE-coalescing pathologies this engine's rebalances fix.
  */
object Explain {

  private def walk(p: SparkPlan, depth: Int): Unit = {
    val m = p.metrics.map { case (k, v) => s"$k=${v.value}" }.mkString(", ")
    println("  " * depth + p.nodeName + "  [" + m.take(300) + "]")
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    kids.foreach(walk(_, depth + 1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q01_bucket_count", "q14_knn_nearest", "q21_pricing_agg")
    val exec = sys.env.get("EXEC").contains("1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", if (exec) "32" else "4").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val qs = SparkEntry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = qs(n)(spark, sfDir)
      if (exec) {
        val t0 = System.nanoTime()
        val rows = df.queryExecution.toRdd.count()
        println(f"ELAPSED ${(System.nanoTime() - t0) / 1e9}%.2f s  rows=$rows")
        walk(df.queryExecution.executedPlan, 0)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
