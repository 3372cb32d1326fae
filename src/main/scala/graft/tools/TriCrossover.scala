package graft.tools

import org.apache.spark.sql.functions._

/** Crossover measurement for `Graph.triangleStats`' driver-local fast
  * path (r17, verdict item: the 200k-edge default cap was reasoned from
  * the O(m^1.5) wedge bound, not measured — measure it the way
  * [[CcCrossover]] measured CC's 1M default).
  *
  * For each canonical edge count N the tool builds a deterministic
  * random graph (hash-derived endpoints over N/4 vertices — avg degree
  * ~8, so real triangles and real wedge fan-out exist), materializes
  * the pair table once, then times `Graph.triangleStats` with the fast
  * path forced ON (`spark.graft.cc.triangleLocalThreshold` and
  * `spark.graft.cc.localThreshold` above N) and forced OFF
  * (`localThreshold` 0), `iters` runs each, min reported. Results —
  * (id, degree, n_tri) maps and the double clustering column — are
  * compared for exact equality every run.
  *
  * Output: one JSON line per N:
  * `{"edges":N,"local_sec":…,"dist_sec":…,"ratio":…}`. */
object TriCrossover {
  def main(args: Array[String]): Unit = {
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    val sizes = sys.env.getOrElse("SPARK_GRAFT_TRI_SIZES", "50000,100000,200000,500000,1000000")
      .split(",").map(_.trim.toLong).toSeq
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warm-up

    sizes.foreach { n =>
      val v = math.max(n / 4, 3L)
      // deterministic hash-derived endpoints (a benchmark graph, not an
      // oracle query); duplicates/self-loops are dropped by the
      // operator's canonicalization, so the CANONICAL count is a bit
      // under n — both strategies see the identical table
      val pairs = spark.range(n)
        .select(
          pmod(xxhash64(col("id"), lit(1)), lit(v)).as("d1"),
          pmod(xxhash64(col("id"), lit(2)), lit(v)).as("d2"))
        .filter(col("d1") =!= col("d2"))
        .persist()
      pairs.count()

      def run(threshold: Long): (Double, Map[Long, (Long, Long, Option[Double])]) = {
        spark.conf.set("spark.graft.cc.localThreshold", threshold.toString)
        spark.conf.set("spark.graft.cc.triangleLocalThreshold", threshold.toString)
        var best = Double.MaxValue
        var res: Map[Long, (Long, Long, Option[Double])] = Map.empty
        (1 to iters).foreach { _ =>
          val t0 = System.nanoTime()
          res = graft.operators.Graph.triangleStats(pairs)
            .collect().map(r => r.getLong(0) ->
              (r.getLong(1), r.getLong(2),
                if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        (best, res)
      }
      val (localSec, localRes) = run(4L * n + 16)
      val (distSec, distRes) = run(0L)
      spark.conf.unset("spark.graft.cc.localThreshold")
      spark.conf.unset("spark.graft.cc.triangleLocalThreshold")
      require(localRes == distRes,
        s"triangle divergence at n=$n — fast path broken, numbers meaningless")
      pairs.unpersist()
      println(f"""{"edges":$n,"local_sec":$localSec%.3f,"dist_sec":$distSec%.3f,"ratio":${localSec / distSec}%.3f}""")
    }
    spark.stop()
  }
}
