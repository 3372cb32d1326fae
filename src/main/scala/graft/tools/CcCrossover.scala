package graft.tools

import org.apache.spark.sql.functions._

/** Crossover measurement for the small-graph fast path (r16): at what
  * edge count does the driver-local union-find stop beating the
  * distributed connectedComponents loop on this machine?
  *
  * For each edge count N the tool builds a deterministic random graph
  * (hash-derived endpoints over N/2 vertices — supercritical
  * Erdős–Rényi-ish, so components are non-trivial and the distributed
  * loop runs real rounds), materializes the PAIR table once (both
  * strategies read the same cached input), then times
  * `Dedup.connectedComponents` with the fast path forced ON (threshold
  * above N) and forced OFF (threshold 0), `iters` runs each, min
  * reported. Label maps are compared for bit-equality every run — a
  * crossover benchmark that silently diverged would be worthless.
  *
  * Output: one JSON line per N:
  * `{"edges":N,"local_sec":…,"dist_sec":…,"ratio":…}` — the evidence
  * behind `spark.graft.cc.localThreshold`'s default in SCALING.md. */
object CcCrossover {
  def main(args: Array[String]): Unit = {
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    val sizes = sys.env.getOrElse("SPARK_GRAFT_CC_SIZES", "50000,200000,1000000,4000000")
      .split(",").map(_.trim.toLong).toSeq
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warm-up

    sizes.foreach { n =>
      val v = math.max(n / 2, 2L)
      // deterministic hash-derived endpoints; xxhash64 here is fine — this
      // is a synthetic benchmark graph, not an oracle-checked query
      val pairs = spark.range(n)
        .select(
          pmod(xxhash64(col("id"), lit(1)), lit(v)).as("d1"),
          pmod(xxhash64(col("id"), lit(2)), lit(v)).as("d2"))
        .filter(col("d1") =!= col("d2"))
        .persist()
      pairs.count()

      def run(threshold: Long): (Double, Map[Long, Long]) = {
        spark.conf.set("spark.graft.cc.localThreshold", threshold.toString)
        var best = Double.MaxValue
        var labels: Map[Long, Long] = Map.empty
        (1 to iters).foreach { _ =>
          val t0 = System.nanoTime()
          labels = graft.operators.Dedup.connectedComponents(pairs, maxIters = 40)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        (best, labels)
      }
      // threshold above the symmetrized count => local; 0 => distributed
      val (localSec, localLabels) = run(4L * n + 16)
      val (distSec, distLabels) = run(0L)
      spark.conf.unset("spark.graft.cc.localThreshold")
      require(localLabels == distLabels,
        s"label divergence at n=$n — fast path broken, numbers meaningless")
      pairs.unpersist()
      println(f"""{"edges":$n,"local_sec":$localSec%.3f,"dist_sec":$distSec%.3f,"ratio":${localSec / distSec}%.3f}""")
    }
    spark.stop()
  }
}
