package perfbench

import graft.core.AreaConfig
import graft.functions.GeoFunctions._
import graft.functions.TopKNearest
import graft.queries.Queries
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Kernel micro-tier of the traced run: fixed-size throughput passes over
  * the codegen expressions the resampling operators sit on, and single-
  * thread loops over the projection math. Bytes and operations per row are
  * computed from each kernel's formula, not measured. */
object Kernels {
  /** Keeps the single-thread loops' results live. */
  @volatile var sink = 0.0

  private def timeS(reps: Int)(body: => Unit): Double = Stats.median((1 to reps).map { _ =>
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  })

  def run(spark: SparkSession, seed: Long): Seq[(String, Double, String)] = {
    val area = Queries.stereArea(800, 800)
    val rows = 1000000L
    val pts = spark.range(rows).select(
      (lit(-5.0) + rand(seed) * 28).as("lon"), (lit(40.0) + rand(seed + 1) * 20).as("lat"),
      (lit(-5.0) + rand(seed + 2) * 28).as("lon2"), (lit(40.0) + rand(seed + 3) * 20).as("lat2"),
      (col("id") % (rows / 8)).as("dst_id"), col("id").as("src_id"), rand(seed + 4).as("dist2"))
      .cache()
    pts.count()
    val project = timeS(3)(withProjected(pts, area.crs).agg(sum("proj_x"), sum("proj_y")).collect())
    val haver = timeS(3)(pts.agg(sum(haversine(col("lon"), col("lat"), col("lon2"), col("lat2")))).collect())
    val topk = timeS(3)(pts.groupBy("dst_id")
      .agg(TopKNearest.topkNearest(struct(col("dist2"), col("src_id")), 8).as("c"))
      .agg(sum(size(col("c")))).collect())
    pts.unpersist()

    val rng = new scala.util.Random(seed)
    val n = 200000
    val lon = Array.fill(n)(-5.0 + rng.nextDouble() * 28)
    val lat = Array.fill(n)(40.0 + rng.nextDouble() * 20)
    val xy = lon.indices.map(i => area.crs.forward(lon(i), lat(i))).toArray
    val fwd = timeS(3) {
      var i = 0; var acc = 0.0
      while (i < n) { acc += area.crs.forward(lon(i), lat(i))._1; i += 1 }
      sink = acc
    }
    val inv = timeS(3) {
      var i = 0; var acc = 0.0
      while (i < n) { acc += area.crs.inverse(xy(i)._1, xy(i)._2)._1; i += 1 }
      sink = acc
    }
    val grid = timeS(3)(area.grid(spark, withLonLat = true).agg(sum("lon")).collect())
    val yaml = (0 until 200).map { i =>
      s"""area_$i:
         |  projection: {proj: stere, lat_0: ${40 + i % 20}, lon_0: ${i % 30}, a: 6378144.0, b: 6356759.0}
         |  shape: [${100 + i}, ${200 + i}]
         |  area_extent: [-1370912.72, -909968.64, 1029087.28, 1490031.36]
         |""".stripMargin
    }.mkString
    val areaCfg = timeS(3)(require(AreaConfig.loadFromString(yaml).size == 200))

    Seq(
      ("functions.project.rows_per_s", rows / project, "1/s"),
      ("functions.project.bytes_per_row", 32.0, "B"), // 2 doubles in, 2 out
      ("functions.project.ops_per_row", 11.0, "count"), // transcendental calls, oblique stere
      ("functions.haversine.rows_per_s", rows / haver, "1/s"),
      ("functions.haversine.bytes_per_row", 40.0, "B"), // 4 doubles in, 1 out
      ("functions.haversine.ops_per_row", 8.0, "count"), // sin 2, cos 2, pow 2, sqrt, asin
      ("functions.topk.rows_per_s", rows / topk, "1/s"),
      ("functions.topk.bytes_per_row", 24.0, "B"), // key, dist2, id
      ("functions.topk.ops_per_row", 3.0, "count"), // heap compares, log2(8)
      ("core.crs_forward_pts_per_s", n / fwd, "1/s"),
      ("core.crs_inverse_pts_per_s", n / inv, "1/s"),
      ("core.grid_build_s", grid, "s"),
      ("core.area_config_load_s", areaCfg, "s"))
  }
}
