package perfbench

import graft.core.AreaDef
import graft.operators._
import graft.queries.Queries
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A seeded, twisted satellite swath modelled on the reference's test
  * helpers `create_test_longitude` / `create_test_latitude`: longitudes run
  * along each row, latitudes down each column, and a per-row / per-column
  * twist skews the grid. Two channels: `smooth` is affine in the target
  * projection (so bilinear interpolation must reproduce it exactly) with
  * NaN holes; `noise` is random with null holes. */
final class Granule(seed: Long, val rows: Int, val cols: Int, area: AreaDef) {
  private val rng = new scala.util.Random(seed)
  // a fixed footprint, so every seed does the same amount of work; the
  // seed draws the channel values, the holes and the checked cells
  private val (lon0, lon1, lat0, lat1, twist) = (-5.0, 23.0, 42.0, 59.0, 0.003)
  val n: Int = rows * cols
  val lon = new Array[Double](n)
  val lat = new Array[Double](n)
  val smooth = new Array[Double](n)
  val noise = new Array[java.lang.Double](n)
  val (ax, ay, a0) = (1e-5 * (1 + rng.nextDouble()), -2e-5 * (1 + rng.nextDouble()), 280.0)
  for (r <- 0 until rows; c <- 0 until cols) {
    val i = r * cols + c
    lon(i) = lon0 + (lon1 - lon0) * c / (cols - 1) + r * twist
    lat(i) = lat0 + (lat1 - lat0) * r / (rows - 1) + c * twist
    val (px, py) = area.crs.forward(lon(i), lat(i))
    smooth(i) = if (rng.nextDouble() < 0.005) Double.NaN else ax * px + ay * py + a0
    noise(i) = if (rng.nextDouble() < 0.005) null else java.lang.Double.valueOf(250 + 50 * rng.nextDouble())
  }
  /** Pitch of the swath along a row, in metres (about). */
  val pitchM: Double = (lon1 - lon0) / (cols - 1) * 111320.0 * math.cos(math.toRadians(50))

  def frame(spark: SparkSession): DataFrame = {
    val schema = "src_id long, y int, x int, lon double, lat double, smooth double, noise double"
    val rowsSeq = (0 until n).map(i => Row(i.toLong, i / cols, i % cols, lon(i), lat(i), smooth(i), noise(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rowsSeq),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
  }
}

/** Driver-side brute force over the granule: the reference results the
  * checks compare the engine's output against. */
final class BruteForce(g: Granule, area: AreaDef, radius: Double) {
  private val R = graft.functions.GeoFunctions.EarthRadius
  private def xyz(lon: Double, lat: Double): (Double, Double, Double) = {
    val (lo, la) = (math.toRadians(lon), math.toRadians(lat))
    (math.cos(la) * math.cos(lo) * R, math.cos(la) * math.sin(lo) * R, math.sin(la) * R)
  }
  private val sx = new Array[Double](g.n); private val sy = new Array[Double](g.n)
  private val sz = new Array[Double](g.n)
  for (i <- 0 until g.n) { val (x, y, z) = xyz(g.lon(i), g.lat(i)); sx(i) = x; sy(i) = y; sz(i) = z }

  /** (dist2, src index) of every source within the radius of the cell
    * centre, nearest first, ties by id. */
  def within(cell: Long): Array[(Double, Int)] = {
    val (lon, lat) = area.lonLatOf((cell / area.width).toInt, (cell % area.width).toInt)
    if (lon.isNaN || lat.isNaN) return Array.empty
    val (tx, ty, tz) = xyz(lon, lat)
    val r2 = radius * radius
    val out = Array.newBuilder[(Double, Int)]
    var i = 0
    while (i < g.n) {
      val d2 = (tx - sx(i)) * (tx - sx(i)) + (ty - sy(i)) * (ty - sy(i)) + (tz - sz(i)) * (tz - sz(i))
      if (d2 <= r2 * (1 + 1e-9)) out += ((d2, i))
      i += 1
    }
    out.result().sortBy(p => (p._1, p._2))
  }

  def value(ch: String, i: Int): java.lang.Double =
    if (ch == "smooth") java.lang.Double.valueOf(g.smooth(i)) else g.noise(i)

  /** Per-cell (sum, count) of valid values, and the count of in-area
    * points — the bucket reference. */
  def buckets(ch: String): (Map[Long, (Double, Long)], Long) = {
    val acc = scala.collection.mutable.HashMap.empty[Long, (Double, Long)]
    var inArea = 0L
    for (i <- 0 until g.n) {
      val (px, py) = area.crs.forward(g.lon(i), g.lat(i))
      val cell = if (px.isNaN || py.isNaN) -1L else area.cellOf(px, py)
      if (cell >= 0) {
        inArea += 1
        val v = value(ch, i)
        val (s, c) = acc.getOrElse(cell, (0.0, 0L))
        if (v != null && !v.isNaN) acc(cell) = (s + v, c + 1)
        else if (!acc.contains(cell)) acc(cell) = (0.0, 0L)
      }
    }
    (acc.toMap, inArea)
  }
}

object Swath {
  val Channels: Seq[String] = Seq("smooth", "noise")

  def relClose(a: Double, b: Double, tol: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Collect a resampled (cell, value) frame: the image the user gets,
    * reduced to the sampled cells (value or absent) plus the row count. */
  def image(df: DataFrame, sample: Set[Long]): (Map[Long, java.lang.Double], Long) = {
    val rows = df.collect()
    val picked = rows.iterator.filter(r => sample.contains(r.getLong(0)))
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))))
      .toMap
    (picked, rows.length.toLong)
  }
}

/** `swath-resample`: the resampling families on one granule, each round
  * cold (cached blocks of earlier operations dropped). The nearest and
  * bilinear indexes are precomputed once per round into a fresh parquet
  * cache dir (`cacheDir`), then every compute reads them back, one per
  * channel: write once, read many. Gauss, bucket average and EWA resample
  * one channel per round through their public entry points. */
final class SwathWorkload(rows: Int, cols: Int, areaW: Int, areaH: Int, workDir: String)
    extends Workload {
  val name = "swath-resample"
  val itemUnit = "swath points x channels"
  private val area = Queries.stereArea(areaW, areaH)
  private var g: Granule = _
  private var bf: BruteForce = _
  private var src: DataFrame = _
  private var radius = 0.0
  private var sample: Set[Long] = Set.empty
  private val bucketRef = scala.collection.mutable.Map.empty[String, (Map[Long, (Double, Long)], Long)]
  private var rounds = 0

  def prepare(spark: SparkSession, seed: Long): Unit = {
    g = new Granule(seed, rows, cols, area)
    radius = 2.5 * g.pitchM
    bf = new BruteForce(g, area, radius)
    src = Inputs.parquet(spark, g.frame(spark), s"$workDir/granule")
    val rng = new scala.util.Random(seed ^ 0x5eed)
    sample = Iterator.continually(rng.nextInt(area.size.toInt).toLong).take(120).toSet
    Swath.Channels.foreach(ch => bucketRef(ch) = bf.buckets(ch))
  }

  private def target(spark: SparkSession): DataFrame =
    area.grid(spark, withLonLat = true).select(col("cell").as("dst_id"), col("lon"), col("lat"))

  private def srcData(ch: String): DataFrame = src.select(col("src_id"), col(ch).as("value"))

  // ----------------------------------------------------------- checks

  private def checkNearest(img: Map[Long, java.lang.Double], value: Int => java.lang.Double): Option[String] = {
    val eps = 1e-9 * radius * radius
    sample.iterator.flatMap { cell =>
      val near = bf.within(cell)
      val got = img.get(cell)
      if (near.isEmpty) got.map(v => s"nearest: cell $cell has $v but no source within radius")
      else got match {
        case None => Some(s"nearest: cell $cell missing")
        case Some(v) =>
          val ok = near.takeWhile(_._1 <= near.head._1 + eps).exists { case (_, i) =>
            val e = value(i)
            (e == null && v == null) || (e != null && v != null && Swath.relClose(e, v, 1e-12))
          }
          if (ok) None else Some(s"nearest: cell $cell got $v")
      }
    }.toSeq.headOption
  }

  private def checkGauss(img: Map[Long, java.lang.Double], ch: String): Option[String] = {
    val sigma = radius / 2
    sample.iterator.flatMap { cell =>
      val near = bf.within(cell).take(8)
      val got = img.get(cell)
      if (near.isEmpty) got.map(v => s"gauss: cell $cell has $v but no source within radius")
      else {
        val ws = near.map { case (d2, _) => math.exp(-d2 / (sigma * sigma)) }
        val vs = near.map { case (_, i) => bf.value(ch, i) }
        val num = ws.zip(vs).collect { case (w, v) if v != null => w * v.doubleValue }
        val expect = if (num.isEmpty) Double.NaN else num.sum / ws.sum
        got match {
          case None => Some(s"gauss: cell $cell missing")
          case Some(v) if num.isEmpty && v == null => None
          case Some(v) if v != null && Swath.relClose(v, expect, 1e-9) => None
          case Some(v) => Some(s"gauss: cell $cell got $v expected $expect")
        }
      }
    }.toSeq.headOption
  }

  /** Bilinear weights are a convex blend of four corners: on the affine
    * `smooth` channel the result must equal the field at the cell centre;
    * on `noise` it must lie within the values around the cell. */
  private def checkBilinear(img: Map[Long, java.lang.Double], ch: String): Option[String] = {
    val nonNull = img.values.count(v => v != null && !v.isNaN)
    val inReach = sample.count(c => bf.within(c).nonEmpty)
    if (nonNull < inReach / 2) return Some(s"bilinear: only $nonNull of $inReach sampled cells have values")
    img.iterator.flatMap { case (cell, v) =>
      if (v == null || v.isNaN) None
      else if (ch == "smooth") {
        val r = (cell / area.width).toInt; val c = (cell % area.width).toInt
        val expect = g.ax * area.projX(c) + g.ay * area.projY(r) + g.a0
        if (math.abs(v - expect) <= 1e-6 * math.abs(expect)) None
        else Some(s"bilinear: cell $cell got $v expected $expect")
      } else {
        val near = bf.within(cell).map { case (_, i) => bf.value(ch, i) }.filter(_ != null).map(_.doubleValue)
        if (near.nonEmpty && v >= near.min - 1e-9 && v <= near.max + 1e-9) None
        else Some(s"bilinear: cell $cell value $v outside its neighbours' range")
      }
    }.toSeq.headOption
  }

  private def checkBucket(img: Map[Long, java.lang.Double], ch: String, counted: Long): Option[String] = {
    val (ref, inArea) = bucketRef(ch)
    if (counted != inArea) return Some(s"bucket: counts sum to $counted, $inArea points are in the area")
    sample.iterator.flatMap { cell =>
      (ref.get(cell), img.get(cell)) match {
        case (None, None) => None
        case (Some((_, 0L)), Some(v)) if v == null || v.isNaN => None
        case (Some((s, n)), Some(v)) if v != null && n > 0 && Swath.relClose(v, s / n, 1e-9) => None
        case (r, v) => Some(s"bucket: cell $cell got $v expected $r")
      }
    }.toSeq.headOption
  }

  private def checkEwa(img: Map[Long, java.lang.Double], rowsOut: Long, ch: String): Option[String] = {
    val valid = (0 until g.n).map(i => bf.value(ch, i)).filter(v => v != null && !v.isNaN).map(_.doubleValue)
    val (lo, hi) = (valid.min, valid.max)
    val inReach = bucketRef(ch)._1.size
    if (rowsOut < inReach / 2) Some(s"ewa: $rowsOut cells for $inReach covered cells")
    else img.collectFirst { case (cell, v) if v != null && (v < lo - 1e-9 || v > hi + 1e-9) =>
      s"ewa: cell $cell value $v outside [$lo, $hi]" }
  }

  // ----------------------------------------------------------- rounds

  def round(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val n = g.n.toLong
    val dir = s"$workDir/index-cache/r$rounds"
    def nearest = new NearestResampler(src, target(spark), radius, Some(dir), "granule")
    def bilinear = new BilinearResampler(src, area, radius, Some(dir))
    ctx.op("index.write", "index", 0) {
      ctx.span("operators.nearest.precompute")(nearest.precompute())
      ctx.span("operators.bilinear.precompute")(bilinear.precompute())
      ctx.count("index.write_bytes", indexBytes(dir).toDouble)
      () => None
    }
    for (ch <- Swath.Channels) {
      ctx.op("nearest.compute", "nearest", n) {
        val (img, _) = ctx.span("operators.nearest.compute")(Swath.image(nearest.compute(srcData(ch)), sample))
        () => checkNearest(img, i => bf.value(ch, i))
      }
      ctx.op("bilinear.compute", "bilinear", n) {
        val (img, _) = ctx.span("operators.bilinear.compute")(Swath.image(bilinear.compute(srcData(ch)), sample))
        () => checkBilinear(img, ch)
      }
    }
    val ch = Swath.Channels(rounds % Swath.Channels.size)
    ctx.op("gauss", "gauss", n) {
      val (img, cells) = ctx.span("operators.gauss")(Swath.image(
        ResamplerRegistry.get("gauss")(src, target(spark), radius).compute(srcData(ch), "value"), sample))
      ctx.count("knn.result_cells", cells.toDouble)
      () => checkGauss(img, ch)
    }
    ctx.op("bucket.average", "bucket", n) {
      val b = BucketResampler(area)
      val (img, _) = ctx.span("operators.bucket.average")(Swath.image(
        b.average(src, ch).select("cell", "avg"), sample))
      () => checkBucket(img, ch, b.count(src).agg(sum("n")).head().getLong(0))
    }
    ctx.op("ewa.resample", "ewa", n) {
      val (img, rowsOut) = ctx.span("operators.ewa.resample")(Swath.image(
        EwaResample.resample(src.select("y", "x", "lon", "lat", ch), area, 0, ch), sample))
      () => checkEwa(img, rowsOut, ch)
    }
    rounds += 1
  }

  /** Bytes of the parquet index files under `dir`. */
  private def indexBytes(dir: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(size).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    size(new java.io.File(dir))
  }
}
