package graft.functions

import graft.core.{AreaDef, Crs, Ellipsoid}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar function surface (SURVEY §2.8). Everything here except the
  * projection UDFs is pure `org.apache.spark.sql.functions` arithmetic, so
  * it stays inside whole-stage codegen — the Spark analog of the reference's
  * vectorized numpy kernels.
  */
object GeoFunctions {

  /** Mean earth radius used for geocentric XYZ — matches
    * `pyresample/_spatial_mp.py:149` (R = 6370997 m). */
  val EarthRadius: Double = Ellipsoid.R

  /** lon/lat (deg) -> geocentric unit-sphere XYZ scaled by R
    * (`pyresample/_spatial_mp.py:149-173`). Codegen'd trig columns. */
  def lonlat2x(lon: Column, lat: Column, r: Double = EarthRadius): Column =
    cos(radians(lat)) * cos(radians(lon)) * lit(r)
  def lonlat2y(lon: Column, lat: Column, r: Double = EarthRadius): Column =
    cos(radians(lat)) * sin(radians(lon)) * lit(r)
  def lonlat2z(lat: Column, r: Double = EarthRadius): Column =
    sin(radians(lat)) * lit(r)

  /** Haversine great-circle distance in metres (`pyresample/spherical.py:57-98`). */
  def haversine(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
      r: Double = EarthRadius): Column = {
    val dLat = radians(lat2) - radians(lat1)
    val dLon = radians(lon2) - radians(lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2.0 * r) * asin(least(lit(1.0), sqrt(a)))
  }

  /** Normalize longitudes to [-180, 180) — `pyresample/utils/__init__.py:186`.
    * floor-based so the identical SQL reproduces bit-equal in any engine. */
  def wrapLon(lon: Column): Column =
    lon - lit(360.0) * floor((lon + lit(180.0)) / lit(360.0))

  /** Legal-coordinate predicate (`pyresample/kd_tree.py:406`). */
  def legalLonLat(lon: Column, lat: Column): Column =
    lon.between(-180.0, 180.0) && lat.between(-90.0, 90.0)

  /** FWHM -> Gaussian sigma (`pyresample/utils/__init__.py:161`). */
  def fwhm2sigma(fwhm: Double): Double = fwhm / (2 * math.sqrt(math.log(2)))

  // ------------------------------------------------ area cell arithmetic

  /** Fractional column of projected x in an area (`ewa/_ll2cr.pyx:255`). */
  def fracCol(area: AreaDef, projX: Column): Column =
    (projX - lit(area.xLL)) / lit(area.pixelSizeX)
  /** Fractional row (row 0 at top). */
  def fracRow(area: AreaDef, projY: Column): Column =
    (lit(area.yUR) - projY) / lit(area.pixelSizeY)

  /** Integer cell column/row via floor (exact double arithmetic —
    * `pyresample/bucket/__init__.py:168-203`). */
  def colIdx(area: AreaDef, projX: Column): Column = floor(fracCol(area, projX)).cast("long")
  def rowIdx(area: AreaDef, projY: Column): Column = floor(fracRow(area, projY)).cast("long")

  /** Flat cell id (row*width+col), -1 when outside the grid — the exact
    * semantics of `bucket/__init__.py:192-203` (out-of-grid -> masked). */
  def cellIndex(area: AreaDef, projX: Column, projY: Column): Column = {
    val c = colIdx(area, projX)
    val r = rowIdx(area, projY)
    when(c >= 0 && c < area.width && r >= 0 && r < area.height, r * area.width + c)
      .otherwise(lit(-1L))
  }

  /** Forward projection: adds `proj_x`, `proj_y` columns from lon/lat.
    * Identity for lonlat CRS; a native codegen Expression otherwise. */
  def withProjected(df: org.apache.spark.sql.DataFrame, crs: Crs,
      lonCol: String = "lon", latCol: String = "lat"): org.apache.spark.sql.DataFrame = {
    if (crs.isLonLat)
      df.withColumn("proj_x", col(lonCol)).withColumn("proj_y", col(latCol))
    else
      df.withColumn("_xy", ProjectExpr.projectFwd(crs, col(lonCol), col(latCol)))
        .withColumn("proj_x", col("_xy.x"))
        .withColumn("proj_y", col("_xy.y"))
        .drop("_xy")
  }

  // --------------------------------------------------- embedding algebra

  /** Dot product of two Array[Float/Double] columns — native codegen
    * kernel ([[VectorExpr]]); same deterministic left-to-right element
    * order as the `aggregate`+`zip_with` fold it replaces. */
  def dotProduct(a: Column, b: Column): Column = VectorExpr.dot(a, b)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity — fused native kernel, bit-identical to
    * `dotProduct(a,b) / (l2Norm(a) * l2Norm(b))`. */
  def cosineSimilarity(a: Column, b: Column): Column = VectorExpr.cosine(a, b)
}
