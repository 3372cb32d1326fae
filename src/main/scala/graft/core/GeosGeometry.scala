package graft.core

/** Geostationary disk geometry — the Spark-native home of
  * `pyresample/geometry.py:2793-2877` (get_geostationary_angle_extent /
  * get_*_bounding_box_*). All of this is driver-side metadata math: it
  * produces polygons that become pushed-down predicates and index slices,
  * never a data-plane operation.
  */
object GeosGeometry {

  def isGeostationary(crs: Crs): Boolean = crs.params.get("proj").contains("geos")

  private def heightOf(crs: Crs): Double =
    crs.params.get("h").map(_.toDouble).getOrElse(35785831.0)

  /** Max earth-vs-space viewing angles in x and y (radians) —
    * `get_geostationary_angle_extent` (`geometry.py:2793-2808`). */
  def angleExtent(crs: Crs): (Double, Double) = {
    val ell = crs.proj.ell
    val req = ell.a / 1000.0
    val rp = ell.b / 1000.0
    val h = heightOf(crs) / 1000.0 + req
    val aeq = 1 - req * req / (h * h)
    val ap = 1 - rp * rp / (h * h)
    (math.acos(math.sqrt(aeq)), math.acos(math.sqrt(ap)))
  }

  /** Full-disk boundary in geos projection coordinates, slightly shrunk to
    * stay strictly on-earth — `get_full_geostationary_bounding_box_in_proj_
    * coords` (`geometry.py:2833-2851`). Counter-clockwise in proj space. */
  def fullDiskBoundary(crs: Crs, nbPoints: Int = 50): Seq[(Double, Double)] = {
    val (xa, ya) = angleExtent(crs)
    val h = heightOf(crs)
    (0 until nbPoints).map { i =>
      val t = -math.Pi + 2 * math.Pi * i / nbPoints // linspace, endpoint=False
      (math.cos(t) * (xa - 0.0001) * h, -math.sin(t) * (ya - 0.0001) * h)
    }
  }

  /** Sutherland–Hodgman clip of `subject` by a CONVEX polygon `clip`
    * (any orientation; any subject shape). Planar, driver-side. */
  def clipPolygon(
      subject: Seq[(Double, Double)],
      clip: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    if (subject.isEmpty || clip.size < 3) return Seq.empty
    // orient the clip polygon counter-clockwise so "inside" = left of edge
    val signedArea = clip.indices.map { i =>
      val (x1, y1) = clip(i); val (x2, y2) = clip((i + 1) % clip.size)
      x1 * y2 - x2 * y1
    }.sum
    val ccw = if (signedArea >= 0) clip else clip.reverse
    var out = subject
    var i = 0
    while (i < ccw.size && out.nonEmpty) {
      val (ax, ay) = ccw(i)
      val (bx, by) = ccw((i + 1) % ccw.size)
      def inside(p: (Double, Double)): Boolean =
        (bx - ax) * (p._2 - ay) - (by - ay) * (p._1 - ax) >= 0
      def intersect(p: (Double, Double), q: (Double, Double)): (Double, Double) = {
        val dx = q._1 - p._1; val dy = q._2 - p._2
        // solve cross(b-a, p + t*d - a) = 0 for t
        val denom = (bx - ax) * dy - (by - ay) * dx
        if (denom == 0.0) {
          // subject edge collinear/parallel with the clip edge: there is no
          // single crossing point — fall back to the endpoint on the inside
          // so no NaN vertex is fabricated
          if (inside(q)) q else p
        } else {
          val t = ((bx - ax) * (ay - p._2) - (by - ay) * (ax - p._1)) / denom
          (p._1 + t * dx, p._2 + t * dy)
        }
      }
      val in = out
      out = in.indices.flatMap { j =>
        val cur = in(j); val prev = in((j + in.size - 1) % in.size)
        (inside(prev), inside(cur)) match {
          case (true, true)   => Seq(cur)
          case (true, false)  => Seq(intersect(prev, cur))
          case (false, true)  => Seq(intersect(prev, cur), cur)
          case (false, false) => Seq.empty
        }
      }
      i += 1
    }
    out.filter(p => java.lang.Double.isFinite(p._1) && java.lang.Double.isFinite(p._2))
  }

  /** Re-sample a polygon outline to ~`targetPoints` vertices spread by
    * perimeter length (linear interpolation along each edge in proj space).
    * A Sutherland–Hodgman clip of a sub-disk extent degenerates to the few
    * rectangle corners; without re-densifying, lon/lat extrema that occur
    * mid-edge (e.g. the min latitude at the bottom-edge centre of a
    * northern-hemisphere cut-out) are missed by every boundary consumer.
    * Existing vertices are always kept, so a clipped full-disk outline
    * (already ~targetPoints dense) passes through unchanged. */
  def densify(poly: Seq[(Double, Double)], targetPoints: Int): Seq[(Double, Double)] = {
    if (poly.size < 2) return poly
    val edges = poly.indices.map { i =>
      val p = poly(i); val q = poly((i + 1) % poly.size)
      (p, q, math.hypot(q._1 - p._1, q._2 - p._2))
    }
    val perimeter = edges.map(_._3).sum
    if (perimeter == 0.0) return poly
    edges.flatMap { case (p, q, len) =>
      val segs = math.max(1, math.round(targetPoints * len / perimeter).toInt)
      (0 until segs).map { j =>
        val t = j.toDouble / segs
        (p._1 + (q._1 - p._1) * t, p._2 + (q._2 - p._2) * t)
      }
    }
  }

  /** Disk boundary clipped to the area's extent rectangle —
    * `get_geostationary_bounding_box_in_proj_coords` (`:2811-2830`).
    * Empty when the extent is entirely off-disk. */
  def diskPolygonInExtent(area: AreaDef, nbPoints: Int = 50): Seq[(Double, Double)] = {
    val disk = fullDiskBoundary(area.crs, nbPoints)
    val rect = Seq(
      (area.xLL, area.yLL), (area.xUR, area.yLL),
      (area.xUR, area.yUR), (area.xLL, area.yUR))
    // re-densify after clipping: a sub-disk extent clips to ~4 rectangle
    // corners, and every consumer (lonLatBBox, boundaryPolygon, cropAround)
    // needs edge-sampled vertices to see mid-edge lon/lat extrema
    densify(clipPolygon(disk, rect), nbPoints)
  }
}
