package graft.core

import scala.collection.mutable

/** Area registry loading — the Spark-engine equivalent of
  * `pyresample/area_config.py` (load_area `:69`, parse_area_file `:128`,
  * load_area_from_string `:100`, legacy cfg `:298-383`,
  * create_area_def `:426-549`). Offline constraint: no YAML library, so a
  * minimal indentation+flow-style parser sufficient for the areas.yaml
  * grammar (`pyresample/test/test_files/areas.yaml`) is included.
  */
object AreaConfig {

  // ---------------------------------------------------------------- YAML

  sealed trait Node
  final case class Scalar(v: String) extends Node
  final case class Seq_(items: List[Node]) extends Node
  final case class Map_(items: List[(String, Node)]) extends Node {
    def get(k: String): Option[Node] = items.collectFirst { case (`k`, n) => n }
  }

  /** Parse the YAML subset used by area files: nested block maps, block
    * sequences ("- x"), and flow collections ({...}, [...]). */
  def parseYaml(text: String): Map_ = {
    val lines = text
      .split("\n")
      .map(l => l.replaceAll("#.*$", "")) // strip comments
      .filter(_.trim.nonEmpty)
      .toList
    val (node, rest) = parseBlockMap(lines, indentOf(lines.headOption.getOrElse("")))
    require(rest.isEmpty, s"trailing yaml: ${rest.take(2)}")
    node
  }

  private def indentOf(l: String): Int = l.takeWhile(_ == ' ').length

  private def parseBlockMap(lines: List[String], indent: Int): (Map_, List[String]) = {
    val items = mutable.ListBuffer.empty[(String, Node)]
    var rest = lines
    while (rest.nonEmpty && indentOf(rest.head) == indent && !rest.head.trim.startsWith("- ")) {
      val line = rest.head.trim
      val ci = splitKey(line)
      val key = unquote(line.substring(0, ci).trim)
      val after = line.substring(ci + 1).trim
      rest = rest.tail
      if (after.nonEmpty) {
        items += key -> parseFlow(after)
      } else {
        // nested block (map or seq) or empty value
        if (rest.nonEmpty && indentOf(rest.head) > indent) {
          val childIndent = indentOf(rest.head)
          if (rest.head.trim.startsWith("- ")) {
            val (seq, r2) = parseBlockSeq(rest, childIndent)
            items += key -> seq; rest = r2
          } else {
            val (m, r2) = parseBlockMap(rest, childIndent)
            items += key -> m; rest = r2
          }
        } else items += key -> Scalar("")
      }
    }
    (Map_(items.toList), rest)
  }

  private def parseBlockSeq(lines: List[String], indent: Int): (Seq_, List[String]) = {
    val items = mutable.ListBuffer.empty[Node]
    var rest = lines
    while (rest.nonEmpty && indentOf(rest.head) == indent && rest.head.trim.startsWith("- ")) {
      val v = rest.head.trim.drop(2).trim
      items += parseFlow(v)
      rest = rest.tail
    }
    (Seq_(items.toList), rest)
  }

  /** Index of the key-terminating ':' at top nesting level of a line. */
  private def splitKey(line: String): Int = {
    var depth = 0; var i = 0
    while (i < line.length) {
      line(i) match {
        case '{' | '[' => depth += 1
        case '}' | ']' => depth -= 1
        case ':' if depth == 0 =>
          if (i + 1 >= line.length || line(i + 1) == ' ') return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"no key in yaml line: $line")
  }

  /** Flow-style value: {k: v, ...}, [a, b], or scalar. */
  def parseFlow(s0: String): Node = {
    val s = s0.trim
    if (s.startsWith("{")) {
      val inner = s.stripPrefix("{").stripSuffix("}")
      Map_(topLevelSplit(inner).filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf(':')
        unquote(kv.substring(0, i).trim) -> parseFlow(kv.substring(i + 1))
      })
    } else if (s.startsWith("[")) {
      val inner = s.stripPrefix("[").stripSuffix("]")
      Seq_(topLevelSplit(inner).filter(_.nonEmpty).map(parseFlow))
    } else Scalar(unquote(s))
  }

  private def topLevelSplit(s: String): List[String] = {
    val out = mutable.ListBuffer.empty[String]
    var depth = 0; val cur = new StringBuilder
    s.foreach {
      case c @ ('{' | '[') => depth += 1; cur += c
      case c @ ('}' | ']') => depth -= 1; cur += c
      case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) out += cur.toString.trim
    out.toList
  }

  private def unquote(s: String): String =
    if ((s.startsWith("\"") && s.endsWith("\"")) || (s.startsWith("'") && s.endsWith("'")))
      s.substring(1, s.length - 1)
    else s

  // ------------------------------------------------------- area building

  /** load_area_from_string (`area_config.py:100`): parse every area in a
    * YAML document; optionally select named regions. */
  def loadFromString(yaml: String, regions: String*): Seq[AreaDef] = {
    val root = parseYaml(yaml)
    val wanted =
      if (regions.isEmpty) root.items.map(_._1)
      else {
        val missing = regions.filterNot(r => root.items.exists(_._1 == r))
        require(missing.isEmpty, s"areas not found: ${missing.mkString(",")}")
        regions.toList
      }
    wanted.map { name =>
      root.get(name) match {
        case Some(m: Map_) => areaFromYamlMap(name, m)
        case other         => throw new IllegalArgumentException(s"bad area node $name: $other")
      }
    }
  }

  private def num(n: Node): Double = n match {
    case Scalar(v) => v.toDouble
    case other     => throw new IllegalArgumentException(s"expected number, got $other")
  }

  private def pair(n: Node): (Double, Double) = n match {
    case Seq_(List(a, b)) => (num(a), num(b))
    case other            => throw new IllegalArgumentException(s"expected 2-list, got $other")
  }

  def areaFromYamlMap(name: String, m: Map_): AreaDef = {
    val projNode = m.get("projection").getOrElse(throw new IllegalArgumentException(s"$name: no projection"))
    val (crs, projUnitsDeg) = projNode match {
      case pm: Map_ =>
        val params = pm.items.map { case (k, v) => k -> (v match { case Scalar(s) => s; case o => o.toString }) }.toMap
        (Crs.fromParams(params), params.get("units").contains("degrees") || params.getOrElse("proj", "") == "longlat")
      case Scalar(s) if s.startsWith("+") => (Crs.fromProj4(s), s.contains("+proj=longlat"))
      case Scalar(s) => (Crs.fromProj4("+init-like " + s), false) // EPSG strings unsupported offline
      case other => throw new IllegalArgumentException(s"$name: bad projection $other")
    }
    // shape: [h, w] | {height:, width:} ; or width:/height: at top level
    val shape: Option[(Int, Int)] = m.get("shape") match {
      case Some(Seq_(List(h, w))) => Some((num(h).toInt, num(w).toInt))
      case Some(mm: Map_) => Some((num(mm.get("height").get).toInt, num(mm.get("width").get).toInt))
      case _ =>
        (m.get("height"), m.get("width")) match {
          case (Some(h), Some(w)) => Some((num(h).toInt, num(w).toInt))
          case _ => None
        }
    }
    def xy(n: Node, kx: String = "x", ky: String = "y"): (Double, Double) = n match {
      case s: Seq_ => pair(s)
      case mm: Map_ =>
        val u = mm.get("units").map { case Scalar(s) => s; case _ => "" }
        val vx = num(mm.get(kx).get); val vy = num(mm.get(ky).get)
        if (u.exists(_.startsWith("deg")) && !crs.isLonLat) crs.forward(vx, vy) else (vx, vy)
      case other => throw new IllegalArgumentException(s"bad xy node $other")
    }
    val extent: Option[(Double, Double, Double, Double)] = m.get("area_extent").map {
      case Seq_(List(a, b, c, d)) => (num(a), num(b), num(c), num(d))
      case mm: Map_ =>
        val (xll, yll) = xy(mm.get("lower_left_xy").get)
        val (xur, yur) = xy(mm.get("upper_right_xy").get)
        (xll, yll, xur, yur)
      case other => throw new IllegalArgumentException(s"bad extent $other")
    }
    val resolution: Option[(Double, Double)] = m.get("resolution").map {
      case s: Seq_ => pair(s) // (dx, dy)
      case Scalar(v) => (v.toDouble, v.toDouble)
      case mm: Map_ => (num(mm.get("dx").get), num(mm.get("dy").get))
    }
    val upperLeft: Option[(Double, Double)] = m.get("upper_left_extent").map(xy(_))
    val center: Option[(Double, Double)] = m.get("center").map(xy(_))
    val radius: Option[(Double, Double)] = m.get("radius").map {
      case s: Seq_ => pair(s)
      case Scalar(v) => (v.toDouble, v.toDouble)
      case mm: Map_ => (num(mm.get("dx").get), num(mm.get("dy").get))
    }
    createAreaDef(name, crs, shape, extent, resolution, upperLeft, center, radius)
  }

  /** create_area_def (`area_config.py:426-549`): derive the full
    * (shape, extent) from any sufficient parameter combination. */
  def createAreaDef(
      name: String,
      crs: Crs,
      shape: Option[(Int, Int)],
      extent: Option[(Double, Double, Double, Double)],
      resolution: Option[(Double, Double)] = None,
      upperLeft: Option[(Double, Double)] = None,
      center: Option[(Double, Double)] = None,
      radius: Option[(Double, Double)] = None): AreaDef = {

    (extent, shape, resolution, upperLeft, center, radius) match {
      case (Some((xll, yll, xur, yur)), Some((h, w)), _, _, _, _) =>
        AreaDef(name, crs, w, h, xll, yll, xur, yur)
      case (Some((xll, yll, xur, yur)), None, Some((dx, dy)), _, _, _) =>
        val w = math.round((xur - xll) / dx).toInt
        val h = math.round((yur - yll) / dy).toInt
        AreaDef(name, crs, w, h, xll, yll, xur, yur)
      case (None, Some((h, w)), Some((dx, dy)), Some((ulx, uly)), _, _) =>
        AreaDef(name, crs, w, h, ulx, uly - h * dy, ulx + w * dx, uly)
      case (None, Some((h, w)), Some((dx, dy)), None, Some((cx, cy)), _) =>
        AreaDef(name, crs, w, h, cx - w * dx / 2, cy - h * dy / 2, cx + w * dx / 2, cy + h * dy / 2)
      case (None, _, _, _, Some((cx, cy)), Some((rx, ry))) =>
        val (h, w) = shape.getOrElse {
          val (dx, dy) = resolution.getOrElse(
            throw new IllegalArgumentException(s"$name: need shape or resolution with radius"))
          (math.round(2 * ry / dy).toInt, math.round(2 * rx / dx).toInt)
        }
        AreaDef(name, crs, w, h, cx - rx, cy - ry, cx + rx, cy + ry)
      case (None, Some((h, w)), None, Some((ulx, uly)), _, Some((rx, ry))) =>
        AreaDef(name, crs, w, h, ulx, uly - 2 * ry, ulx + 2 * rx, uly)
      case _ =>
        throw new IllegalArgumentException(
          s"$name: insufficient parameters (a DynamicAreaDefinition — freeze against data first)")
    }
  }

  /** Legacy .cfg format (`area_config.py:298-383`):
    * REGION: id { NAME: .. PCS_DEF: proj=..,lat_0=.. XSIZE: n ...  AREA_EXTENT: (..) };
    */
  def parseLegacy(text: String, regions: String*): Seq[AreaDef] = {
    val regionRe = "(?s)REGION:\\s*(\\S+)\\s*\\{(.*?)\\};".r
    val all = regionRe.findAllMatchIn(text).map { mt =>
      val id = mt.group(1)
      val body = mt.group(2)
      def field(k: String): Option[String] =
        s"$k:\\s*([^\\n]+)".r.findFirstMatchIn(body).map(_.group(1).trim)
      val pcs = field("PCS_DEF").getOrElse(throw new IllegalArgumentException(s"$id: no PCS_DEF"))
      val params = pcs.split(",").map(_.trim.split("=", 2)).collect {
        case Array(k, v) => k.stripPrefix("+") -> v
        case Array(k)    => k.stripPrefix("+") -> "true"
      }.toMap
      val crs = Crs.fromParams(params)
      val w = field("XSIZE").get.toInt
      val h = field("YSIZE").get.toInt
      val ext = field("AREA_EXTENT").get.replaceAll("[()]", "").split(",").map(_.trim.toDouble)
      AreaDef(id, crs, w, h, ext(0), ext(1), ext(2), ext(3))
    }.toSeq
    if (regions.isEmpty) all else all.filter(a => regions.contains(a.id))
  }

  /** CF grid_mapping attributes -> proj parameter map (the CRS side of
    * `pyresample/utils/cf.py:89` — upstream delegates to pyproj's
    * `CRS.from_cf`; this maps the same CF attribute names onto this
    * engine's own projection surface). `num`/`str` look up numeric and
    * string attributes. Mappings whose projection the engine lacks
    * (e.g. transverse_mercator, sinusoidal) throw — the CRS layer has
    * no silent fallbacks. */
  def cfProjParams(
      gridMappingName: String,
      num: String => Option[Double],
      str: String => Option[String]): Map[String, String] = {
    def a(k: String, default: Double = 0.0): Double = num(k).getOrElse(default)
    val ellParams: Map[String, String] =
      (num("semi_major_axis"), num("semi_minor_axis"), num("earth_radius"),
        num("inverse_flattening")) match {
        case (_, _, Some(r), _) => Map("a" -> r.toString)
        case (Some(aa), Some(b), _, _) => Map("a" -> aa.toString, "b" -> b.toString)
        case (Some(aa), None, _, Some(rf)) =>
          Map("a" -> aa.toString, "b" -> (aa * (1.0 - 1.0 / rf)).toString)
        case (Some(aa), None, _, None) => Map("a" -> aa.toString)
        case _ => Map.empty
      }
    val projParams: Map[String, String] = gridMappingName match {
      case "latitude_longitude" => Map("proj" -> "longlat")
      case "lambert_azimuthal_equal_area" =>
        Map("proj" -> "laea",
          "lat_0" -> a("latitude_of_projection_origin").toString,
          "lon_0" -> a("longitude_of_projection_origin").toString)
      case "polar_stereographic" =>
        // CF allows EITHER standard_parallel OR
        // scale_factor_at_projection_origin as the scale definition
        val scale: Map[String, String] = num("standard_parallel") match {
          case Some(sp) => Map("lat_ts" -> sp.toString)
          case None => num("scale_factor_at_projection_origin") match {
            case Some(k) => Map("k_0" -> k.toString) // lat_ts defaults to the pole
            case None => Map("lat_ts" -> a("latitude_of_projection_origin", 90).toString)
          }
        }
        Map("proj" -> "stere",
          "lat_0" -> a("latitude_of_projection_origin", 90).toString,
          "lon_0" -> a("straight_vertical_longitude_from_pole").toString) ++ scale
      case "stereographic" =>
        Map("proj" -> "stere",
          "lat_0" -> a("latitude_of_projection_origin").toString,
          "lon_0" -> a("longitude_of_projection_origin").toString,
          "k_0" -> a("scale_factor_at_projection_origin", 1.0).toString)
      case "mercator" =>
        // CF allows EITHER standard_parallel OR
        // scale_factor_at_projection_origin (pyproj maps the latter to
        // k_0) — mirror the polar_stereographic either/or handling
        val scale: Map[String, String] = num("standard_parallel") match {
          case Some(sp) => Map("lat_ts" -> sp.toString)
          case None => num("scale_factor_at_projection_origin") match {
            case Some(k) => Map("k_0" -> k.toString)
            case None => Map("lat_ts" -> "0.0")
          }
        }
        Map("proj" -> "merc",
          "lon_0" -> a("longitude_of_projection_origin").toString) ++ scale
      case "azimuthal_equidistant" =>
        Map("proj" -> "aeqd",
          "lat_0" -> a("latitude_of_projection_origin").toString,
          "lon_0" -> a("longitude_of_projection_origin").toString)
      case "lambert_conformal_conic" =>
        val sp1 = a("standard_parallel", a("latitude_of_projection_origin"))
        Map("proj" -> "lcc",
          "lat_0" -> a("latitude_of_projection_origin").toString,
          "lon_0" -> a("longitude_of_central_meridian",
            a("longitude_of_projection_origin")).toString,
          "lat_1" -> sp1.toString,
          "lat_2" -> num("standard_parallel_2").getOrElse(sp1).toString)
      case "geostationary" =>
        Map("proj" -> "geos",
          "lon_0" -> a("longitude_of_projection_origin").toString,
          "h" -> a("perspective_point_height", 35785831.0).toString) ++
          (if (str("sweep_angle_axis").contains("x")) Map("sweep" -> "x") else Map.empty)
      case "transverse_mercator" =>
        Map("proj" -> "tmerc",
          "lat_0" -> a("latitude_of_projection_origin").toString,
          "lon_0" -> a("longitude_of_central_meridian").toString,
          "k_0" -> a("scale_factor_at_central_meridian", 1.0).toString)
      case "albers_conical_equal_area" =>
        val sp1 = a("standard_parallel", a("latitude_of_projection_origin"))
        Map("proj" -> "aea",
          "lat_0" -> a("latitude_of_projection_origin").toString,
          "lon_0" -> a("longitude_of_central_meridian").toString,
          "lat_1" -> sp1.toString,
          "lat_2" -> num("standard_parallel_2").getOrElse(sp1).toString)
      case "sinusoidal" =>
        Map("proj" -> "sinu",
          "lon_0" -> a("longitude_of_projection_origin").toString)
      case "orthographic" =>
        Map("proj" -> "ortho",
          "lat_0" -> a("latitude_of_projection_origin").toString,
          "lon_0" -> a("longitude_of_projection_origin").toString)
      case "vertical_perspective" =>
        Map("proj" -> "nsper",
          "lat_0" -> a("latitude_of_projection_origin").toString,
          "lon_0" -> a("longitude_of_projection_origin").toString,
          "h" -> a("perspective_point_height", 35785831.0).toString)
      case "rotated_latitude_longitude" =>
        // the pyproj CRS.from_cf mapping: ob_tran/longlat with the true
        // pole meridian at lon_0 = 180 + grid_north_pole_longitude
        Map("proj" -> "ob_tran", "o_proj" -> "longlat",
          "o_lat_p" -> a("grid_north_pole_latitude", 90.0).toString,
          "o_lon_p" -> a("north_pole_grid_longitude").toString,
          "lon_0" -> (180.0 + a("grid_north_pole_longitude")).toString)
      case "lambert_cylindrical_equal_area" =>
        // CF: standard_parallel OR scale_factor_at_projection_origin
        val scale: Map[String, String] = num("standard_parallel") match {
          case Some(sp) => Map("lat_ts" -> sp.toString)
          case None => num("scale_factor_at_projection_origin") match {
            case Some(k) => Map("k_0" -> k.toString)
            case None => Map("lat_ts" -> "0.0")
          }
        }
        Map("proj" -> "cea",
          "lon_0" -> a("longitude_of_central_meridian").toString) ++ scale
      case other =>
        throw new IllegalArgumentException(s"unsupported grid_mapping_name: $other")
    }
    // CF allows false_easting/false_northing on every projected mapping
    val feParams: Map[String, String] =
      if (gridMappingName == "latitude_longitude") Map.empty
      else Seq(num("false_easting").map("x_0" -> _.toString),
        num("false_northing").map("y_0" -> _.toString)).flatten.toMap
    projParams ++ feParams ++ ellParams
  }

  /** CF-conventions grid_mapping -> area (the attribute-inference semantics
    * of `pyresample/utils/cf.py:413` / `geometry.py:1936` without the
    * NetCDF IO, which is unavailable offline): `attrs` are the grid-mapping
    * variable's attributes; x/y are the projection coordinate first/last
    * values (metres or degrees per CF) and counts. */
  def fromCfGridMapping(
      name: String,
      attrs: Map[String, Double],
      gridMappingName: String,
      width: Int, height: Int,
      xFirst: Double, xLast: Double,
      yFirst: Double, yLast: Double): AreaDef = {
    val crs = Crs.fromParams(cfProjParams(gridMappingName,
      attrs.get(_),
      // legacy numeric encoding of the one string attr this surface took
      k => if (k == "sweep_angle_axis" && attrs.get("sweep_angle_axis_is_x").contains(1.0))
        Some("x") else None))
    // CF coordinates are cell centres: extend by half a pixel each side
    val dx = (xLast - xFirst) / (width - 1)
    val dy = (yFirst - yLast) / (height - 1) // y decreasing row-major
    AreaDef(name, crs,
      width, height,
      xFirst - dx / 2, yLast - dy / 2, xLast + dx / 2, yFirst + dy / 2)
  }

  /** GDAL/rasterio geotransform -> area — the semantics of
    * `pyresample/utils/rasterio.py:77` without the TIFF IO:
    * gt = (originX, pixelW, 0, originY, 0, -pixelH). */
  def fromGeoTransform(
      name: String, proj4: String, gt: Seq[Double], width: Int, height: Int): AreaDef = {
    require(gt.length == 6 && gt(2) == 0 && gt(4) == 0, "rotation terms unsupported")
    val xUL = gt(0); val dx = gt(1); val yUL = gt(3); val dy = -gt(5)
    AreaDef(name, Crs.fromProj4(proj4), width, height,
      xUL, yUL - height * dy, xUL + width * dx, yUL)
  }

  /** AreaDefinition.dump (`geometry.py:2045-2093`): serialize to YAML. */
  def toYaml(a: AreaDef): String = {
    val proj = a.crs.params.map { case (k, v) => s"$k: $v" }.mkString("{", ", ", "}")
    s"""${a.id}:
       |  description: ${a.id}
       |  projection: $proj
       |  shape: [${a.height}, ${a.width}]
       |  area_extent: [${a.xLL}, ${a.yLL}, ${a.xUR}, ${a.yUR}]
       |""".stripMargin
  }
}
