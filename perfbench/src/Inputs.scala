package perfbench

import scala.util.Random

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Polygon}
import org.locationtech.jts.triangulate.VoronoiDiagramBuilder

import graft.geom.Projections
import graft.sources.ZonalFixture

/** Seeded request generator. Shapes are drawn in the catalog's
  * ConusAlbers grid and sent in LatLng, so every request pays the
  * service's reprojection like a Model My Watershed caller does.
  */
object Inputs {
  /** The sf0.1 fixture: 6×4 tiles of 512². */
  val spec: ZonalFixture.Spec = ZonalFixture.Spec(6, 4, 512)
  val layout: graft.raster.Layout = ZonalFixture.metas(spec).head.layout
  val width: Int = spec.layoutCols * spec.tileSize
  val height: Int = spec.layoutRows * spec.tileSize

  val RunOps: IndexedSeq[String] = IndexedSeq("RasterGroupedCount", "RasterGroupedCountMany",
    "RasterGroupedAverage", "RasterSummary", "RasterLinesJoin")

  /** Shapes in the /multi batch, as in the reference's subbasin request. */
  val MultiShapes = 61

  private val gf = new GeometryFactory()

  private def lonLat(c: Coordinate): String = {
    val (lon, lat) = Projections.ConusAlbers.inverse(c.x, c.y)
    s"[$lon,$lat]"
  }
  private def path(cs: Seq[Coordinate]): String = cs.map(lonLat).mkString("[", ",", "]")
  private def polygonJson(ring: Seq[Coordinate]): String =
    s"""{"type":"Polygon","coordinates":[${path(ring :+ ring.head)}]}"""
  private def linesJson(lines: Seq[Seq[Coordinate]]): String =
    s"""{"type":"MultiLineString","coordinates":${lines.map(path).mkString("[", ",", "]")}}"""

  private def strs(xs: Seq[String]): JValue = JArray(xs.map(JString(_)).toList)

  /** A star-shaped HUC-12-class polygon of about `area` cells. */
  private def star(rnd: Random, cx: Double, cy: Double, area: Double): IndexedSeq[Coordinate] = {
    val n = 24 + rnd.nextInt(25)
    val r = math.sqrt(area / (math.Pi * 1.02))
    val phase = rnd.nextDouble() * 2 * math.Pi
    (0 until n).map { i =>
      val a = phase + 2 * math.Pi * (i + 0.8 * rnd.nextDouble()) / n
      val ri = r * (0.75 + 0.5 * rnd.nextDouble())
      new Coordinate(cx + ri * math.cos(a), cy + ri * math.sin(a))
    }
  }

  /** `POST /run` request `i` of the stream for `seed`: (operation, body).
    * `op` forces the operation (warm-up covers every operation).
    */
  def runRequest(seed: Long, i: Int, op: Option[String] = None): (String, String) = {
    val rnd = new Random(seed * 1000003L + i)
    // each block of five requests is a seeded order of the five
    // operations, so every run sees the same operation mix
    val block = new Random(seed * 1000003L - i / RunOps.size).shuffle(RunOps)
    val operation = op.getOrElse(block(i % RunOps.size))
    // size and place (anywhere, so some AOIs straddle tile edges) come
    // from a Weyl sequence with a seeded offset: every seed spreads its
    // requests evenly over sizes and positions, so seeds differ in the
    // shapes drawn but not in how much work the stream asks for
    val off = new Random(seed)
    val u = Seq(0.6180339887498949, 0.4142135623730950, 0.7320508075688772).map { a =>
      val x = i * a + off.nextDouble()
      x - math.floor(x)
    }
    val area = 100000 + 100000 * u(0)
    val margin = math.sqrt(area / math.Pi) * 1.3 + 4
    val cx = margin + u(1) * (width - 2 * margin)
    val cy = margin + u(2) * (height - 2 * margin)
    val ring = star(rnd, cx, cy, area)
    val polygons = operation match {
      case "RasterGroupedCountMany" =>
        // three wedges that tile the star
        val cuts = Seq(0, ring.size / 3, 2 * ring.size / 3, ring.size)
        cuts.sliding(2).map { case Seq(a, b) =>
          polygonJson(new Coordinate(cx, cy) +: (a to b).map(j => ring(j % ring.size)))
        }.toList
      case _ => List(polygonJson(ring))
    }
    val group = if (rnd.nextBoolean()) "nlcd" else "soil"
    val rasters = operation match {
      case "RasterGroupedCount" => Seq("nlcd", "soil")
      case "RasterSummary" => Seq("nlcd", "soil", "slope")
      case _ => Seq(group)
    }
    val r = math.sqrt(area / math.Pi)
    val stream = (0 to 10).map { k =>
      new Coordinate(cx - 1.2 * r + 2.4 * r * k / 10,
        cy + 0.6 * r * math.sin(k * 0.9 + rnd.nextDouble()))
    }
    val fields = List[JField](
      "operationType" -> JString(operation),
      "rasters" -> strs(rasters),
      "polygonCRS" -> JString("LatLng"),
      "rasterCRS" -> JString("ConusAlbers"),
      "polygon" -> strs(polygons)) ++
      (if (operation == "RasterGroupedAverage") List[JField]("targetRaster" -> JString("slope")) else Nil) ++
      (if (operation == "RasterLinesJoin")
        List[JField]("vectorCRS" -> JString("LatLng"), "vector" -> strs(Seq(linesJson(Seq(stream)))))
      else Nil)
    operation -> JsonMethods.compact(JsonMethods.render(JObject("input" -> JObject(fields))))
  }

  /** The `POST /multi` batch for `seed`: [[MultiShapes]] Voronoi cells
    * tiling the HUC-8-class octagon, seven operations, one stream network.
    */
  def multiRequest(seed: Long): String = {
    val rnd = new Random(seed)
    val octagon = ZonalFixture.aoi(spec).getGeometryN(0).asInstanceOf[Polygon]
    val env = octagon.getEnvelopeInternal
    // Poisson-disk-like sites: HUC-12s are of similar size
    val minGap = 0.6 * math.sqrt(octagon.getArea / MultiShapes)
    val sites = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
    while (sites.size < MultiShapes) {
      val c = new Coordinate(env.getMinX + rnd.nextDouble() * env.getWidth,
        env.getMinY + rnd.nextDouble() * env.getHeight)
      if (octagon.contains(gf.createPoint(c)) && sites.forall(_.distance(c) >= minGap)) sites += c
    }
    val vb = new VoronoiDiagramBuilder()
    vb.setSites(java.util.Arrays.asList(sites.toSeq: _*))
    vb.setClipEnvelope(env)
    val cells = vb.getDiagram(gf)
    val shapes = (0 until cells.getNumGeometries).map { k =>
      val cell = cells.getGeometryN(k).intersection(octagon).asInstanceOf[Polygon]
      JObject("id" -> JString(f"HUC12-$k%02d"),
        "shape" -> JString(polygonJson(cell.getExteriorRing.getCoordinates.toSeq.init)))
    }
    val amp = 0.25 + 0.15 * rnd.nextDouble()
    val freq = 0.5 + 0.4 * rnd.nextDouble()
    val phase = rnd.nextDouble() * 2 * math.Pi
    val stem = (0 to 40).map(i => new Coordinate(width * i / 40.0,
      height * (0.5 + amp * math.sin(i * freq + phase))))
    val tributaries = (0 until 3).map { _ =>
      val to = stem(5 + rnd.nextInt(30))
      val from = new Coordinate(rnd.nextDouble() * width, rnd.nextDouble() * height)
      (0 to 8).map(k => new Coordinate(from.x + (to.x - from.x) * k / 8 + (if (k % 2 == 1) 20.0 else 0.0),
        from.y + (to.y - from.y) * k / 8))
    }
    def op(name: String, label: String, rasters: Seq[String], target: Option[String] = None) =
      JObject(List[JField]("name" -> JString(name), "label" -> JString(label), "rasters" -> strs(rasters)) ++
        target.map(t => ("targetRaster", JString(t): JValue)).toList)
    val ops = List(
      op("RasterGroupedCount", "nlcd", Seq("nlcd")),
      op("RasterGroupedCount", "soil", Seq("soil")),
      op("RasterGroupedCount", "nlcd_soil", Seq("nlcd", "soil")),
      op("RasterGroupedAverage", "slope_by_nlcd", Seq("nlcd"), Some("slope")),
      op("RasterGroupedAverage", "slope_by_soil", Seq("soil"), Some("slope")),
      op("RasterGroupedAverage", "slope", Nil, Some("slope")),
      op("RasterLinesJoin", "streams_nlcd", Seq("nlcd")))
    JsonMethods.compact(JsonMethods.render(JObject(
      "shapes" -> JArray(shapes.toList),
      "streamLines" -> strs(Seq(linesJson(stem +: tributaries))),
      "operations" -> JArray(ops))))
  }
}
