package perfbench

import scala.collection.parallel.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.locationtech.jts.geom.{Geometry, GeometryFactory, LineString, MultiLineString}

import graft.geom.{GeomOps, Projections}
import graft.raster.{NoData, RasterExtent, Rasterizer}
import graft.sources.ZonalFixture

/** Expected answers computed without Spark, `TileCatalog` or `Zonal`:
  * the fixture's value formulas read at the cells `Rasterizer` masks,
  * tile by tile over the tiles a read of the request's AOI returns.
  */
object Expected {
  import Inputs.layout

  /** Absolute tolerance on doubles, that of the reference's goldens. */
  val Tolerance = 1e-8

  private val ts = Inputs.spec.tileSize
  private val gf = new GeometryFactory()

  /** Grouping read of a cell: doubles truncate, NaN is NODATA. */
  def intValue(id: String, gc: Int, gr: Int): Int = id match {
    case "nlcd" => ZonalFixture.nlcdValue(gc, gr)
    case "soil" => ZonalFixture.soilValue(gc, gr)
    case "slope" =>
      val d = ZonalFixture.slopeValue(gc, gr)
      if (d.isNaN) NoData.INT else d.toInt
  }

  /** Target read of a cell: int NODATA widens to NaN. */
  def doubleValue(id: String, gc: Int, gr: Int): Double = id match {
    case "slope" => ZonalFixture.slopeValue(gc, gr)
    case other =>
      val i = intValue(other, gc, gr)
      if (i == NoData.INT) Double.NaN else i.toDouble
  }

  def tiles(readGeom: Geometry): Seq[(Int, Int)] = {
    val (c0, c1, r0, r1) = layout.keyRange(readGeom)
    for (kc <- c0 to c1; kr <- r0 to r1) yield (kc, kr)
  }

  def disjoint(g: Geometry, re: RasterExtent): Boolean = {
    val e = g.getEnvelopeInternal
    e.getMinX > re.extent.xmax || e.getMaxX < re.extent.xmin ||
      e.getMinY > re.extent.ymax || e.getMaxY < re.extent.ymin
  }

  /** The polygon is clipped to the tile before scanning, as the engine does. */
  def clipToTile(g: Geometry, re: RasterExtent): Geometry =
    if (g.getNumGeometries > 0) {
      val env = g.getFactory.toGeometry(re.extent.toEnvelope)
      try g.intersection(env) catch { case _: Exception => g }
    } else g

  /** Visit the masked cells of polygon `g`, as global (column, row). */
  def polygonCells(g: Geometry, readGeom: Geometry)(f: (Int, Int) => Unit): Unit =
    tiles(readGeom).foreach { case (kc, kr) =>
      val re = layout.rasterExtent(kc, kr)
      if (!disjoint(g, re))
        Rasterizer.foreachCellByPolygon(clipToTile(g, re), re)((c, r) => f(kc * ts + c, kr * ts + r))
    }

  def lineCells(g: Geometry, readGeom: Geometry)(f: (Int, Int) => Unit): Unit =
    tiles(readGeom).foreach { case (kc, kr) =>
      Rasterizer.foreachCellByLines(g, layout.rasterExtent(kc, kr))((c, r) => f(kc * ts + c, kr * ts + r))
    }

  def mergeLines(ls: Seq[MultiLineString]): MultiLineString =
    gf.createMultiLineString(ls.flatMap(ml =>
      (0 until ml.getNumGeometries).map(ml.getGeometryN(_).asInstanceOf[LineString])).toArray)

  def listKey(vals: Seq[Int]): String = vals.mkString("List(", ", ", ")")

  /** Count and target sum (NaN adds 0 but counts) per grouping key. */
  private final class Acc { var cnt = 0L; var sum = 0.0 }
  private def accumulate(rasters: Seq[String], target: Option[String])(
      cells: ((Int, Int) => Unit) => Unit): Map[String, Acc] = {
    val m = scala.collection.mutable.HashMap.empty[String, Acc]
    cells { (gc, gr) =>
      val key = if (rasters.isEmpty) "List(0)" else listKey(rasters.map(intValue(_, gc, gr)))
      val a = m.getOrElseUpdate(key, new Acc)
      a.cnt += 1
      target.foreach { t =>
        val v = doubleValue(t, gc, gr)
        if (!v.isNaN) a.sum += v
      }
    }
    m.toMap
  }

  private def sorted(kv: Iterable[(String, JValue)]): JValue = JObject(kv.toList.sortBy(_._1))
  private def counts(m: Map[String, Acc]): JValue = sorted(m.map { case (k, a) => k -> JInt(a.cnt) })
  private def averages(m: Map[String, Acc]): JValue =
    sorted(m.map { case (k, a) => k -> JDouble(a.sum / a.cnt) })

  private def strings(j: JValue): List[String] = j match {
    case JArray(xs) => xs.collect { case JString(s) => s }
    case _ => Nil
  }

  /** The `result` a correct `POST /run` returns for `body`. */
  def run(body: String): JValue = {
    val in = JsonMethods.parse(body) \ "input"
    val JString(op) = in \ "operationType": @unchecked
    val rasters = strings(in \ "rasters")
    val aois = strings(in \ "polygon").map(GeomOps.toAoi(_, Projections.LatLng, Projections.ConusAlbers))
    val aoi = GeomOps.unionAll(aois)
    op match {
      case "RasterGroupedCount" => counts(accumulate(rasters, None)(polygonCells(aoi, aoi)))
      case "RasterGroupedCountMany" =>
        JArray(aois.map(a => counts(accumulate(rasters, None)(polygonCells(a, aoi)))))
      case "RasterGroupedAverage" =>
        val JString(t) = in \ "targetRaster": @unchecked
        averages(accumulate(rasters, Some(t))(polygonCells(aoi, aoi)))
      case "RasterSummary" =>
        JArray(rasters.map { id =>
          var (mn, mx, sum, cnt) = (Double.NaN, Double.NaN, 0.0, 0L)
          polygonCells(aoi, aoi) { (gc, gr) =>
            val v = doubleValue(id, gc, gr)
            cnt += 1
            if (!v.isNaN) {
              sum += v
              if (mn.isNaN || v < mn) mn = v
              if (mx.isNaN || v > mx) mx = v
            }
          }
          JObject("min" -> JDouble(mn), "avg" -> JDouble(sum / cnt), "max" -> JDouble(mx))
        })
      case "RasterLinesJoin" =>
        val lines = strings(in \ "vector").map(GeomOps.toLines(_, Projections.LatLng, Projections.ConusAlbers))
        val merged = mergeLines(GeomOps.clipLines(lines, aoi))
        counts(accumulate(rasters, None)(lineCells(merged, aoi)))
    }
  }

  /** The response a correct `POST /multi` returns for `body`:
    * shape id → label → key → value, counts widened to doubles.
    */
  def multi(body: String): JValue = {
    val req = JsonMethods.parse(body)
    val shapes = (req \ "shapes").children.map { s =>
      val JString(id) = s \ "id": @unchecked
      val JString(shape) = s \ "shape": @unchecked
      id -> GeomOps.toAoi(shape, Projections.LatLng, Projections.ConusAlbers)
    }
    val union = GeomOps.unionAll(shapes.map(_._2))
    val lines = strings(req \ "streamLines").map(GeomOps.toLines(_, Projections.LatLng, Projections.ConusAlbers))
    val ops = (req \ "operations").children.map { o =>
      val JString(name) = o \ "name": @unchecked
      val JString(label) = o \ "label": @unchecked
      val target = o \ "targetRaster" match { case JString(t) => Some(t); case _ => None }
      (name, label, strings(o \ "rasters"), target)
    }
    sorted(shapes.par.map { case (id, shape) =>
      id -> sorted(ops.map { case (name, label, rasters, target) =>
        label -> (name match {
          case "RasterGroupedCount" =>
            sorted(accumulate(rasters, None)(polygonCells(shape, union)).map { case (k, a) =>
              k -> JDouble(a.cnt.toDouble) })
          case "RasterGroupedAverage" => averages(accumulate(rasters, target)(polygonCells(shape, union)))
          case "RasterLinesJoin" =>
            val merged = mergeLines(GeomOps.clipLines(lines, shape))
            sorted(accumulate(rasters, None)(lineCells(merged, union)).map { case (k, a) =>
              k -> JDouble(a.cnt.toDouble) })
        })
      })
    }.seq)
  }

  /** Structural equality: same keys, ints exact, doubles within [[Tolerance]]. */
  def matches(actual: JValue, expected: JValue): Boolean = (actual, expected) match {
    case (JObject(a), JObject(e)) =>
      val am = a.toMap
      a.size == e.size && am.size == a.size &&
        e.forall { case (k, v) => am.get(k).exists(matches(_, v)) }
    case (JArray(a), JArray(e)) => a.size == e.size && a.zip(e).forall { case (x, y) => matches(x, y) }
    case (JInt(a), JInt(e)) => a == e
    case (JDouble(a), JDouble(e)) => (a.isNaN && e.isNaN) || math.abs(a - e) <= Tolerance
    case _ => actual == expected
  }
}
