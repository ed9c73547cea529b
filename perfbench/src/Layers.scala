package perfbench

import org.apache.spark.sql.functions.{col, size}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import org.locationtech.jts.geom.{Geometry, MultiLineString, MultiPolygon}

import graft.api.Service
import graft.geom.{GeomOps, Projections}
import graft.operators.{Render, Zonal}
import graft.raster.Rasterizer
import graft.sources.TileCatalog

/** The traced decomposition of one request: the same body is replayed
  * through the public functions of each module, each call in its own
  * span, so that every layer's share of the request can be read off.
  * Returns the layer counts of the request.
  */
final class Layers(cat: Service.Catalog, tracer: Tracer, metrics: SparkMetrics) {
  private implicit val fmts: Formats = DefaultFormats
  private val spark = cat.spark
  private val from = Projections.LatLng
  private val to = Projections.ConusAlbers

  private def inGroup[A](group: String)(f: => A): A = {
    spark.sparkContext.setJobGroup(group, group)
    try f finally spark.sparkContext.clearJobGroup()
  }

  /** Task metrics of the jobs one call launched under `group`. */
  private def groupMetrics(group: String): SparkMetrics#Acc = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    metrics.sum(_ == group)
  }

  def run(req: Long, root: Long, body: String, response: String): Map[String, Double] = {
    tracer.span("api.service", req, root)(_ => inGroup(s"perfbench-service-$req")(Service.run(cat, body)))
    tracer.span("decompose", req, root) { d =>
      def sp[A](name: String)(f: => A): A = tracer.span(name, req, d)(_ => f)
      val in = sp("api.parse")(JsonMethods.parse(body).extract[Service.PostRequest].input)
      val op = in.operationType
      val aois = sp("geom.aoi")(in.polygon.getOrElse(Nil).map(GeomOps.toAoi(_, from, to)))
      val aoi = sp("geom.union")(GeomOps.unionAll(aois))
      val lines =
        if (op != "RasterLinesJoin") Nil
        else sp("geom.clip_lines")(GeomOps.clipLines(in.vector.getOrElse(Nil).map(GeomOps.toLines(_, from, to)), aoi))
      val rasterIds = (in.rasters ++ in.targetRaster).distinct
      val counts = scanAndRasterize(req, d, rasterIds, aoi,
        polygons = op match {
          case "RasterGroupedCountMany" => aois
          case "RasterLinesJoin" => Nil
          case _ => Seq(aoi)
        },
        lines = if (lines.isEmpty) Nil else Seq(Expected.mergeLines(lines)))
      val df = sp("operators.plan") {
        val z = in.zoom
        val d = op match {
          case "RasterGroupedCount" =>
            Zonal.groupedCount(spark, cat.layout(in.rasters, z), cat.layers(in.rasters, aoi, z), aoi)
          case "RasterGroupedCountMany" =>
            Zonal.groupedCountMany(spark, cat.layout(in.rasters, z), cat.layers(in.rasters, aoi, z), aois)
          case "RasterGroupedAverage" =>
            val t = in.targetRaster.get
            Zonal.groupedAverage(spark, cat.layout(Seq(t), z), cat.layers(in.rasters, aoi, z),
              cat.layers(Seq(t), aoi, z).head, aoi)
          case "RasterSummary" =>
            Zonal.summary(spark, cat.layout(in.rasters, z), cat.layers(in.rasters, aoi, z), aoi)
          case "RasterLinesJoin" =>
            Zonal.linesJoin(spark, cat.layout(in.rasters, z), cat.layers(in.rasters, aoi, z), lines)
        }
        d.queryExecution.executedPlan
        d
      }
      val group = s"perfbench-exec-$req"
      val groupsOut = sp("operators.exec")(inGroup(group)(op match {
        case "RasterGroupedCountMany" => Render.toResultManyInt(df, aois.size).map(_.size).sum
        case "RasterGroupedAverage" => Render.toResultDouble(df).size
        case "RasterSummary" => Render.toResultSummary(df).size
        case _ => Render.toResultInt(df).size
      }))
      val json = JsonMethods.parse(response)
      sp("api.encode")(JsonMethods.compact(JsonMethods.render(json)))
      counts ++ Map(
        "operators.plane_rows" -> groupMetrics(group).shuffleWriteRecords.toDouble,
        "operators.groups_out" -> groupsOut.toDouble)
    }
  }

  def multi(req: Long, root: Long, body: String, response: String): Map[String, Double] = {
    tracer.span("api.service", req, root)(_ => inGroup(s"perfbench-service-$req")(Service.runMulti(cat, body)))
    tracer.span("decompose", req, root) { d =>
      def sp[A](name: String)(f: => A): A = tracer.span(name, req, d)(_ => f)
      val in = sp("api.parse")(JsonMethods.parse(body).extract[Service.MultiInput])
      val shapes = sp("geom.aoi")(in.shapes.map(s => GeomOps.toAoi(s.shape, from, to)))
      val union = sp("geom.union")(GeomOps.unionAll(shapes))
      val streamLines = in.streamLines.map(GeomOps.toLines(_, from, to))
      val perShape = sp("geom.clip_lines")(shapes.map(s => GeomOps.clipLines(streamLines, s)))
      val rasterIds = in.operations.flatMap(op => op.rasters ++ op.targetRaster).distinct
      val counts = scanAndRasterize(req, d, rasterIds, union, polygons = shapes,
        lines = if (in.operations.exists(_.name == "RasterLinesJoin")) perShape.map(Expected.mergeLines) else Nil)
      val df = sp("operators.plan") {
        val shared = rasterIds.map(id => id -> cat.layers(Seq(id), union).head).toMap
        val ops = in.operations.map { op =>
          op.name match {
            case "RasterGroupedCount" => Zonal.BatchCount(op.label, op.rasters)
            case "RasterGroupedAverage" => Zonal.BatchAverage(op.label, op.rasters, op.targetRaster.get)
            case "RasterLinesJoin" => Zonal.BatchLines(op.label, op.rasters)
          }
        }
        val d = Zonal.multiBatch(spark, cat.layout(rasterIds), shared, shapes, streamLines, ops)
        d.queryExecution.executedPlan
        d
      }
      val group = s"perfbench-exec-$req"
      val groupsOut = sp("operators.exec")(inGroup(group)(df.collect().length))
      val nested = JsonMethods.parse(response).extract[Map[String, Map[String, Map[String, Double]]]]
      sp("api.encode")(Serialization.write(nested))
      counts ++ Map(
        "operators.plane_rows" -> groupMetrics(group).shuffleWriteRecords.toDouble,
        "operators.groups_out" -> groupsOut.toDouble)
    }
  }

  /** Reads each raster's tiles alone, then rasterizes the request's
    * geometry on those tiles outside Spark, timing the kernel per tile.
    */
  private def scanAndRasterize(req: Long, parent: Long, rasterIds: Seq[String],
      readGeom: MultiPolygon, polygons: Seq[Geometry], lines: Seq[MultiLineString]): Map[String, Double] = {
    def sp[A](name: String)(f: => A): A = tracer.span(name, req, parent)(_ => f)
    val group = s"perfbench-scan-$req"
    val keys = sp("sources.scan")(inGroup(group)(rasterIds.flatMap { id =>
      val m = cat.meta(id)
      TileCatalog.readLayer(spark, cat.path, m, readGeom)
        .select(col("key_col"), col("key_row"), size(col(if (m.isInt) "tile_i" else "tile_d")))
        .collect().map(r => (r.getInt(0), r.getInt(1)))
    }))
    val scanned = groupMetrics(group)
    val tiles = keys.distinct
    val useful = scala.collection.mutable.Set.empty[(Int, Int)]
    var polygonNs, polygonTiles, lineNs, lineTiles, cells = 0L
    if (polygons.nonEmpty) sp("raster.polygon")(tiles.foreach { case k @ (kc, kr) =>
      val re = Inputs.layout.rasterExtent(kc, kr)
      polygons.foreach { g =>
        if (!Expected.disjoint(g, re)) {
          val clipped = Expected.clipToTile(g, re)
          var n = 0L
          val t0 = System.nanoTime()
          Rasterizer.foreachCellByPolygon(clipped, re)((_, _) => n += 1)
          polygonNs += System.nanoTime() - t0
          polygonTiles += 1
          cells += n
          if (n > 0) useful += k
        }
      }
    })
    if (lines.nonEmpty) sp("raster.lines")(tiles.foreach { case k @ (kc, kr) =>
      val re = Inputs.layout.rasterExtent(kc, kr)
      lines.foreach { g =>
        var n = 0L
        val t0 = System.nanoTime()
        Rasterizer.foreachCellByLines(g, re)((_, _) => n += 1)
        lineNs += System.nanoTime() - t0
        lineTiles += 1
        if (n > 0) useful += k
      }
    })
    Map(
      "sources.tiles_read" -> keys.size.toDouble,
      "sources.tiles_useful" -> keys.count(useful).toDouble,
      "sources.bytes_read" -> scanned.inputBytes.toDouble,
      "raster.polygon_ns" -> polygonNs.toDouble,
      "raster.polygon_tiles" -> polygonTiles.toDouble,
      "raster.lines_ns" -> lineNs.toDouble,
      "raster.lines_tiles" -> lineTiles.toDouble,
      "raster.cells_masked" -> cells.toDouble)
  }
}
