package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Geometry, MultiLineString, MultiPolygon}

import graft.geom.GeomOps
import graft.raster.{Layout, NoData, Rasterizer}
import graft.sources.TileCatalog.RasterMeta

/** The reference's zonal-statistics operators (SURVEY §2.1 rows A–F)
  * as Spark plans over the tiles table.
  *
  * Shape of every plan:
  *   pruned scan(s) → full-outer align join on SpatialKey (NODATA
  *   fill) → rasterize + TILE-LEVEL PARTIAL AGGREGATION in one flatMap
  *   → tiny final Catalyst aggregation.
  *
  * The flatMap emits one row per (tile, shape, value-tuple) — never
  * per pixel — so shuffle volume is O(tiles × groups), not O(pixels):
  * a 100 TB catalog shuffles a few hundred rows per tile regardless of
  * tile size (group cardinality is ≤ ~500 in the reference workload,
  * SURVEY §6). This is the reference's lock-free TrieMap partial
  * aggregation (Geoprocessing.scala:215,302,348,405) relocated into
  * the task, with Spark's hash aggregation finishing the job.
  *
  * NODATA semantics (SURVEY §2.3):
  *  - group values: NODATA (Int.MinValue) groups as itself;
  *  - average target: NODATA contributes 0.0 but still counts
  *    (reference Geoprocessing.scala:266-270, 313-319);
  *  - summary min/max skip NODATA (as NULL — documented divergence
  *    from the reference's inert NaN guard, Utils.scala:266-284);
  *    summary avg counts every masked pixel with NODATA as 0.0;
  *  - a tile missing from EVERY layer has no join key → contributes
  *    no pixels (reference join-keys semantics, Utils.scala:221-232).
  */
object Zonal {

  final case class Layer(meta: RasterMeta, df: DataFrame)

  /** Serializable lazy-parsing geometry holder for broadcast. */
  private final class BGeom(val wkb: Array[Byte], exmin: Double, eymin: Double,
                            exmax: Double, eymax: Double) extends Serializable {
    @transient private var g: Geometry = _
    def geom: Geometry = {
      if (g == null) g = GeomOps.fromWkb(wkb)
      g
    }
    /** Envelope rejection: true when this shape's bbox cannot touch the
      * extent — four double compares, no JTS, no WKB deserialization.
      * Non-strict (shared edges count as intersecting) so boundary
      * cells are never wrongly skipped; an empty geometry's inverted
      * envelope is disjoint from everything, matching its empty mask.
      */
    def disjointFrom(e: graft.raster.Extent): Boolean =
      exmin > e.xmax || exmax < e.xmin || eymin > e.ymax || eymax < e.ymin
  }

  private def bgeom(g: Geometry): BGeom = {
    val env = g.getEnvelopeInternal
    new BGeom(GeomOps.toWkb(g), env.getMinX, env.getMinY, env.getMaxX, env.getMaxY)
  }

  /** Count of (tile, shape) pairs rejected by the envelope fast-path —
    * a per-JVM diagnostic for specs (meaningful in local mode; on a
    * cluster each executor counts its own skips).
    */
  private[graft] val envSkips = new java.util.concurrent.atomic.AtomicLong

  /** Decode a grouping tile to Int values regardless of stored cell
    * type (reference semantics: grouping rasters are read as Int,
    * `tile.get` — double cells truncate, NaN → NODATA).
    */
  private def decodeIntTile(row: Row, ord: Int): Array[Int] =
    if (row.isNullAt(ord)) null
    else row.getSeq[Any](ord).map {
      case i: Int => i
      case d: Double => if (d.isNaN) NoData.INT else d.toInt
      case null => NoData.INT
    }.toArray

  /** Decode a target tile to Double regardless of stored cell type
    * (reference `tile.getDouble` — Int NODATA widens to NaN).
    */
  private def decodeDoubleTile(row: Row, ord: Int): Array[Double] =
    if (row.isNullAt(ord)) null
    else row.getSeq[Any](ord).map {
      case d: Double => d
      case i: Int => if (i == NoData.INT) Double.NaN else i.toDouble
      case null => Double.NaN
    }.toArray

  /** Hash-map key wrapping a primitive int array. */
  private final class ValsKey(val a: Array[Int]) {
    override val hashCode: Int = java.util.Arrays.hashCode(a)
    override def equals(o: Any): Boolean = o match {
      case k: ValsKey => java.util.Arrays.equals(a, k.a)
      case _ => false
    }
  }

  /** Per-group accumulator for one (tile, shape). */
  private final class Agg {
    var cnt: Long = 0L
    var sum: Double = 0.0
    var mn: Double = Double.NaN
    var mx: Double = Double.NaN
    def add(tv: Double): Unit = {
      cnt += 1
      if (!tv.isNaN) {
        sum += tv
        if (mn.isNaN || tv < mn) mn = tv
        if (mx.isNaN || tv > mx) mx = tv
      }
    }
  }

  /** Full-outer align join of N layers on SpatialKey (reference
    * `joinCollectionLayers`, Utils.scala:221-232 — missing tiles stay
    * null here and NODATA-fill inside the flatMap).
    */
  private def joinLayers(layers: Seq[Layer]): DataFrame = {
    require(layers.nonEmpty, "at least one layer")
    require(layers.map(_.meta.layout).distinct.size == 1,
      s"layers must share one layout: ${layers.map(_.meta.rasterId).mkString(", ")}")
    val renamed = layers.zipWithIndex.map { case (l, i) =>
      val valueCol = if (l.meta.isInt) col("tile_i") else col("tile_d")
      l.df.select(col("key_col"), col("key_row"), valueCol.as(s"t$i"))
    }
    renamed.reduce((a, b) => a.join(b, Seq("key_col", "key_row"), "full_outer"))
  }

  private val planeSchema = StructType(Seq(
    StructField("shape_id", IntegerType, nullable = false),
    StructField("vals", ArrayType(IntegerType, containsNull = false)),
    StructField("cnt", LongType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("mn", DoubleType, nullable = true),
    StructField("mx", DoubleType, nullable = true)))

  /** Pre-clip the AOI to the tile extent: bounds the scanline to the
    * tile and keeps per-tile cost proportional to local geometry
    * complexity (center-sampling is invariant under this clip).
    * Skipped for PixelIsArea/includePartial=false where artificial
    * clip edges would wrongly erode interior cells.
    */
  private def clipToTile(g: Geometry, re: graft.raster.RasterExtent): Geometry =
    if (g.getNumGeometries > 0) {
      val env = g.getFactory.toGeometry(re.extent.toEnvelope)
      try g.intersection(env) catch { case _: Exception => g }
    } else g

  /** The partially-aggregated masked plane: per (tile, shape,
    * value-tuple) one row `(shape_id, vals, cnt, sum, mn, mx)` where
    * sum/mn/mx aggregate the (optional) target under the NODATA rules.
    */
  private[graft] def aggPlane(layout: Layout, groupLayers: Seq[Layer], target: Option[Layer],
                              aois: Seq[MultiPolygon], opts: Rasterizer.Options): DataFrame = {
    val joined = joinLayers(groupLayers ++ target.toSeq)
    val n = groupLayers.size
    val hasTarget = target.isDefined
    val shapes = aois.map(bgeom)
    val lay = layout
    val o = opts
    val tileCols = layout.tileCols
    joined.flatMap { row =>
      val keyCol = row.getInt(0)
      val keyRow = row.getInt(1)
      val re = lay.rasterExtent(keyCol, keyRow)
      val groups: Array[Array[Int]] = Array.tabulate(n)(i => decodeIntTile(row, 2 + i))
      val tgt: Array[Double] = if (hasTarget) decodeDoubleTile(row, 2 + n) else null
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      shapes.zipWithIndex.foreach { case (bg, si) =>
        // envelope fast-path: a shape whose bbox misses this tile's
        // extent masks zero cells here — skip the JTS clip + scanline
        // entirely. At 10⁴-shape batches this turns the per-tile cost
        // from O(shapes) JTS intersections into O(shapes) double
        // compares plus work only for genuinely overlapping pairs.
        if (bg.disjointFrom(re.extent)) Zonal.envSkips.incrementAndGet()
        else {
        val accum = scala.collection.mutable.HashMap.empty[ValsKey, Agg]
        val clipped =
          if (o.pixelIsArea && !o.includePartial) bg.geom else clipToTile(bg.geom, re)
        Rasterizer.foreachCellByPolygon(clipped, re, o) { (c, r) =>
          val vals = new Array[Int](n)
          var i = 0
          while (i < n) {
            vals(i) = if (groups(i) == null) NoData.INT else groups(i)(r * tileCols + c)
            i += 1
          }
          val tv =
            if (!hasTarget) 0.0
            else if (tgt == null) Double.NaN
            else tgt(r * tileCols + c)
          accum.getOrElseUpdate(new ValsKey(vals), new Agg).add(tv)
        }
        accum.foreach { case (k, a) =>
          out += Row(si, k.a.toSeq, a.cnt, a.sum,
            if (a.mn.isNaN) null else a.mn, if (a.mx.isNaN) null else a.mx)
        }
        }
      }
      out
    }(Encoders.row(planeSchema)).toDF()
  }

  /** Row A — `rasterGroupedCount` (Geoprocessing.scala:338-368):
    * COUNT(*) of masked pixels per distinct value tuple.
    */
  def groupedCount(spark: SparkSession, layout: Layout, layers: Seq[Layer],
                   aoi: MultiPolygon, opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    aggPlane(layout, layers, None, Seq(aoi), opts)
      .groupBy(col("vals")).agg(sum(col("cnt")).as("cnt"))

  /** Row F — `getRasterGroupedCountMany` (Geoprocessing.scala:114-126):
    * grouped count per input polygon; every shape rasterizes against
    * each tile in ONE flatMap pass (shape_id column instead of
    * per-shape rescans — the reference fetches layers once for the
    * union AOI, Geoprocessing.scala:116-120).
    */
  def groupedCountMany(spark: SparkSession, layout: Layout, layers: Seq[Layer],
                       aois: Seq[MultiPolygon],
                       opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    aggPlane(layout, layers, None, aois, opts)
      .groupBy(col("shape_id"), col("vals")).agg(sum(col("cnt")).as("cnt"))

  /** Rows B/C — `rasterAverage` / `rasterGroupedAverage`
    * (Geoprocessing.scala:245-277, 288-329): mean of target per value
    * tuple; NODATA target → 0.0 but counted. Ungrouped = constant
    * key `List(0)` (reference :275).
    */
  def groupedAverage(spark: SparkSession, layout: Layout, groupLayers: Seq[Layer],
                     target: Layer, aoi: MultiPolygon,
                     opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    keyed(aggPlane(layout, groupLayers, Some(target), Seq(aoi), opts), groupLayers)
      .groupBy(col("vals"))
      .agg((sum(col("sum")) / sum(col("cnt"))).as("avg_v"))

  /** Grouped average per shape in one pass (the /multi batch kernel). */
  def groupedAverageMany(spark: SparkSession, layout: Layout, groupLayers: Seq[Layer],
                         target: Layer, aois: Seq[MultiPolygon],
                         opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    keyed(aggPlane(layout, groupLayers, Some(target), aois, opts), groupLayers)
      .groupBy(col("shape_id"), col("vals"))
      .agg((sum(col("sum")) / sum(col("cnt"))).as("avg_v"))

  /** Ungrouped ops key on `List(0)` (reference Geoprocessing.scala:275). */
  private def keyed(plane: DataFrame, groupLayers: Seq[Layer]): DataFrame =
    if (groupLayers.nonEmpty) plane else plane.withColumn("vals", array(lit(0)))

  /** Row E — `rasterSummary` (Geoprocessing.scala:380-431): per input
    * raster (order preserved), min/avg/max over masked pixels; min/max
    * skip NODATA, avg counts every masked pixel.
    */
  def summary(spark: SparkSession, layout: Layout, layers: Seq[Layer],
              aoi: MultiPolygon,
              opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    layers.zipWithIndex.map { case (l, i) =>
      aggPlane(layout, Nil, Some(l), Seq(aoi), opts)
        .agg(
          min(col("mn")).as("min_v"),
          max(col("mx")).as("max_v"),
          (sum(col("sum")) / sum(col("cnt"))).as("avg_v"))
        .select(lit(i).as("idx"), lit(l.meta.rasterId).as("raster_id"),
          col("min_v"), col("avg_v"), col("max_v"))
    }.reduce(_.unionByName(_)).orderBy("idx")

  /** Row D — `rasterLinesJoin` (Geoprocessing.scala:210-235): count
    * DISTINCT pixels touched by ≥1 line, grouped by value tuple.
    * The rasterizer's per-(tile,shape) BitSet already dedups pixels
    * and pixels belong to exactly one tile, so counts partial-aggregate
    * per tile with no global distinct (the reference used a concurrent
    * TrieMap set for the same dedup).
    */
  def linesJoin(spark: SparkSession, layout: Layout, layers: Seq[Layer],
                lines: Seq[MultiLineString]): DataFrame =
    linesJoinMany(spark, layout, layers, Seq(lines))
      .select(col("vals"), col("cnt"))

  /** Lines join for many shapes in ONE pass (the 61-shape reference
    * batch becomes one scan).
    */
  def linesJoinMany(spark: SparkSession, layout: Layout, layers: Seq[Layer],
                    linesPerShape: Seq[Seq[MultiLineString]]): DataFrame = {
    val joined = joinLayers(layers)
    val n = layers.size
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val perShape: Seq[BGeom] = linesPerShape.map { ls =>
      val all = ls.flatMap(ml => (0 until ml.getNumGeometries).map(ml.getGeometryN(_)
        .asInstanceOf[org.locationtech.jts.geom.LineString]))
      bgeom(gf.createMultiLineString(all.toArray))
    }
    val lay = layout
    val tileCols = layout.tileCols
    joined.flatMap { row =>
      val keyCol = row.getInt(0)
      val keyRow = row.getInt(1)
      val re = lay.rasterExtent(keyCol, keyRow)
      val groups: Array[Array[Int]] = Array.tabulate(n)(i => decodeIntTile(row, 2 + i))
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      perShape.zipWithIndex.foreach { case (bg, si) =>
        val accum = scala.collection.mutable.HashMap.empty[ValsKey, Agg]
        Rasterizer.foreachCellByLines(bg.geom, re) { (c, r) =>
          val vals = new Array[Int](n)
          var i = 0
          while (i < n) {
            vals(i) = if (groups(i) == null) NoData.INT else groups(i)(r * tileCols + c)
            i += 1
          }
          accum.getOrElseUpdate(new ValsKey(vals), new Agg).add(0.0)
        }
        accum.foreach { case (k, a) => out += Row(si, k.a.toSeq, a.cnt, 0.0, null, null) }
      }
      out
    }(Encoders.row(planeSchema)).toDF()
      .groupBy(col("shape_id"), col("vals")).agg(sum(col("cnt")).as("cnt"))
  }

  /** Batch op spec for [[multiBatch]]. */
  sealed trait BatchOp { def label: String }
  final case class BatchCount(label: String, rasters: Seq[String],
                              opts: Rasterizer.Options = Rasterizer.DEFAULT) extends BatchOp
  final case class BatchAverage(label: String, rasters: Seq[String], target: String,
                                opts: Rasterizer.Options = Rasterizer.DEFAULT) extends BatchOp
  final case class BatchLines(label: String, rasters: Seq[String]) extends BatchOp

  /** The /multi batch as ONE unioned DataFrame plan (SURVEY §3.2's
    * "idiomatic-Spark win"): shared cached scans feed a single-pass
    * multi-shape plane per op; output is
    * `(shape_id, op_label, k, v)` with Ints widened to Double
    * (reference Geoprocessing.scala:56).
    */
  def multiBatch(spark: SparkSession, layout: Layout, shared: Map[String, Layer],
                 aois: Seq[MultiPolygon],
                 lines: Seq[MultiLineString],
                 ops: Seq[BatchOp]): DataFrame = {
    val keyExpr = expr("concat('List(', array_join(transform(vals, v -> cast(v as string)), ', '), ')')")
    val frames = ops.map {
      case BatchCount(label, rasters, o) =>
        groupedCountMany(spark, layout, rasters.map(shared), aois, o)
          .select(col("shape_id"), lit(label).as("op_label"), keyExpr.as("k"),
            col("cnt").cast("double").as("v"))
      case BatchAverage(label, rasters, target, o) =>
        groupedAverageMany(spark, layout, rasters.map(shared), shared(target), aois, o)
          .select(col("shape_id"), lit(label).as("op_label"), keyExpr.as("k"),
            col("avg_v").as("v"))
      case BatchLines(label, rasters) =>
        val clippedPerShape = aois.map(shape => GeomOps.clipLines(lines, shape))
        linesJoinMany(spark, layout, rasters.map(shared), clippedPerShape)
          .select(col("shape_id"), lit(label).as("op_label"), keyExpr.as("k"),
            col("cnt").cast("double").as("v"))
    }
    frames.reduce(_.unionByName(_))
  }
}

/** Wire-format rendering: `"List(v1, v2)"` stringified tuples are part
  * of the reference's response contract (Geoprocessing.scala:366, all
  * goldens), reproduced exactly.
  */
object Render {
  def listKey(vals: Seq[Int]): String = vals.mkString("List(", ", ", ")")

  def toResultInt(df: DataFrame): Map[String, Int] =
    df.collect().map(r => listKey(r.getSeq[Int](0)) -> r.getLong(1).toInt).toMap

  def toResultDouble(df: DataFrame): Map[String, Double] =
    df.collect().map(r => listKey(r.getSeq[Int](0)) -> r.getDouble(1)).toMap

  def toResultSummary(df: DataFrame): Seq[Map[String, Double]] =
    df.collect().sortBy(_.getInt(0)).map { r =>
      def d(i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      Map("min" -> d(2), "avg" -> d(3), "max" -> d(4))
    }.toSeq

  def toResultManyInt(df: DataFrame, nShapes: Int): Seq[Map[String, Int]] = {
    val grouped = df.collect()
      .groupBy(_.getInt(df.columns.indexOf("shape_id")))
    (0 until nShapes).map { i =>
      grouped.getOrElse(i, Array.empty)
        .map(r => listKey(r.getSeq[Int](df.columns.indexOf("vals"))) ->
          r.getLong(df.columns.indexOf("cnt")).toInt).toMap
    }
  }
}
