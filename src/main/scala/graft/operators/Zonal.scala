package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{LineMasks, PolygonMasks, ZonalAggregate, ZonalMasks, ZonalOpSpec, ZonalShape, ZonalWork}
import org.locationtech.jts.geom.{LineString, MultiLineString, MultiPolygon}

import graft.geom.GeomOps
import graft.raster.{Layout, Rasterizer}
import graft.sources.TileCatalog.RasterMeta

/** The reference's zonal-statistics operators (SURVEY §2.1 rows A–F)
  * as Spark plans over the tiles table.
  *
  * Shape of every plan:
  *   pruned scan per distinct raster → union → (one exchange + sort on
  *   SpatialKey when an op reads several rasters) → ONE
  *   `ZonalAggregateExec` (the physical node of
  *   [[org.apache.spark.sql.graft.ZonalAggregate]]) that aligns the
  *   rasters of each key and evaluates every op of the request per
  *   tile — each raster decoded once into a primitive array, each
  *   (shape, options) mask rasterized once, TILE-LEVEL PARTIAL
  *   AGGREGATION into primitive group tables → one tiny final Catalyst
  *   aggregation.
  *
  * The exec emits one row per (op, tile, shape, value-tuple) — never
  * per pixel — so shuffle volume is O(tiles × groups), not O(pixels):
  * a 100 TB catalog shuffles a few hundred rows per tile regardless of
  * tile size (group cardinality is ≤ ~500 in the reference workload,
  * SURVEY §6). This is the reference's lock-free TrieMap partial
  * aggregation (Geoprocessing.scala:215,302,348,405) relocated into
  * the task, with Spark's hash aggregation finishing the job; the
  * exec's SQL metrics (tiles, envelope-skipped pairs, masks, masked
  * cells, rasterize time) show in `explain` and the SQL UI.
  *
  * NODATA semantics (SURVEY §2.3):
  *  - group values: NODATA (Int.MinValue) groups as itself;
  *  - average target: NODATA contributes 0.0 but still counts
  *    (reference Geoprocessing.scala:266-270, 313-319);
  *  - summary min/max skip NODATA (as NULL — documented divergence
  *    from the reference's inert NaN guard, Utils.scala:266-284);
  *    summary avg counts every masked pixel with NODATA as 0.0;
  *  - a tile missing from EVERY raster of an op has no join key for
  *    that op → contributes no pixels to it, even when another op of
  *    the same pass reads the tile (reference join-keys semantics,
  *    Utils.scala:221-232).
  */
object Zonal {

  final case class Layer(meta: RasterMeta, df: DataFrame)

  /** The exec's input: every layer's tiles as `(key_col, key_row, r,
    * tile_i, tile_d)` rows, `r` the layer's ordinal and its tile in the
    * column of its cell type. The exec aligns the layers on SpatialKey
    * itself (reference `joinCollectionLayers`, Utils.scala:221-232): a
    * layer without a key NODATA-fills, and an op whose layers all lack
    * it contributes no pixels there.
    */
  private def tileRows(layers: Seq[Layer]): DataFrame = {
    require(layers.nonEmpty, "at least one layer")
    require(layers.map(_.meta.layout).distinct.size == 1,
      s"layers must share one layout: ${layers.map(_.meta.rasterId).mkString(", ")}")
    layers.zipWithIndex.map { case (l, i) =>
      val (ti, td) =
        if (l.meta.isInt) (col("tile_i"), lit(null).cast("array<double>"))
        else (lit(null).cast("array<int>"), col("tile_d"))
      l.df.select(col("key_col"), col("key_row"), lit(i).as("r"), ti.as("tile_i"), td.as("tile_d"))
    }.reduce(_.union(_))
  }

  /** The fused pass over `rasters` (distinct): the partial-aggregate
    * plane `(op, shape_id, vals, cnt, sum, mn, mx)`, one row per (op,
    * tile, shape, value tuple); sum/mn/mx aggregate the op's target
    * under the NODATA rules (sum 0 and null mn/mx for ops without one).
    */
  private def fused(layout: Layout, rasters: Seq[Layer], masks: Seq[ZonalMasks],
                    specs: Seq[ZonalOpSpec]): DataFrame =
    ZonalAggregate.plane(tileRows(rasters), ZonalWork(layout,
      rasters.map(_.meta.isInt).toIndexedSeq, masks.toIndexedSeq, specs.toIndexedSeq))

  private def polygons(aois: Seq[MultiPolygon], opts: Rasterizer.Options): PolygonMasks =
    PolygonMasks(aois.map(ZonalShape(_)).toIndexedSeq, opts)

  /** The plane of ONE op: group layers read as Int, an optional target
    * read as Double, masked by each of `aois`.
    */
  private[graft] def aggPlane(layout: Layout, groupLayers: Seq[Layer], target: Option[Layer],
                              aois: Seq[MultiPolygon], opts: Rasterizer.Options): DataFrame = {
    val rasters = (groupLayers ++ target).distinct
    fused(layout, rasters, Seq(polygons(aois, opts)),
      Seq(ZonalOpSpec(groupLayers.map(rasters.indexOf).toIndexedSeq,
        target.map(rasters.indexOf), 0)))
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
    * each tile in ONE pass (shape_id column instead of per-shape
    * rescans — the reference fetches layers once for the union AOI,
    * Geoprocessing.scala:116-120).
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
    aggPlane(layout, groupLayers, Some(target), Seq(aoi), opts)
      .groupBy(keyed.as("vals"))
      .agg((sum(col("sum")) / sum(col("cnt"))).as("avg_v"))

  /** Grouped average per shape in one pass (the /multi batch kernel). */
  def groupedAverageMany(spark: SparkSession, layout: Layout, groupLayers: Seq[Layer],
                         target: Layer, aois: Seq[MultiPolygon],
                         opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    aggPlane(layout, groupLayers, Some(target), aois, opts)
      .groupBy(col("shape_id"), keyed.as("vals"))
      .agg((sum(col("sum")) / sum(col("cnt"))).as("avg_v"))

  /** Ungrouped ops key on `List(0)` (reference Geoprocessing.scala:275). */
  private def keyed = when(size(col("vals")) === 0, array(lit(0))).otherwise(col("vals"))

  /** Row E — `rasterSummary` (Geoprocessing.scala:380-431): per input
    * raster (order preserved), min/avg/max over masked pixels; min/max
    * skip NODATA, avg counts every masked pixel. One pass with one op
    * per raster; the global aggregate keeps a (null) row for a raster
    * that masks nothing.
    */
  def summary(spark: SparkSession, layout: Layout, layers: Seq[Layer],
              aoi: MultiPolygon,
              opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame = {
    val rasters = layers.distinct
    val plane = fused(layout, rasters, Seq(polygons(Seq(aoi), opts)),
      layers.map(l => ZonalOpSpec(IndexedSeq.empty, Some(rasters.indexOf(l)), 0)))
    val perRaster = layers.zipWithIndex.map { case (l, i) =>
      def of(c: String) = when(col("op") === i, col(c))
      struct(lit(i).as("idx"), lit(l.meta.rasterId).as("raster_id"),
        min(of("mn")).as("min_v"),
        (sum(of("sum")) / sum(of("cnt"))).as("avg_v"),
        max(of("mx")).as("max_v"))
    }
    plane.agg(array(perRaster: _*).as("r")).select(inline(col("r"))).orderBy("idx")
  }

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
    val rasters = layers.distinct
    fused(layout, rasters, Seq(lineMasks(linesPerShape)),
      Seq(ZonalOpSpec(layers.map(rasters.indexOf).toIndexedSeq, None, 0)))
      .groupBy(col("shape_id"), col("vals")).agg(sum(col("cnt")).as("cnt"))
  }

  /** One multi-line mask per shape (all of the shape's lines merged). */
  private def lineMasks(linesPerShape: Seq[Seq[MultiLineString]]): LineMasks = {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    LineMasks(linesPerShape.map { ls =>
      val all = ls.flatMap(ml =>
        (0 until ml.getNumGeometries).map(ml.getGeometryN(_).asInstanceOf[LineString]))
      ZonalShape(gf.createMultiLineString(all.toArray))
    }.toIndexedSeq)
  }

  /** Batch op spec for [[multiBatch]]. */
  sealed trait BatchOp { def label: String }
  final case class BatchCount(label: String, rasters: Seq[String],
                              opts: Rasterizer.Options = Rasterizer.DEFAULT) extends BatchOp
  final case class BatchAverage(label: String, rasters: Seq[String], target: String,
                                opts: Rasterizer.Options = Rasterizer.DEFAULT) extends BatchOp
  final case class BatchLines(label: String, rasters: Seq[String]) extends BatchOp

  /** The /multi batch as ONE fused pass (SURVEY §3.2's "idiomatic-Spark
    * win"): every raster the ops name is scanned and exchanged once,
    * every op is a spec of the same `ZonalAggregateExec`, and polygon masks
    * are shared by all ops with the same options. Output is
    * `(shape_id, op_label, k, v)` with Ints widened to Double
    * (reference Geoprocessing.scala:56).
    */
  def multiBatch(spark: SparkSession, layout: Layout, shared: Map[String, Layer],
                 aois: Seq[MultiPolygon],
                 lines: Seq[MultiLineString],
                 ops: Seq[BatchOp]): DataFrame = {
    val ids = ops.flatMap {
      case BatchCount(_, rs, _) => rs
      case BatchAverage(_, rs, t, _) => rs :+ t
      case BatchLines(_, rs) => rs
    }.distinct
    val polygonOpts = ops.collect {
      case BatchCount(_, _, o) => o
      case BatchAverage(_, _, _, o) => o
    }.distinct
    val linesAt = polygonOpts.size
    val masks = polygonOpts.map(polygons(aois, _)) ++
      (if (ops.exists(_.isInstanceOf[BatchLines]))
        Seq(lineMasks(aois.map(shape => GeomOps.clipLines(lines, shape))))
      else Nil)
    def ix(rs: Seq[String]) = rs.map(ids.indexOf).toIndexedSeq
    val specs = ops.map {
      case BatchCount(_, rs, o) => ZonalOpSpec(ix(rs), None, polygonOpts.indexOf(o))
      case BatchAverage(_, rs, t, o) =>
        ZonalOpSpec(ix(rs), Some(ids.indexOf(t)), polygonOpts.indexOf(o))
      case BatchLines(_, rs) => ZonalOpSpec(ix(rs), None, linesAt)
    }
    val averages = ops.indices.filter(ops(_).isInstanceOf[BatchAverage])
    val keyExpr = expr("concat('List(', array_join(transform(vals, v -> cast(v as string)), ', '), ')')")
    val value =
      if (averages.isEmpty) col("cnt").cast("double")
      else when(col("op").isin(averages: _*), col("sum") / col("cnt"))
        .otherwise(col("cnt").cast("double"))
    fused(layout, ids.map(shared), masks, specs)
      .groupBy(col("op"), col("shape_id"), keyed.as("vals"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum")).as("sum"))
      .select(col("shape_id"), element_at(typedLit(ops.map(_.label)), col("op") + 1).as("op_label"),
        keyExpr.as("k"), value.as("v"))
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
    val Seq(shapeAt, valsAt, cntAt) = Seq("shape_id", "vals", "cnt").map(df.columns.indexOf(_))
    val grouped = df.collect().groupBy(_.getInt(shapeAt))
    (0 until nShapes).map { i =>
      grouped.getOrElse(i, Array.empty)
        .map(r => listKey(r.getSeq[Int](valsAt)) -> r.getLong(cntAt).toInt).toMap
    }
  }
}
