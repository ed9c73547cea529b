package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, SortOrder, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.locationtech.jts.geom.Geometry

import graft.geom.GeomOps
import graft.raster.{Extent, Layout, NoData, RasterExtent, Rasterizer}

/** One shape of a zonal pass, shipped as WKB and parsed lazily once per
  * task; the envelope rides along so disjoint (tile, shape) pairs are
  * rejected with four double compares, no JTS.
  */
final class ZonalShape private (wkb: Array[Byte], exmin: Double, eymin: Double,
                                exmax: Double, eymax: Double) extends Serializable {
  @transient private var g: Geometry = _
  def geom: Geometry = {
    if (g == null) g = GeomOps.fromWkb(wkb)
    g
  }
  /** Non-strict (shared edges count as intersecting) so boundary cells
    * are never wrongly skipped; an empty geometry's inverted envelope
    * masks nothing either way.
    */
  def disjointFrom(e: Extent): Boolean =
    exmin > e.xmax || exmax < e.xmin || eymin > e.ymax || eymax < e.ymin
}

object ZonalShape {
  def apply(g: Geometry): ZonalShape = {
    val env = g.getEnvelopeInternal
    new ZonalShape(GeomOps.toWkb(g), env.getMinX, env.getMinY, env.getMaxX, env.getMaxY)
  }
}

/** A list of shapes rasterized the same way: one mask per (tile, shape). */
sealed trait ZonalMasks extends Serializable {
  def shapes: IndexedSeq[ZonalShape]
}
/** Polygon masks under rasterizer options (center sampling by default). */
final case class PolygonMasks(shapes: IndexedSeq[ZonalShape], opts: Rasterizer.Options)
  extends ZonalMasks
/** Supercover line masks; each pixel is visited once per shape. */
final case class LineMasks(shapes: IndexedSeq[ZonalShape]) extends ZonalMasks

/** One op of a fused pass: group rasters (ordinals into the pass's
  * raster list, read as Int), an optional target raster (read as
  * Double), and the mask list it aggregates under.
  */
final case class ZonalOpSpec(groups: IndexedSeq[Int], target: Option[Int], masks: Int) {
  /** The rasters whose tiles make this op count a tile (join-key rule). */
  def rasters: IndexedSeq[Int] = (groups ++ target).distinct
}

/** Everything a [[ZonalAggregateExec]] evaluates per tile: the grid,
  * the cell type of each input raster, the mask lists and the ops.
  */
final case class ZonalWork(layout: Layout, intRasters: IndexedSeq[Boolean],
                           masks: IndexedSeq[ZonalMasks], specs: IndexedSeq[ZonalOpSpec]) {
  require(specs.forall(s => s.masks >= 0 && s.masks < masks.size &&
    s.rasters.forall(r => r >= 0 && r < intRasters.size)), "op refers to an unknown raster or mask list")

  /** Some op reads several rasters, so the tiles of one key must meet. */
  def alignsRasters: Boolean = specs.exists(_.rasters.size > 1)

  override def toString: String = {
    val ms = masks.map {
      case PolygonMasks(s, o) =>
        s"${s.size} polygons${if (o.pixelIsArea) s" (area, partial=${o.includePartial})" else ""}"
      case LineMasks(s) => s"${s.size} lines"
    }
    s"${specs.size} ops over ${intRasters.size} rasters, masks [${ms.mkString(", ")}]"
  }
}

/** Logical node: partial zonal aggregation of raster tiles. `input` is
  * the child's `(key_col, key_row, r, tile_i, tile_d)` — one row per
  * (raster ordinal `r`, SpatialKey), the tile in the column of the
  * raster's cell type — and the output is one row per (op, tile,
  * shape, value tuple): `(op, shape_id, vals, cnt, sum, mn, mx)`.
  */
case class ZonalAggregate(work: ZonalWork, input: Seq[Attribute], output: Seq[Attribute],
                          child: LogicalPlan) extends UnaryNode with MultiInstanceRelation {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def newInstance(): ZonalAggregate = copy(output = output.map(_.newInstance()))
  override protected def withNewChildInternal(newChild: LogicalPlan): ZonalAggregate =
    copy(child = newChild)
}

object ZonalAggregate {

  val schema: StructType = StructType(Seq(
    StructField("op", IntegerType, nullable = false),
    StructField("shape_id", IntegerType, nullable = false),
    StructField("vals", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("mn", DoubleType, nullable = true),
    StructField("mx", DoubleType, nullable = true)))

  /** The partial-aggregate plane of `tiles` (laid out as [[ZonalAggregate]]'s input). */
  def plane(tiles: DataFrame, work: ZonalWork): DataFrame = {
    val session = tiles.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val child = tiles.queryExecution.analyzed
    require(child.output.map(_.name) == Seq("key_col", "key_row", "r", "tile_i", "tile_d"),
      s"expected (key_col, key_row, r, tile_i, tile_d), got ${child.output.map(_.name)}")
    val output = schema.fields.map(f => AttributeReference(f.name, f.dataType, f.nullable)()).toSeq
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      ZonalAggregate(work, child.output, output, child))
  }
}

/** Plans [[ZonalAggregate]]; installed by [[GraftExtensions]]. */
object ZonalAggregateStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ZonalAggregate(work, input, output, child) =>
      ZonalAggregateExec(work, input, output, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** The fused zonal pass. When an op reads several rasters it requires
  * its input clustered and sorted by SpatialKey — one exchange of every
  * raster's tiles, whatever the raster count — and aligns the rows of
  * one key itself (the reference's `joinCollectionLayers` full-outer
  * align join, Utils.scala:221-232). Per tile it reads each raster's
  * array once into the primitive `Int`/`Double` views the ops need,
  * rasterizes each (shape, options) mask once, and feeds every op that
  * uses the mask from the same cell list into a primitive
  * open-addressing group table; an op counts a tile only when one of
  * its own rasters has it. The output is O(tiles × shapes × groups)
  * partial rows, never O(pixels).
  */
case class ZonalAggregateExec(work: ZonalWork, input: Seq[Attribute], output: Seq[Attribute],
                              child: SparkPlan) extends UnaryExecNode {

  override def nodeName: String = "ZonalAggregateExec"

  override def producedAttributes: AttributeSet = AttributeSet(output)

  private def key: Seq[Attribute] = input.take(2)

  override def requiredChildDistribution: Seq[Distribution] =
    (if (work.alignsRasters) ClusteredDistribution(key) else UnspecifiedDistribution) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (if (work.alignsRasters) key.map(SortOrder(_, Ascending)) else Nil) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numTiles" -> SQLMetrics.createMetric(sparkContext, "number of tiles"),
    "envelopeSkips" -> SQLMetrics.createMetric(sparkContext, "envelope-skipped (tile, shape) pairs"),
    "numMasks" -> SQLMetrics.createMetric(sparkContext, "number of masks"),
    "maskedCells" -> SQLMetrics.createMetric(sparkContext, "masked cells"),
    "rasterizeTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "rasterize time"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def verboseStringWithOperatorId(): String =
    s"""$formattedNodeName
       |Work: $work
       |Metrics: ${metrics.values.map(_.name.getOrElse("")).mkString(", ")}
       |""".stripMargin

  protected override def doExecute(): RDD[InternalRow] = {
    val ords = input.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
    require(!ords.contains(-1), s"input $input not in child output ${child.output}")
    val w = work
    val m = metrics
    child.execute().mapPartitionsInternal(rows => new ZonalKernel(w, ords, m).run(rows))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ZonalAggregateExec =
    copy(child = newChild)
}

/** Per-partition state of [[ZonalAggregateExec]]: the tile being
  * assembled (which rasters have it, their decoded views), the mask
  * cell buffer and one group table per op, all reused across tiles.
  * Input rows of one key are consecutive when the work aligns rasters
  * (the exec's required ordering); otherwise every row is a tile.
  */
private final class ZonalKernel(work: ZonalWork, ords: Array[Int], metrics: Map[String, SQLMetric]) {
  private val layout = work.layout
  private val tileCols = layout.tileCols
  private val nCells = layout.tileCols * layout.tileRows
  private val nRasters = work.intRasters.size
  private val specs = work.specs.toArray
  private val own: Array[Array[Int]] = specs.map(_.rasters.toArray)
  private val byMask: Array[Array[Int]] =
    work.masks.indices.map(mi => specs.indices.filter(specs(_).masks == mi).toArray).toArray
  private val tables = specs.map(_ => new GroupTable)
  private val wide: Array[TupleIds] =
    specs.map(s => if (s.groups.size > 2) new TupleIds(s.groups.size) else null)
  private val needsInt = Array.tabulate(nRasters)(r => specs.exists(_.groups.contains(r)))
  private val needsDouble = Array.tabulate(nRasters)(r => specs.exists(_.target.contains(r)))

  // the tile being assembled
  private var open = false
  private var keyCol, keyRow = 0
  private val present = new Array[Boolean](nRasters)
  private val hasCells = new Array[Boolean](nRasters)
  private val ints = new Array[Array[Int]](nRasters)
  private val doubles = new Array[Array[Double]](nRasters)
  private lazy val noDataInt = Array.fill(nCells)(NoData.INT)
  private lazy val noDataDouble = Array.fill(nCells)(NoData.DOUBLE)
  private val active = new Array[Boolean](specs.length)

  // the current mask: tile-local cell indices in rasterizer visit order
  private var cells = new Array[Int](1024)
  private var nMasked = 0
  private val sink: (Int, Int) => Unit = (c, r) => {
    if (nMasked == cells.length) cells = java.util.Arrays.copyOf(cells, cells.length * 2)
    cells(nMasked) = r * tileCols + c
    nMasked += 1
  }

  private val proj = UnsafeProjection.create(ZonalAggregate.schema)
  private val numTiles = metrics("numTiles")
  private val envelopeSkips = metrics("envelopeSkips")
  private val numMasks = metrics("numMasks")
  private val maskedCells = metrics("maskedCells")
  private val rasterizeTime = metrics("rasterizeTime")
  private val numOutputRows = metrics("numOutputRows")

  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = new Iterator[InternalRow] {
    private var pending: Iterator[InternalRow] = Iterator.empty
    override def hasNext: Boolean = {
      while (!pending.hasNext && (open || rows.hasNext)) pending = nextTile(rows)
      pending.hasNext
    }
    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      pending.next()
    }
  }

  /** Reads rows until the open tile is complete and returns its partial rows. */
  private def nextTile(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    while (rows.hasNext) {
      val row = rows.next()
      val kc = row.getInt(ords(0))
      val kr = row.getInt(ords(1))
      if (open && !(work.alignsRasters && kc == keyCol && kr == keyRow)) {
        val out = tile()
        add(row, kc, kr)
        return out
      }
      add(row, kc, kr)
    }
    if (open) tile() else Iterator.empty
  }

  /** Adds one raster's row to the open tile, decoding it at once (the
    * row's buffer does not outlive the next read).
    */
  private def add(row: InternalRow, kc: Int, kr: Int): Unit = {
    if (!open) {
      java.util.Arrays.fill(present, false)
      open = true
      keyCol = kc
      keyRow = kr
    }
    val r = row.getInt(ords(2))
    val t = if (work.intRasters(r)) ords(3) else ords(4)
    present(r) = true
    hasCells(r) = !row.isNullAt(t)
    if (hasCells(r)) {
      val a = row.getArray(t)
      if (needsInt(r)) decodeInt(r, a)
      if (needsDouble(r)) decodeDouble(r, a)
    }
  }

  /** Evaluates every op on the open tile and closes it. */
  private def tile(): Iterator[InternalRow] = {
    open = false
    numTiles += 1
    val re = layout.rasterExtent(keyCol, keyRow)
    var s = 0
    while (s < specs.length) {
      active(s) = own(s).exists(present(_))
      s += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var mi = 0
    while (mi < byMask.length) {
      val users = byMask(mi).filter(active(_))
      if (users.nonEmpty) {
        val masks = work.masks(mi)
        var si = 0
        while (si < masks.shapes.size) {
          val shape = masks.shapes(si)
          if (shape.disjointFrom(re.extent)) envelopeSkips += 1
          else {
            rasterize(masks, shape, re)
            if (nMasked > 0) users.foreach(u => aggregate(u, si, out))
          }
          si += 1
        }
      }
      mi += 1
    }
    numOutputRows += out.size
    out.iterator
  }

  private def rasterize(masks: ZonalMasks, shape: ZonalShape, re: RasterExtent): Unit = {
    val t0 = System.nanoTime()
    nMasked = 0
    masks match {
      case PolygonMasks(_, o) =>
        val g = shape.geom
        // pre-clip to the tile (bounds the scanline to local geometry;
        // center sampling is invariant under it) except for
        // fully-inside area masks, whose clip edges would erode cells
        val clipped = if (o.pixelIsArea && !o.includePartial) g else clipToTile(g, re)
        Rasterizer.foreachCellByPolygon(clipped, re, o)(sink)
      case LineMasks(_) =>
        Rasterizer.foreachCellByLines(shape.geom, re)(sink)
    }
    rasterizeTime += System.nanoTime() - t0
    numMasks += 1
    maskedCells += nMasked
  }

  private def clipToTile(g: Geometry, re: RasterExtent): Geometry =
    if (g.getNumGeometries > 0) {
      val env = g.getFactory.toGeometry(re.extent.toEnvelope)
      try g.intersection(env) catch { case _: Exception => g }
    } else g

  /** Fold the current mask into op `s`'s table and emit its partial rows. */
  private def aggregate(s: Int, si: Int, out: scala.collection.mutable.ArrayBuffer[InternalRow]): Unit = {
    val spec = specs(s)
    val n = spec.groups.size
    val gs = spec.groups.map(intView).toArray
    val g0 = if (n > 0) gs(0) else null
    val g1 = if (n > 1) gs(1) else null
    val ids = wide(s)
    val tv = spec.target.map(doubleView).orNull
    val table = tables(s)
    table.clear()
    // the current group's accumulator lives in locals for the length of
    // a run of equal keys (runs are the norm on categorical rasters);
    // the cell order and so the summation order are unchanged
    var slot = -1
    var runKey = 0L
    var c = 0L
    var sm, lo, hi = 0.0
    var i = 0
    while (i < nMasked) {
      val ix = cells(i)
      val key = n match {
        case 0 => 0L
        case 1 => g0(ix).toLong
        case 2 => (g0(ix).toLong << 32) | (g1(ix) & 0xffffffffL)
        case _ => ids.id(gs, ix).toLong
      }
      if (slot < 0 || key != runKey) {
        if (slot >= 0) table.store(slot, c, sm, lo, hi)
        slot = table.slot(key)
        runKey = key
        c = table.cnt(slot); sm = table.sum(slot); lo = table.mn(slot); hi = table.mx(slot)
      }
      // every masked cell counts; a NaN target adds nothing to sum/min/max
      c += 1
      if (tv != null) {
        val v = tv(ix)
        if (!v.isNaN) {
          sm += v
          if (lo.isNaN || v < lo) lo = v
          if (hi.isNaN || v > hi) hi = v
        }
      }
      i += 1
    }
    if (slot >= 0) table.store(slot, c, sm, lo, hi)
    var k = 0
    while (k < table.size) {
      val slot = table.order(k)
      val key = table.keys(slot)
      val vals: Array[Int] = n match {
        case 0 => Array.emptyIntArray
        case 1 => Array(key.toInt)
        case 2 => Array((key >>> 32).toInt, key.toInt)
        case _ => ids.tuple(key.toInt)
      }
      val mn = table.mn(slot)
      val mx = table.mx(slot)
      out += proj(new GenericInternalRow(Array[Any](s, si, UnsafeArrayData.fromPrimitiveArray(vals),
        table.cnt(slot), table.sum(slot), if (mn.isNaN) null else mn, if (mx.isNaN) null else mx))).copy()
      k += 1
    }
  }

  /** Raster `r` of the tile as Int; a raster without this tile (or
    * with a null tile) is all NODATA.
    */
  private def intView(r: Int): Array[Int] =
    if (present(r) && hasCells(r)) ints(r) else noDataInt

  /** Raster `r` of the tile as Double; absent or null ⇒ all NaN. */
  private def doubleView(r: Int): Array[Double] =
    if (present(r) && hasCells(r)) doubles(r) else noDataDouble

  /** Reference `tile.get`: double cells truncate, NaN and null → NODATA. */
  private def decodeInt(r: Int, a: ArrayData): Unit = {
    if (ints(r) == null) ints(r) = new Array[Int](nCells)
    val dst = ints(r)
    val n = cellCount(a)
    if (work.intRasters(r)) {
      a match {
        case u: UnsafeArrayData =>
          Platform.copyMemory(u.getBaseObject,
            u.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(n),
            dst, Platform.INT_ARRAY_OFFSET, n * 4L)
        case _ => var i = 0; while (i < n) { if (!a.isNullAt(i)) dst(i) = a.getInt(i); i += 1 }
      }
      if (hasNulls(a)) { var i = 0; while (i < n) { if (a.isNullAt(i)) dst(i) = NoData.INT; i += 1 } }
    } else {
      var i = 0
      while (i < n) {
        dst(i) =
          if (a.isNullAt(i)) NoData.INT
          else { val d = a.getDouble(i); if (d.isNaN) NoData.INT else d.toInt }
        i += 1
      }
    }
  }

  /** Reference `tile.getDouble`: Int NODATA and null widen to NaN. */
  private def decodeDouble(r: Int, a: ArrayData): Unit = {
    if (doubles(r) == null) doubles(r) = new Array[Double](nCells)
    val dst = doubles(r)
    val n = cellCount(a)
    if (work.intRasters(r)) {
      var i = 0
      while (i < n) {
        dst(i) =
          if (a.isNullAt(i)) Double.NaN
          else { val v = a.getInt(i); if (v == NoData.INT) Double.NaN else v.toDouble }
        i += 1
      }
    } else {
      a match {
        case u: UnsafeArrayData =>
          Platform.copyMemory(u.getBaseObject,
            u.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(n),
            dst, Platform.DOUBLE_ARRAY_OFFSET, n * 8L)
        case _ => var i = 0; while (i < n) { if (!a.isNullAt(i)) dst(i) = a.getDouble(i); i += 1 }
      }
      if (hasNulls(a)) { var i = 0; while (i < n) { if (a.isNullAt(i)) dst(i) = Double.NaN; i += 1 } }
    }
  }

  private def cellCount(a: ArrayData): Int = {
    val n = a.numElements()
    require(n == nCells, s"tile has $n cells, the layout expects $nCells")
    n
  }

  /** Any null element: a word scan of the unsafe null bitmap. */
  private def hasNulls(a: ArrayData): Boolean = a match {
    case u: UnsafeArrayData =>
      val words = (u.numElements() + 63) / 64
      var w = 0
      var found = false
      while (!found && w < words) {
        found = Platform.getLong(u.getBaseObject, u.getBaseOffset + 8 + w * 8L) != 0L
        w += 1
      }
      found
    case _ => (0 until a.numElements()).exists(a.isNullAt)
  }
}

/** Open-addressing `long` key → (cnt, sum, mn, mx) table for one
  * (tile, shape, op): cleared over the slots in use only, iterated in
  * first-insertion order. A new group starts at (0, 0.0, NaN, NaN).
  */
private final class GroupTable {
  var keys = new Array[Long](64)
  private var used = new Array[Boolean](64)
  var cnt = new Array[Long](64)
  var sum = new Array[Double](64)
  var mn = new Array[Double](64)
  var mx = new Array[Double](64)
  var order = new Array[Int](64)
  var size = 0

  def clear(): Unit = {
    var k = 0
    while (k < size) { used(order(k)) = false; k += 1 }
    size = 0
  }

  /** The slot of `key`, inserting an empty group when it is new. */
  def slot(key: Long): Int = {
    if ((size + 1) * 2 > keys.length) grow()
    val mask = keys.length - 1
    var s = GroupTable.mix(key) & mask
    while (used(s) && keys(s) != key) s = (s + 1) & mask
    if (!used(s)) {
      used(s) = true
      keys(s) = key
      cnt(s) = 0L
      sum(s) = 0.0
      mn(s) = Double.NaN
      mx(s) = Double.NaN
      order(size) = s
      size += 1
    }
    s
  }

  def store(s: Int, c: Long, sm: Double, lo: Double, hi: Double): Unit = {
    cnt(s) = c; sum(s) = sm; mn(s) = lo; mx(s) = hi
  }

  private def grow(): Unit = {
    val (oKeys, oCnt, oSum, oMn, oMx, oOrder, n) = (keys, cnt, sum, mn, mx, order, size)
    val cap = keys.length * 2
    keys = new Array[Long](cap); used = new Array[Boolean](cap)
    cnt = new Array[Long](cap); sum = new Array[Double](cap)
    mn = new Array[Double](cap); mx = new Array[Double](cap)
    order = new Array[Int](cap)
    val mask = cap - 1
    var k = 0
    while (k < n) {
      val o = oOrder(k)
      var s = GroupTable.mix(oKeys(o)) & mask
      while (used(s)) s = (s + 1) & mask
      used(s) = true
      keys(s) = oKeys(o); cnt(s) = oCnt(o); sum(s) = oSum(o); mn(s) = oMn(o); mx(s) = oMx(o)
      order(k) = s
      k += 1
    }
  }
}

private object GroupTable {
  def mix(key: Long): Int = {
    val h = key * 0x9E3779B97F4A7C15L
    (h ^ (h >>> 32)).toInt
  }
}

/** Dense ids for value tuples wider than two groups (the keys that do
  * not pack into a `long`): tuples are stored flat with stride `n`.
  */
private final class TupleIds(n: Int) {
  private var tuples = new Array[Int](n * 64)
  private var count = 0
  private var table = new Array[Int](128) // id + 1; 0 = empty

  def id(groups: Array[Array[Int]], ix: Int): Int = {
    if ((count + 1) * 2 > table.length) rehash()
    var h = 1
    var j = 0
    while (j < n) { h = 31 * h + groups(j)(ix); j += 1 }
    val mask = table.length - 1
    var s = GroupTable.mix(h.toLong) & mask
    while (table(s) != 0) {
      val base = (table(s) - 1) * n
      j = 0
      while (j < n && tuples(base + j) == groups(j)(ix)) j += 1
      if (j == n) return table(s) - 1
      s = (s + 1) & mask
    }
    if ((count + 1) * n > tuples.length) tuples = java.util.Arrays.copyOf(tuples, tuples.length * 2)
    j = 0
    while (j < n) { tuples(count * n + j) = groups(j)(ix); j += 1 }
    table(s) = count + 1
    count += 1
    count - 1
  }

  def tuple(id: Int): Array[Int] = java.util.Arrays.copyOfRange(tuples, id * n, id * n + n)

  private def rehash(): Unit = {
    table = new Array[Int](table.length * 2)
    val mask = table.length - 1
    var t = 0
    while (t < count) {
      var h = 1
      var j = 0
      while (j < n) { h = 31 * h + tuples(t * n + j); j += 1 }
      var s = GroupTable.mix(h.toLong) & mask
      while (table(s) != 0) s = (s + 1) & mask
      table(s) = t + 1
      t += 1
    }
  }
}
