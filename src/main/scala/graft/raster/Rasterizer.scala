package graft.raster

import org.locationtech.jts.geom._

/** The rasterizer kernel — the one nontrivial custom piece of the
  * engine (SURVEY §2.2 row R, §4 "custom pieces"): converts polygon /
  * line geometry into the set of covered grid cells of a tile's
  * `RasterExtent`, exactly the role GeoTrellis
  * `Rasterizer.foreachCellByMultiPolygon` / `foreachCellByMultiLineString`
  * plays at the reference call sites (Geoprocessing.scala:263,310,356,
  * 412 and :224).
  *
  * Algorithms (public): even-odd scanline fill at pixel centers for
  * PixelIsPoint; center-fill ∪ supercover boundary traversal
  * (Amanatides–Woo grid walk) for PixelIsArea+includePartial; the same
  * grid walk for lines.
  *
  * Runs per tile inside `ZonalAggregateExec` tasks — no allocation-heavy
  * abstractions, plain index arithmetic on primitive arrays.
  */
object Rasterizer {

  /** Rasterization options, mirroring GeoTrellis `Rasterizer.Options`
    * (reference Utils.scala:109-118): `pixelIsArea=false` samples the
    * cell CENTER (default); `true` includes any cell whose AREA
    * intersects the polygon (used for low-res rasters,
    * CHANGELOG.md:110-113). `includePartial` only matters for
    * PixelIsArea: `false` keeps only cells fully inside.
    *
    * `includePartial=false` with `pixelIsArea=false` is deliberately
    * identical to plain center-sampling — a sampled POINT is never
    * "partial", so the flag has nothing to subtract. This mirrors
    * GeoTrellis, whose includePartial is consulted only on the
    * PixelIsArea branch; RasterizerSpec pins the equivalence.
    */
  final case class Options(includePartial: Boolean = true, pixelIsArea: Boolean = false)
  val DEFAULT: Options = Options()

  /** Visit every covered cell of `re` for a (multi)polygon under
    * `opts`. Callback receives (col, row) of covered cells, each once.
    */
  def foreachCellByPolygon(geom: Geometry, re: RasterExtent, opts: Options = DEFAULT)
                          (f: (Int, Int) => Unit): Unit = {
    val polys = polygonsOf(geom)
    if (polys.isEmpty) return
    if (!opts.pixelIsArea) {
      scanlineCenters(polys, re)(f)
    } else {
      val seen = new java.util.BitSet(re.cols * re.rows)
      val mark = (c: Int, r: Int) =>
        if (c >= 0 && c < re.cols && r >= 0 && r < re.rows) seen.set(r * re.cols + c)
      // interior cells (center inside) …
      scanlineCenters(polys, re)(mark)
      if (opts.includePartial) {
        // … plus every cell the boundary passes through
        polys.foreach { p =>
          ringsOf(p).foreach(ring => foreachCellByLineSegs(ring.getCoordinates, re)(mark))
        }
      } else {
        // fully-inside only: drop center-inside cells whose area
        // crosses the boundary
        val boundary = new java.util.BitSet(re.cols * re.rows)
        val markB = (c: Int, r: Int) =>
          if (c >= 0 && c < re.cols && r >= 0 && r < re.rows) boundary.set(r * re.cols + c)
        polys.foreach { p =>
          ringsOf(p).foreach(ring => foreachCellByLineSegs(ring.getCoordinates, re)(markB))
        }
        seen.andNot(boundary)
      }
      var i = seen.nextSetBit(0)
      while (i >= 0) {
        f(i % re.cols, i / re.cols)
        i = seen.nextSetBit(i + 1)
      }
      return
    }
  }

  /** Visit every cell crossed by the line(s): supercover grid
    * traversal, so a pixel is visited when the segment passes through
    * its area (each pixel at most once per call).
    */
  def foreachCellByLines(geom: Geometry, re: RasterExtent)(f: (Int, Int) => Unit): Unit = {
    val seen = new java.util.BitSet(re.cols * re.rows)
    val mark = (c: Int, r: Int) =>
      if (c >= 0 && c < re.cols && r >= 0 && r < re.rows) seen.set(r * re.cols + c)
    linesOf(geom).foreach(l => foreachCellByLineSegs(l.getCoordinates, re)(mark))
    var i = seen.nextSetBit(0)
    while (i >= 0) {
      f(i % re.cols, i / re.cols)
      i = seen.nextSetBit(i + 1)
    }
  }

  // ---- internals ----

  private def polygonsOf(g: Geometry): Seq[Polygon] = g match {
    case p: Polygon => if (p.isEmpty) Nil else Seq(p)
    case mp: MultiPolygon =>
      (0 until mp.getNumGeometries).map(mp.getGeometryN(_).asInstanceOf[Polygon])
        .filterNot(_.isEmpty)
    case gc: GeometryCollection =>
      (0 until gc.getNumGeometries).flatMap(i => polygonsOf(gc.getGeometryN(i)))
    case _ => Nil
  }

  private def linesOf(g: Geometry): Seq[LineString] = g match {
    case l: LineString => if (l.isEmpty) Nil else Seq(l)
    case ml: MultiLineString =>
      (0 until ml.getNumGeometries).map(ml.getGeometryN(_).asInstanceOf[LineString])
        .filterNot(_.isEmpty)
    case gc: GeometryCollection =>
      (0 until gc.getNumGeometries).flatMap(i => linesOf(gc.getGeometryN(i)))
    case _ => Nil
  }

  private def ringsOf(p: Polygon): Seq[LineString] =
    p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)

  /** Even-odd scanline fill sampling pixel CENTERS (PixelIsPoint).
    * For each pixel row, crossings of all edges with the horizontal
    * line through the row's center y are collected (half-open rule:
    * an edge [y1,y2) counts iff min<=y<max, eliminating double-counted
    * vertices), sorted, and filled pairwise.
    */
  private def scanlineCenters(polys: Seq[Polygon], re: RasterExtent)
                             (f: (Int, Int) => Unit): Unit = {
    // gather edges once
    val edges = new scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double)]
    var ymin = Double.MaxValue
    var ymax = Double.MinValue
    polys.foreach { p =>
      ringsOf(p).foreach { ring =>
        val cs = ring.getCoordinates
        var i = 0
        while (i < cs.length - 1) {
          val a = cs(i); val b = cs(i + 1)
          if (a.y != b.y) edges += ((a.x, a.y, b.x, b.y))
          ymin = math.min(ymin, math.min(a.y, b.y))
          ymax = math.max(ymax, math.max(a.y, b.y))
          i += 1
        }
      }
    }
    if (edges.isEmpty) return
    val r0 = math.max(0, re.mapYToGrid(ymax))
    val r1 = math.min(re.rows - 1, re.mapYToGrid(ymin))
    val xs = new scala.collection.mutable.ArrayBuffer[Double]
    var r = r0
    while (r <= r1) {
      val y = re.rowCenter(r)
      xs.clear()
      edges.foreach { case (x1, y1, x2, y2) =>
        val (ylo, yhi, xlo, xhi) = if (y1 < y2) (y1, y2, x1, x2) else (y2, y1, x2, x1)
        if (y >= ylo && y < yhi)
          xs += xlo + (y - ylo) / (yhi - ylo) * (xhi - xlo)
      }
      val sorted = xs.sorted
      var i = 0
      while (i + 1 < sorted.length) {
        val xEnter = sorted(i)
        val xExit = sorted(i + 1)
        // center-sampled: first col whose center >= xEnter
        var c = math.max(0, math.ceil((xEnter - re.extent.xmin) / re.cellW - 0.5).toInt)
        val cEnd = math.min(re.cols - 1,
          // last col whose center < xExit (strict: a center exactly on
          // the right edge is outside under the half-open rule)
          math.ceil((xExit - re.extent.xmin) / re.cellW - 0.5).toInt - 1)
        while (c <= cEnd) {
          f(c, r)
          c += 1
        }
        i += 2
      }
      r += 1
    }
  }

  /** Supercover traversal of a polyline: marks every cell whose area
    * the segment passes through (Amanatides & Woo, "A Fast Voxel
    * Traversal Algorithm for Ray Tracing", Eurographics 1987).
    */
  private def foreachCellByLineSegs(cs: Array[Coordinate], re: RasterExtent)
                                   (mark: (Int, Int) => Unit): Unit = {
    val e = re.extent
    var i = 0
    while (i < cs.length - 1) {
      val a = cs(i); val b = cs(i + 1)
      // closed-bbox prefilter: cheap per-tile segment rejection without
      // JTS clipping (clipping would degenerate border-touching
      // segments to points and lose their edge cells)
      val overlaps =
        math.max(a.x, b.x) >= e.xmin && math.min(a.x, b.x) <= e.xmax &&
          math.max(a.y, b.y) >= e.ymin && math.min(a.y, b.y) <= e.ymax
      if (overlaps)
        traverseSegment(a.x, a.y, b.x, b.y, re)(mark)
      i += 1
    }
  }

  private def traverseSegment(rx0: Double, ry0: Double, rx1: Double, ry1: Double,
                              re: RasterExtent)(mark: (Int, Int) => Unit): Unit = {
    // parametric (slab) clamp to the tile extent so the walk costs
    // O(local coverage), not O(full segment length) per tile — a long
    // line crossing N tiles would otherwise cost N × its whole path
    val e = re.extent
    val fdx = rx1 - rx0
    val fdy = ry1 - ry0
    var tmin = 0.0
    var tmax = 1.0
    def slab(p: Double, d: Double, lo: Double, hi: Double): Boolean = {
      if (d == 0.0) return p >= lo && p <= hi
      var t0 = (lo - p) / d
      var t1 = (hi - p) / d
      if (t0 > t1) { val tmp = t0; t0 = t1; t1 = tmp }
      tmin = math.max(tmin, t0)
      tmax = math.min(tmax, t1)
      tmin <= tmax
    }
    if (!slab(rx0, fdx, e.xmin, e.xmax) || !slab(ry0, fdy, e.ymin, e.ymax)) return
    val x0 = rx0 + tmin * fdx
    val y0 = ry0 + tmin * fdy
    val x1 = rx0 + tmax * fdx
    val y1 = ry0 + tmax * fdy
    val dx = x1 - x0
    val dy = y1 - y0
    var c = re.mapXToGrid(x0)
    var r = re.mapYToGrid(y0)
    val cEnd = re.mapXToGrid(x1)
    val rEnd = re.mapYToGrid(y1)
    mark(c, r)
    if (c == cEnd && r == rEnd) return
    val stepC = if (dx > 0) 1 else if (dx < 0) -1 else 0
    val stepR = if (dy > 0) -1 else if (dy < 0) 1 else 0 // row grows downward
    // parametric distance to the next vertical / horizontal cell edge
    def xEdge(cc: Int): Double = re.extent.xmin + (if (stepC > 0) (cc + 1) else cc) * re.cellW
    def yEdge(rr: Int): Double = re.extent.ymax - (if (stepR > 0) (rr + 1) else rr) * re.cellH
    var tMaxX = if (stepC == 0) Double.PositiveInfinity else (xEdge(c) - x0) / dx
    var tMaxY = if (stepR == 0) Double.PositiveInfinity else (yEdge(r) - y0) / dy
    val tDeltaX = if (stepC == 0) Double.PositiveInfinity else re.cellW / math.abs(dx)
    val tDeltaY = if (stepR == 0) Double.PositiveInfinity else re.cellH / math.abs(dy)
    var guard = 0
    val maxSteps = math.abs(cEnd - c) + math.abs(rEnd - r) + 4
    while ((c != cEnd || r != rEnd) && guard < maxSteps) {
      if (tMaxX < tMaxY) {
        c += stepC
        tMaxX += tDeltaX
      } else {
        r += stepR
        tMaxY += tDeltaY
      }
      mark(c, r)
      guard += 1
    }
  }
}
