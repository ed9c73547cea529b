package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ZonalAggregateExec
import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}

import graft.SparkSpec
import graft.raster.{Extent, Layout, NoData, Rasterizer}
import graft.sources.TileCatalog
import graft.sources.TileCatalog.RasterMeta

/** Operator goldens on a hand-computable catalog:
  * layout = 2×2 tiles × 4×4 cells over extent (0,0)-(8,8), cell 1 m.
  * Global cell (gc, gr): gc = keyCol*4+c, gr = keyRow*4+r; row 0 top.
  *
  *  - raster "ca" (int): value = global col; cell (gc=2, gr=2) NODATA.
  *  - raster "cb" (int): 1 where gr<4 else 2; tile (1,1) MISSING
  *    (exercises the NODATA-fill align join).
  *  - raster "cd" (double): gc + gr; cell (5,5) NaN (NODATA).
  *
  * AOI square [1,7]² masks centers gc∈1..6 × gr∈1..6 (36 px).
  */
class ZonalSpec extends AnyFunSuite with SparkSpec {

  private val gf = new GeometryFactory()
  private val layout = Layout(Extent(0, 0, 8, 8), 4, 4, 2, 2)

  private def meta(id: String, ct: String) =
    RasterMeta(id, 0, "ConusAlbers", ct, 0, 0, 8, 8, 4, 4, 2, 2)

  private def square(x0: Double, y0: Double, x1: Double, y1: Double) =
    gf.createMultiPolygon(Array(gf.createPolygon(Array(
      new Coordinate(x0, y0), new Coordinate(x1, y0), new Coordinate(x1, y1),
      new Coordinate(x0, y1), new Coordinate(x0, y0)))))

  private lazy val path: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat").toString
    def intTiles(f: (Int, Int) => Int, skip: Set[(Int, Int)] = Set.empty) =
      (for (kc <- 0 to 1; kr <- 0 to 1; if !skip((kc, kr))) yield {
        val arr = Array.tabulate(16)(i => f(kc * 4 + i % 4, kr * 4 + i / 4))
        (kc, kr, arr)
      })
    def dblTiles(f: (Int, Int) => Double) =
      (for (kc <- 0 to 1; kr <- 0 to 1) yield {
        val arr = Array.tabulate(16)(i => f(kc * 4 + i % 4, kr * 4 + i / 4))
        (kc, kr, arr)
      })
    TileCatalog.writeIntLayer(spark, dir, meta("ca", "int"),
      intTiles((gc, gr) => if (gc == 2 && gr == 2) NoData.INT else gc))
    TileCatalog.writeIntLayer(spark, dir, meta("cb", "int"),
      intTiles((gc, gr) => if (gr < 4) 1 else 2, skip = Set((1, 1))))
    TileCatalog.writeDoubleLayer(spark, dir, meta("cd", "double"),
      dblTiles((gc, gr) => if (gc == 5 && gr == 5) Double.NaN else (gc + gr).toDouble))
    TileCatalog.writeMeta(dir, Seq(meta("ca", "int"), meta("cb", "int"), meta("cd", "double")))
    dir
  }

  private def layer(id: String): Zonal.Layer = {
    val m = TileCatalog.readMeta(path)(id)
    Zonal.Layer(m, TileCatalog.readLayer(spark, path, m, square(0, 0, 8, 8)))
  }

  private val aoi = square(1, 1, 7, 7)

  /** The one fused exec of an executed plan (AQE stages included). */
  private def zonalExec(df: DataFrame): ZonalAggregateExec = {
    val execs = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case z: ZonalAggregateExec => z
    }
    assert(execs.size == 1, df.queryExecution.executedPlan)
    execs.head
  }

  test("catalog scan prunes to intersecting tiles") {
    val m = TileCatalog.readMeta(path)("ca")
    val pruned = TileCatalog.readLayer(spark, path, m, square(0.5, 0.5, 3.5, 3.5))
    assert(pruned.count() == 1) // only tile (0, 1)
    assert(pruned.collect().head.getInt(0) == 0)
  }

  test("groupedCount: NODATA groups as sentinel; missing tile fills NODATA") {
    val df = Zonal.groupedCount(spark, layout, Seq(layer("ca"), layer("cb")), aoi)
    val got = Render.toResultInt(df)
    val want = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (gc <- 1 to 6; gr <- 1 to 6) {
      val a = if (gc == 2 && gr == 2) NoData.INT else gc
      val b = if (gc >= 4 && gr >= 4) NoData.INT else if (gr < 4) 1 else 2
      want(s"List($a, $b)") += 1
    }
    assert(got == want.toMap)
    assert(got.keySet.exists(_.contains("-2147483648")))
  }

  test("average (ungrouped): NODATA target counts as 0.0; key List(0)") {
    val df = Zonal.groupedAverage(spark, layout, Nil, layer("cd"), aoi)
    val got = Render.toResultDouble(df)
    val sum = (for (gc <- 1 to 6; gr <- 1 to 6; if !(gc == 5 && gr == 5))
      yield (gc + gr).toDouble).sum
    assert(got.keySet == Set("List(0)"))
    assert(math.abs(got("List(0)") - sum / 36) < 1e-12)
  }

  test("groupedAverage by cb") {
    val df = Zonal.groupedAverage(spark, layout, Seq(layer("cb")), layer("cd"), aoi)
    val got = Render.toResultDouble(df)
    // groups: 1 (gr 1..3), 2 (gr 4..6 & gc 1..3), NODATA (gc>=4 & gr>=4)
    val g1 = for (gc <- 1 to 6; gr <- 1 to 3) yield (gc + gr).toDouble
    val g2 = for (gc <- 1 to 3; gr <- 4 to 6) yield (gc + gr).toDouble
    val gn = for (gc <- 4 to 6; gr <- 4 to 6)
      yield if (gc == 5 && gr == 5) 0.0 else (gc + gr).toDouble
    assert(got.keySet == Set("List(1)", "List(2)", s"List(${NoData.INT})"))
    assert(math.abs(got("List(1)") - g1.sum / g1.size) < 1e-12)
    assert(math.abs(got("List(2)") - g2.sum / g2.size) < 1e-12)
    assert(math.abs(got(s"List(${NoData.INT})") - gn.sum / gn.size) < 1e-12)
  }

  test("summary: min/max skip NODATA, avg counts it as 0") {
    val df = Zonal.summary(spark, layout, Seq(layer("cd")), aoi)
    val rows = df.collect()
    assert(rows.length == 1)
    val (mn, av, mx) = (rows(0).getDouble(2), rows(0).getDouble(3), rows(0).getDouble(4))
    assert(mn == 2.0) // (1,1)
    assert(mx == 12.0) // (6,6)
    val sum = (for (gc <- 1 to 6; gr <- 1 to 6; if !(gc == 5 && gr == 5))
      yield (gc + gr).toDouble).sum
    assert(math.abs(av - sum / 36) < 1e-12)
  }

  test("summary preserves input raster order") {
    val df = Zonal.summary(spark, layout, Seq(layer("cd"), layer("cd")), aoi)
    val ids = df.collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(0, 1))
  }

  test("groupedCountMany: per-shape results in one pass") {
    val aois = Seq(square(1, 5, 4, 7), square(4, 1, 7, 4))
    val df = Zonal.groupedCountMany(spark, layout, Seq(layer("ca"), layer("cb")), aois)
    val got = Render.toResultManyInt(df, 2)
    // shape 0: [1,4]×[5,7] → gc 1..3, gr 1..2; ca=gc except (2,2)=ND; cb=1
    assert(got(0) == Map("List(1, 1)" -> 2, "List(2, 1)" -> 1,
      "List(3, 1)" -> 2, s"List(${NoData.INT}, 1)" -> 1))
    // shape 1: [4,7]×[1,4] → gc 4..6, gr 4..6; ca present, cb tile (1,1)
    // missing → NODATA-filled via the full-outer align join
    assert(got(1) == (4 to 6).map(c => s"List($c, ${NoData.INT})" -> 3).toMap)
  }

  test("tile missing from ALL layers contributes no pixels (join-keys semantics)") {
    val df = Zonal.groupedCount(spark, layout, Seq(layer("cb")), square(4, 1, 7, 4))
    assert(df.count() == 0)
  }

  test("linesJoin: distinct pixels, grouped by value tuple") {
    val line = gf.createMultiLineString(Array(
      gf.createLineString(Array(new Coordinate(0.5, 1.5), new Coordinate(7.5, 1.5)))))
    val dup = gf.createMultiLineString(Array(
      gf.createLineString(Array(new Coordinate(0.5, 1.5), new Coordinate(7.5, 1.5)))))
    val df = Zonal.linesJoin(spark, layout, Seq(layer("ca")), Seq(line, dup))
    val got = Render.toResultInt(df)
    // y=1.5 → gr 6; cols 0..7, ca = gc → one distinct pixel per value
    assert(got == (0 to 7).map(c => s"List($c)" -> 1).toMap)
  }

  test("empty AOI yields empty result, not an error") {
    val df = Zonal.groupedCount(spark, layout, Seq(layer("ca")),
      gf.createMultiPolygon(Array.empty))
    assert(df.count() == 0)
  }

  test("linesJoinMany: per-shape dedup in one pass") {
    val mkLine = (y: Double) => gf.createMultiLineString(Array(
      gf.createLineString(Array(new Coordinate(0.5, y), new Coordinate(7.5, y)))))
    // shape 0 gets the row-6 line (y=1.5), shape 1 the row-1 line (y=6.5)
    val df = Zonal.linesJoinMany(spark, layout, Seq(layer("ca")),
      Seq(Seq(mkLine(1.5), mkLine(1.5)), Seq(mkLine(6.5))))
    val got = df.collect().map(r =>
      (r.getInt(0), r.getSeq[Int](1).head) -> r.getLong(2)).toMap
    // duplicate line in shape 0 still counts each pixel once
    assert((0 to 7).forall(c => got((0, c)) == 1))
    assert((0 to 7).forall(c => got((1, c)) == 1))
    assert(got.size == 16)
  }

  test("multiBatch unions count+average+lines into one (shape, op, k, v) frame") {
    val shapes = Seq(square(1, 5, 4, 7), square(4, 1, 7, 4))
    val shared = Map("ca" -> layer("ca"), "cb" -> layer("cb"), "cd" -> layer("cd"))
    val line = gf.createMultiLineString(Array(
      gf.createLineString(Array(new Coordinate(0.5, 6.2), new Coordinate(7.5, 6.2)))))
    val df = Zonal.multiBatch(spark, layout, shared, shapes, Seq(line), Seq(
      Zonal.BatchCount("cnt_cb", Seq("cb")),
      Zonal.BatchAverage("avg_cd", Seq(), "cd"),
      Zonal.BatchLines("lines_cb", Seq("cb"))))
    val rows = df.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
    // shape 0 [1,4]×[5,7]: gr 1..2 → cb=1, 6 px, Ints widened to Double
    assert(rows((0, "cnt_cb", "List(1)")) == 6.0)
    // shape 0 avg of cd over its 6 px: gc 1..3 × gr 1..2
    val exp0 = (for (gc <- 1 to 3; gr <- 1 to 2) yield (gc + gr).toDouble).sum / 6
    assert(math.abs(rows((0, "avg_cd", "List(0)")) - exp0) < 1e-12)
    // line y=6.2 → gr 1: inside shape 0's clip x∈[1,4] only → cb=1
    assert(rows.contains((0, "lines_cb", "List(1)")))
    // shape 1 [4,7]×[1,4] lies in cb's missing tile: with cb the ONLY
    // layer there is no join key at all → no pixels (reference
    // join-keys semantics; NODATA fill needs ≥1 present layer)
    assert(!rows.keys.exists(k => k._1 == 1 && k._2 == "cnt_cb"))
    // avg_cd still covers shape 1 (cd has all tiles)
    val exp1 = (for (gc <- 4 to 6; gr <- 4 to 6)
      yield if (gc == 5 && gr == 5) 0.0 else (gc + gr).toDouble).sum / 9
    assert(math.abs(rows((1, "avg_cd", "List(0)")) - exp1) < 1e-12)
    // line does not cross shape 1 (y=6.2 not in [1,4]) → no lines rows
    assert(!rows.keys.exists(k => k._1 == 1 && k._2 == "lines_cb"))
  }

  test("envelope fast-path rejects disjoint (tile, shape) pairs without JTS") {
    // 12 single-cell shapes, each interior to exactly one of the 4
    // tiles ⇒ 12 × 3 = 36 (tile, shape) pairs must take the envelope
    // rejection, and each shape still masks exactly its one cell
    val cells = Seq((0, 0), (3, 1), (5, 2), (7, 3), (1, 5), (6, 6),
      (2, 3), (4, 4), (7, 7), (0, 7), (5, 0), (3, 6))
    val shapes = cells.map { case (gc, gr) =>
      square(gc + 0.1, gr + 0.1, gc + 0.9, gr + 0.9)
    }
    val df = Zonal.groupedCountMany(spark, layout, Seq(layer("ca")), shapes)
    val rows = df.collect().map(r =>
      (r.getInt(0), r.getSeq[Int](1).head) -> r.getLong(2)).toMap
    val exec = zonalExec(df)
    assert(exec.metrics("envelopeSkips").value == 36)
    assert(exec.metrics("numTiles").value == 4)
    assert(exec.metrics("numMasks").value == cells.size)
    assert(exec.metrics("maskedCells").value == cells.size)
    // ca = gc (no picked cell hits the (2,2) NODATA hole): shape i
    // masks one cell of value gc
    cells.zipWithIndex.foreach { case ((gc, _), si) =>
      assert(rows((si, gc)) == 1L, s"shape $si")
    }
    assert(rows.values.sum == cells.size)
  }

  test("explain names ZonalAggregateExec and its metrics") {
    val df = Zonal.groupedCount(spark, layout, Seq(layer("ca"), layer("cb")), aoi)
    val plan = df.queryExecution.explainString(FormattedMode)
    assert(plan.contains("ZonalAggregateExec"), plan)
    Seq("number of tiles", "envelope-skipped (tile, shape) pairs", "number of masks",
      "masked cells", "rasterize time").foreach(m => assert(plan.contains(m), s"$m in\n$plan"))
  }

  test("multiBatch: an op skips a tile its own rasters lack, even when another op reads it") {
    // cb lacks tile (1,1) that ca and cd have; shape 1 lies inside it
    val shapes = Seq(square(1, 5, 4, 7), square(4, 1, 7, 4), square(2.5, 2.5, 5.5, 5.5))
    val shared = Map("ca" -> layer("ca"), "cb" -> layer("cb"), "cd" -> layer("cd"))
    val line = gf.createMultiLineString(Array(
      gf.createLineString(Array(new Coordinate(0.5, 2.5), new Coordinate(7.5, 2.5))),
      gf.createLineString(Array(new Coordinate(5.5, 0.5), new Coordinate(5.5, 7.5)))))
    val ops = Seq(
      Zonal.BatchCount("cnt_cb", Seq("cb")),
      Zonal.BatchCount("cnt_ca_cb", Seq("ca", "cb")),
      Zonal.BatchAverage("avg_cd_by_cb", Seq("cb"), "cd"),
      Zonal.BatchAverage("avg_cd", Seq(), "cd"),
      Zonal.BatchLines("lines_cb", Seq("cb")),
      Zonal.BatchCount("cnt_ca_area", Seq("ca"),
        Rasterizer.Options(includePartial = true, pixelIsArea = true)))
    val multi = Zonal.multiBatch(spark, layout, shared, shapes, Seq(line), ops)
      .collect().map(r => (r.getString(1), r.getInt(0), r.getString(2)) -> r.getDouble(3))
    def render(df: org.apache.spark.sql.DataFrame, v: org.apache.spark.sql.Row => Double) =
      df.collect().map(r => (r.getInt(0), Render.listKey(r.getSeq[Int](1))) -> v(r)).toMap
    val cnt = (r: org.apache.spark.sql.Row) => r.getLong(2).toDouble
    val avg = (r: org.apache.spark.sql.Row) => r.getDouble(2)
    val alone = Map(
      "cnt_cb" -> render(Zonal.groupedCountMany(spark, layout, Seq(layer("cb")), shapes), cnt),
      "cnt_ca_cb" -> render(Zonal.groupedCountMany(spark, layout,
        Seq(layer("ca"), layer("cb")), shapes), cnt),
      "avg_cd_by_cb" -> render(Zonal.groupedAverageMany(spark, layout,
        Seq(layer("cb")), layer("cd"), shapes), avg),
      "avg_cd" -> render(Zonal.groupedAverageMany(spark, layout, Nil, layer("cd"), shapes), avg),
      "lines_cb" -> render(Zonal.linesJoinMany(spark, layout, Seq(layer("cb")),
        shapes.map(s => graft.geom.GeomOps.clipLines(Seq(line), s))), cnt),
      "cnt_ca_area" -> render(Zonal.groupedCountMany(spark, layout, Seq(layer("ca")), shapes,
        Rasterizer.Options(includePartial = true, pixelIsArea = true)), cnt))
    ops.foreach { op =>
      val got = multi.collect { case ((l, si, k), v) if l == op.label => (si, k) -> v }.toMap
      val want = alone(op.label)
      assert(got.keySet == want.keySet, op.label)
      want.foreach { case (k, v) => assert(math.abs(got(k) - v) <= 1e-12 * math.abs(v), s"${op.label} $k") }
    }
    // the join-key rule is what the comparison exercises: cb alone has
    // no rows for shape 1, ca has
    assert(!alone("cnt_cb").keys.exists(_._1 == 1))
    assert(alone("cnt_ca_cb").keys.exists(_._1 == 1))
    assert(alone("lines_cb").nonEmpty && alone("cnt_ca_area").nonEmpty)
  }

  test("three group layers (wide key) match a brute-force count") {
    val df = Zonal.groupedCount(spark, layout, Seq(layer("ca"), layer("cb"), layer("cd")), aoi)
    val want = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (gc <- 1 to 6; gr <- 1 to 6) {
      val a = if (gc == 2 && gr == 2) NoData.INT else gc
      val b = if (gc >= 4 && gr >= 4) NoData.INT else if (gr < 4) 1 else 2
      // the double raster reads as Int: NaN → NODATA
      val d = if (gc == 5 && gr == 5) NoData.INT else gc + gr
      want(s"List($a, $b, $d)") += 1
    }
    assert(Render.toResultInt(df) == want.toMap)
  }

  test("the plane survives a self-join (attribute dedup)") {
    val a = Zonal.groupedCountMany(spark, layout, Seq(layer("ca"), layer("cb")),
      Seq(square(1, 5, 4, 7), square(4, 1, 7, 4)))
    val joined = a.join(a.select(col("shape_id"), col("vals"), col("cnt").as("c2")),
      Seq("shape_id", "vals")).collect()
    assert(joined.length == a.count())
    assert(joined.forall(r => r.getAs[Long]("cnt") == r.getAs[Long]("c2")))
  }

  test("pixelIsArea widens the mask (reference pixelIsArea=true rasters)") {
    val tiny = square(2.6, 2.6, 2.9, 2.9)
    val point = Zonal.groupedCount(spark, layout, Seq(layer("ca")), tiny)
    val area = Zonal.groupedCount(spark, layout, Seq(layer("ca")), tiny,
      Rasterizer.Options(includePartial = true, pixelIsArea = true))
    assert(point.count() == 0)
    assert(Render.toResultInt(area) == Map("List(2)" -> 1))
  }
}
