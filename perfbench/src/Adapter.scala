package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's only door into the engine: every call into `graft.*`
  * goes through this file. A change that renames or merges kernel,
  * column or join entry points edits the call sites here and nowhere
  * else in the benchmark.
  */
object Adapter {
  import graft.dggs.Sphere.GeoRad

  /** One grid kernel as the benchmark drives it, at one resolution. */
  trait Kernel {
    def name: String
    /** resolution the workload assigns at (and the micro legs measure at) */
    def res: Int
    /** resolution of the parent rollup */
    def rollupRes: Int
    /** kernel layer: point -> cell id, no Spark */
    def cellForPoint(latDeg: Double, lonDeg: Double): Long
    /** kernel layer: cell -> center; returns lat + lon (degrees) as a sink */
    def centerSum(cell: Long): Double
    /** kernel layer: cell -> boundary; returns the vertex count as a sink */
    def boundaryLen(cell: Long): Int
    /** operator layer: GridOps.cellsForGeoPoints* (adds cell_id and name) */
    def assign(points: DataFrame): DataFrame
    /** column layer: cell id of (lon, lat) columns */
    def cellForPointCol(lon: Column, lat: Column): Column
    /** column layer: ancestor of a cell id column at resolution r */
    def ancestorAtCol(cell: Column, r: Int): Column
  }

  private def geo(latDeg: Double, lonDeg: Double) = GeoRad.fromDeg(latDeg, lonDeg)

  val Res = 9
  val RollupRes = 3

  /** the six kernels, each with the engine's default orientation */
  lazy val kernels: Seq[Kernel] = {
    import graft.dggs.{Isea3HGrids, Isea43HGrids, Isea4DGrids, Isea4HGrids, Isea4TGrids}
    import graft.ops.GridOps
    import graft.spark.{D4Functions, T4Functions, Z3Functions, Z43Functions, Z4Functions,
      DggsFunctions => Z7F, Grids}
    val n4 = 3
    Seq(
      new Kernel {
        private val g = Grids.default
        val name = "z7"; val res = Res; val rollupRes = RollupRes
        def cellForPoint(la: Double, lo: Double) = g.cellForPoint(geo(la, lo), res)
        def centerSum(z: Long) = { val c = g.cellCenter(z); c.lat + c.lon }
        def boundaryLen(z: Long) = g.cellBoundary(z).length
        def assign(p: DataFrame) = GridOps.cellsForGeoPoints(p, "lon", "lat", res)
        def cellForPointCol(lo: Column, la: Column) = Z7F.cellForPoint(lo, la, lit(res))
        def ancestorAtCol(c: Column, r: Int) = Z7F.z7AncestorAtExpr(c, lit(r))
      },
      new Kernel {
        private val g = Isea3HGrids.default
        val name = "isea3h"; val res = Res; val rollupRes = RollupRes
        def cellForPoint(la: Double, lo: Double) = g.cellForPoint(geo(la, lo), res)
        def centerSum(z: Long) = { val c = g.cellCenter(z); c.lat + c.lon }
        def boundaryLen(z: Long) = g.cellBoundary(z).length
        def assign(p: DataFrame) = GridOps.cellsForGeoPoints3H(p, "lon", "lat", res)
        def cellForPointCol(lo: Column, la: Column) = Z3Functions.cellForPoint(lo, la, lit(res))
        def ancestorAtCol(c: Column, r: Int) = Z3Functions.z3AncestorAtExpr(c, lit(r))
      },
      new Kernel {
        private val g = Isea4HGrids.default
        val name = "isea4h"; val res = Res; val rollupRes = RollupRes
        def cellForPoint(la: Double, lo: Double) = g.cellForPoint(geo(la, lo), res)
        def centerSum(z: Long) = { val c = g.cellCenter(z); c.lat + c.lon }
        def boundaryLen(z: Long) = g.cellBoundary(z).length
        def assign(p: DataFrame) = GridOps.cellsForGeoPoints4H(p, "lon", "lat", res)
        def cellForPointCol(lo: Column, la: Column) = Z4Functions.cellForPoint(lo, la, lit(res))
        def ancestorAtCol(c: Column, r: Int) = Z4Functions.z4AncestorAtExpr(c, lit(r))
      },
      new Kernel {
        private val g = Isea43HGrids.default(n4)
        val name = "isea43h"; val res = Res; val rollupRes = RollupRes
        def cellForPoint(la: Double, lo: Double) = g.cellForPoint(geo(la, lo), res)
        def centerSum(z: Long) = { val c = g.cellCenter(z); c.lat + c.lon }
        def boundaryLen(z: Long) = g.cellBoundary(z).length
        def assign(p: DataFrame) = GridOps.cellsForGeoPoints43H(p, "lon", "lat", res, n4)
        def cellForPointCol(lo: Column, la: Column) =
          Z43Functions.cellForPoint(lo, la, lit(res), n4)
        def ancestorAtCol(c: Column, r: Int) = Z43Functions.z43AncestorAtExpr(c, lit(r))
      },
      new Kernel {
        private val g = Isea4TGrids.default
        val name = "isea4t"; val res = Res; val rollupRes = RollupRes
        def cellForPoint(la: Double, lo: Double) = g.cellForPoint(geo(la, lo), res)
        def centerSum(z: Long) = { val c = g.cellCenter(z); c.lat + c.lon }
        def boundaryLen(z: Long) = g.cellBoundary(z).length
        def assign(p: DataFrame) = GridOps.cellsForGeoPoints4T(p, "lon", "lat", res)
        def cellForPointCol(lo: Column, la: Column) = T4Functions.cellForPoint(lo, la, lit(res))
        def ancestorAtCol(c: Column, r: Int) = T4Functions.t4AncestorAtExpr(c, lit(r))
      },
      new Kernel {
        private val g = Isea4DGrids.default
        val name = "isea4d"; val res = Res; val rollupRes = RollupRes
        def cellForPoint(la: Double, lo: Double) = g.cellForPoint(geo(la, lo), res)
        def centerSum(z: Long) = { val c = g.cellCenter(z); c.lat + c.lon }
        def boundaryLen(z: Long) = g.cellBoundary(z).length
        def assign(p: DataFrame) = GridOps.cellsForGeoPoints4D(p, "lon", "lat", res)
        def cellForPointCol(lo: Column, la: Column) = D4Functions.cellForPoint(lo, la, lit(res))
        def ancestorAtCol(c: Column, r: Int) = D4Functions.d4AncestorAtExpr(c, lit(r))
      })
  }

  def kernel(name: String): Kernel = kernels.find(_.name == name).get

  /** The phases of the Z7 point -> cell path, for the kernel micro legs. */
  object Z7Phases {
    private val g = graft.spark.Grids.default
    def snyderForward(la: Double, lo: Double): Int = g.snyder.forward(geo(la, lo)).face
    def sphereToQuad(la: Double, lo: Double): Int = g.quads.sphereToQuad(geo(la, lo))._1
    def fix(la: Double, lo: Double, r: Int): Long = g.fixForPoint(geo(la, lo), r).v.a
    /** true when the fast lattice walk rejects the point (slow path taken) */
    def fastWalkFallsBack(la: Double, lo: Double, r: Int): Boolean =
      g.fastWalkProbe(g.fixForPoint(geo(la, lo), r)) == -1L
  }

  // ---- column layer (Z7) ----

  def z7BoundaryCol(cell: Column): Column = graft.spark.DggsFunctions.cellBoundary(cell)

  // ---- operator layer ----

  /** GridOps.cellPyramid over uniform-resolution Z7 cells */
  def cellPyramid(cells: DataFrame, minRes: Int, res: Int): DataFrame =
    graft.ops.GridOps.cellPyramid(cells, minRes = minRes, res = Some(res))

  /** SpatialOps.coverCellsDf: (poly_id, wkt) -> (poly_id, wkt, cell_id) */
  def coverCells(polygons: DataFrame, res: Int): DataFrame =
    graft.ops.SpatialOps.coverCellsDf(polygons, res)

  /** point-in-polygon join against a uniform-resolution cover;
    * `broadcast` None lets the planner choose (auto), Some(true) forces
    * the broadcast path, Some(false) the shuffle path
    */
  def pipJoin(points: DataFrame, covers: DataFrame, res: Int,
              broadcast: Option[Boolean]): DataFrame =
    graft.ops.SpatialOps.pointInPolygonJoinCover(points, "lon", "lat", covers, res, broadcast)

  /** the points x cover equi-join before the exact refine (candidates) */
  def pipCandidates(points: DataFrame, covers: DataFrame, res: Int): DataFrame =
    graft.ops.GridOps.cellsForGeoPoints(points, "lon", "lat", res)
      .join(covers.select("cell_id"), Seq("cell_id"))

  /** GridOps.compactCells keyed per polygon */
  def compactCover(covers: DataFrame): DataFrame =
    graft.ops.GridOps.compactCells(covers, keyCols = Seq("poly_id", "wkt"))

  def pipJoinCompact(points: DataFrame, compacted: DataFrame, res: Int): DataFrame =
    graft.ops.SpatialOps.pointInPolygonJoinCompact(points, "lon", "lat", compacted, res)

  def distanceJoin(left: DataFrame, right: DataFrame, radiusKm: Double): DataFrame =
    graft.ops.SpatialOps.distanceJoin(left, right, "lon", "lat", radiusKm)

  // ---- registry layer ----

  /** SparkEntry.queries: name -> (session, table dir) => result */
  def queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries
}
