package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.dggs.GridKernel
import graft.dggs.Sphere.GeoRad
import graft.ops.GridOps

/** The generic column layer and operators agree with the kernel API on
  * every kernel of the table, over a seeded world-wide sample.
  */
class KernelTableSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]").config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val Res = 6
  /** seeded points, uniform by area */
  private val points = {
    val rnd = new scala.util.Random(11)
    Seq.fill(300)((rnd.nextDouble() * 360.0 - 180.0,
      math.toDegrees(math.asin(rnd.nextDouble() * 2.0 - 1.0))))
  }

  test("every kernel's column layer equals its kernel API on a seeded sample") {
    val s = spark
    import s.implicits._
    for (k <- GridKernel.all) {
      val g = GridColumns(k)
      val rows = points.toDF("lon", "lat")
        .withColumn("cell", g.cellForPoint(col("lon"), col("lat"), lit(Res)))
        .select(col("lon"), col("lat"), col("cell"), g.cellCenter(col("cell")).as("c"),
          size(g.cellBoundary(col("cell"))).as("nv"), g.string(col("cell")).as("str"),
          g.fromString(g.string(col("cell"))).as("back"),
          array((0 to Res).map(r => g.ancestorAtExpr(col("cell"), lit(r))): _*).as("anc"))
        .collect()
      assert(rows.length == points.length)
      for (r <- rows) {
        val (lon, lat, z) = (r.getDouble(0), r.getDouble(1), r.getLong(2))
        assert(z == k.cellForPoint(GeoRad.fromDeg(lat, lon), Res), k.name)
        val c = k.cellCenter(z)
        assert(r.getStruct(3).getDouble(0) == c.lonDeg && r.getStruct(3).getDouble(1) == c.latDeg,
          k.name)
        assert(r.getInt(4) == k.cellBoundary(z).length, k.name)
        assert(r.getString(5) == k.cellToString(z) && r.getLong(6) == z, k.name)
        assert(r.getSeq[Long](7) == (0 to Res).map(k.ancestorAt(z, _)),
          s"${k.name} ancestors of $z")
      }
    }
  }

  test("uncompactCells(compactCells(x)) == x on a full subtree of every kernel") {
    val s = spark
    import s.implicits._
    for (k <- GridKernel.all) {
      // a full-aperture subtree: the last child of a non-cap base cell
      val parent = k.children(k.baseCells(5)).last
      val full = k.descendants(parent, 3)
      val compacted = GridOps.compactCells(full.toDF("cell_id"), kernel = k)
      assert(compacted.as[Long].collect().toSeq == Seq(parent), k.name)
      val back = GridOps.uncompactCells(compacted, 3, kernel = k).as[Long].collect().toSet
      assert(back == full.toSet, k.name)
      spark.catalog.clearCache()
    }
  }

  test("a kernel serializes as its key and resolves to the cached instance") {
    for (k <- GridKernel.all) {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(k)
      out.close()
      assert(bytes.size() < 1024, s"${k.name}: ${bytes.size()} bytes")
      val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      assert(in.readObject() eq k, k.name)
    }
  }
}
