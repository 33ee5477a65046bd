package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.dggs.{D4, Isea3HGrids, Isea43HGrids, Isea4DGrids, Isea4HGrids, Isea4TGrids, T4, Z7}
import graft.dggs.Sphere.GeoRad

/** Defined behaviour at every kernel boundary, for all six grid
  * families: a non-finite or |lat| > 90 point is an
  * IllegalArgumentException from the kernel API and a null cell from
  * the column layer; a resolution outside [0, maxRes] is one
  * IllegalArgumentException naming the kernel and its range.
  */
class KernelValidationSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]").config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private case class Kernel(name: String, cellForPoint: (GeoRad, Int) => Long, maxRes: Int,
                            column: (Column, Column, Column) => Column)

  private val kernels = Seq(
    Kernel("IGEO7", Grids.default.cellForPoint, Z7.MaxRes, DggsFunctions.cellForPoint(_, _, _)),
    Kernel("ISEA3H", Isea3HGrids.default.cellForPoint, Isea3HGrids.default.maxRes,
      Z3Functions.cellForPoint(_, _, _)),
    Kernel("ISEA4H", Isea4HGrids.default.cellForPoint, Isea4HGrids.default.maxRes,
      Z4Functions.cellForPoint(_, _, _)),
    Kernel("ISEA43H", Isea43HGrids.default(3).cellForPoint, Isea43HGrids.default(3).maxRes,
      Z43Functions.cellForPoint(_, _, _, 3)),
    Kernel("ISEA4T", Isea4TGrids.default.cellForPoint, T4.MaxRes,
      T4Functions.cellForPoint(_, _, _)),
    Kernel("ISEA4D", Isea4DGrids.default.cellForPoint, D4.MaxRes,
      D4Functions.cellForPoint(_, _, _)))

  private val nan = Double.NaN
  private val inf = Double.PositiveInfinity
  /** (lon°, lat°) pairs no kernel may map to a cell */
  private val badPoints = Seq((20.0, nan), (nan, 20.0), (20.0, inf), (20.0, -inf),
    (inf, 20.0), (-inf, 20.0), (20.0, 95.0), (20.0, -95.0), (nan, nan))

  test("kernel API: non-finite or |lat| > 90 points raise IllegalArgumentException") {
    for (k <- kernels; (lon, lat) <- badPoints) {
      val e = intercept[IllegalArgumentException] {
        k.cellForPoint(GeoRad.fromDeg(lat, lon), 5)
      }
      assert(e.getMessage.contains(k.name), s"${k.name} ($lon, $lat): ${e.getMessage}")
    }
    // the poles and the antimeridian are valid input
    for (k <- kernels; (lon, lat) <- Seq((0.0, 90.0), (0.0, -90.0), (180.0, 10.0), (-180.0, 10.0)))
      k.cellForPoint(GeoRad.fromDeg(lat, lon), 3)
  }

  test("kernel API: a resolution outside [0, maxRes] raises one error naming kernel and range") {
    val p = GeoRad.fromDeg(59.4, 24.7)
    for (k <- kernels) {
      for (res <- Seq(-1, k.maxRes + 1)) {
        val e = intercept[IllegalArgumentException](k.cellForPoint(p, res))
        assert(e.getMessage.contains(k.name) && e.getMessage.contains(s"[0, ${k.maxRes}]"),
          s"${k.name} res $res: ${e.getMessage}")
      }
      k.cellForPoint(p, 0)
      k.cellForPoint(p, k.maxRes)
    }
  }

  test("column layer: non-finite or |lat| > 90 points yield null cells") {
    val s = spark
    import s.implicits._
    val df = badPoints.toDF("lon", "lat")
    for (k <- kernels) {
      val got = df.select(k.column(col("lon"), col("lat"), lit(5)).as("c"))
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      assert(got.forall(_.isEmpty), s"${k.name}: ${got.mkString(", ")}")
      val ok = Seq((24.7, 59.4)).toDF("lon", "lat")
        .select(k.column(col("lon"), col("lat"), lit(5))).head().getLong(0)
      assert(ok == k.cellForPoint(GeoRad.fromDeg(59.4, 24.7), 5), k.name)
    }
  }
}
