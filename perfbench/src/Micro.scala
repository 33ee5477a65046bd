package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kernel and column micro legs for the traced run. Every leg is warmed
  * at the resolution it measures before it is timed, then timed in
  * repetitions of at least `minRepNs`; the median repetition is reported.
  */
object Micro {
  /** seeded point array for the kernel legs */
  val KernelPoints = 20000
  /** cells whose center / boundary the kernel legs compute */
  val KernelCells = 2000
  /** cached points for the column legs */
  val ColumnPoints = 400000L
  /** cells for the column boundary leg (boundaries cost ~100x an assign) */
  val ColumnBoundaryCells = 20000L

  private val minRepNs = 100000000L // 0.1 s

  /** results land here so the JIT cannot drop the timed work */
  @volatile private var blackhole = 0L

  /** median ns per element of `body`, which handles `n` elements per call */
  private def nsPerOp(n: Int)(body: => Long): Double = {
    blackhole ^= body; blackhole ^= body // warm-up
    val reps = scala.collection.mutable.ArrayBuffer[Double]()
    var spent = 0L
    while (reps.size < 3 || (spent < 3 * minRepNs && reps.size < 50)) {
      val t0 = System.nanoTime()
      blackhole ^= body
      val dt = System.nanoTime() - t0
      spent += dt
      reps += dt.toDouble / n
    }
    Stats.median(reps.toSeq)
  }

  def kernelLegs(seed: Long, h: Harness): Map[String, Double] = {
    val (lat, lon) = Gen.pointArrays(seed, KernelPoints)
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    Adapter.kernels.foreach { k =>
      h.span("dggs", s"${k.name}.assign") {
        out(s"dggs.${k.name}.assign_ns") = nsPerOp(KernelPoints) {
          var acc = 0L; var i = 0
          while (i < KernelPoints) { acc ^= k.cellForPoint(lat(i), lon(i)); i += 1 }
          acc
        }
      }
      val cells = Array.tabulate(KernelCells)(i => k.cellForPoint(lat(i), lon(i)))
      h.span("dggs", s"${k.name}.center") {
        out(s"dggs.${k.name}.center_ns") = nsPerOp(KernelCells) {
          var acc = 0.0; var i = 0
          while (i < KernelCells) { acc += k.centerSum(cells(i)); i += 1 }
          acc.toLong
        }
      }
      h.span("dggs", s"${k.name}.boundary") {
        out(s"dggs.${k.name}.boundary_ns") = nsPerOp(KernelCells) {
          var acc = 0L; var i = 0
          while (i < KernelCells) { acc += k.boundaryLen(cells(i)); i += 1 }
          acc
        }
      }
    }
    val r = Adapter.Res
    val ph = Adapter.Z7Phases
    h.span("dggs", "z7.phases") {
      out("dggs.z7.snyder_fwd_ns") = nsPerOp(KernelPoints) {
        var acc = 0L; var i = 0
        while (i < KernelPoints) { acc ^= ph.snyderForward(lat(i), lon(i)); i += 1 }
        acc
      }
      out("dggs.z7.sphere_to_quad_ns") = nsPerOp(KernelPoints) {
        var acc = 0L; var i = 0
        while (i < KernelPoints) { acc ^= ph.sphereToQuad(lat(i), lon(i)); i += 1 }
        acc
      }
      out("dggs.z7.fix_ns") = nsPerOp(KernelPoints) {
        var acc = 0L; var i = 0
        while (i < KernelPoints) { acc ^= ph.fix(lat(i), lon(i), r); i += 1 }
        acc
      }
      out("dggs.z7.fastwalk_fallback_frac") =
        (0 until KernelPoints).count(i => ph.fastWalkFallsBack(lat(i), lon(i), r)).toDouble / KernelPoints
    }
    out.toMap
  }

  /** rows/s of a narrow projection written to the `noop` sink */
  private def rowsPerS(rows: Long)(df: => DataFrame): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm-up
    rows / Stats.median(Seq(once(), once(), once()))
  }

  def columnLegs(spark: SparkSession, seed: Long, parts: Int, z7AssignNs: Double,
                 h: Harness): Map[String, Double] = {
    val z7 = Adapter.kernel("z7")
    val pts = Gen.points(spark, seed, ColumnPoints, parts, salt = 303).select("lon", "lat").cache()
    val cells = pts.select(z7.cellForPointCol(col("lon"), col("lat")).as("cell_id")).cache()
    val few = cells.limit(ColumnBoundaryCells.toInt).repartition(parts).cache()
    try {
      cells.count(); few.count()
      val cfp = h.span("spark", "cell_for_point") {
        rowsPerS(ColumnPoints)(pts.select(z7.cellForPointCol(col("lon"), col("lat"))))
      }
      val anc = h.span("spark", "ancestor_at") {
        rowsPerS(ColumnPoints)(cells.select(z7.ancestorAtCol(col("cell_id"), Adapter.RollupRes)))
      }
      val bnd = h.span("spark", "cell_boundary") {
        rowsPerS(ColumnBoundaryCells)(few.select(Adapter.z7BoundaryCol(col("cell_id"))))
      }
      // kernel time the assign_ns figure implies, spread over the task
      // slots, as a share of the column path's wall
      val share = z7AssignNs * 1e-9 * cfp / spark.sparkContext.defaultParallelism
      Map("spark.cell_for_point.rows_per_s" -> cfp, "spark.ancestor_at.rows_per_s" -> anc,
        "spark.cell_boundary.rows_per_s" -> bnd, "spark.kernel_share" -> share)
    } finally Seq(few, cells, pts).foreach(_.unpersist(true))
  }
}
