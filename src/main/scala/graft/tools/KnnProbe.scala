package graft.tools

import graft.dggs.{GridKernel, Sphere, Z7}
import Sphere.GeoRad

/** The SINGLE implementation of the kNN disk-coverage measurement: the
  * exact exterior-distance lower bound that justifies
  * `SpatialOps.diskSafeKm`'s 0.6 distortion constant. Both consumers —
  * this tool's `main` (which records the factors quoted in
  * ROUND_NOTES/COVERAGE) and KnnSafeRadiusSpec (which ENFORCES the
  * bound) — call [[measureExteriorBound]], so the published numbers and
  * the guarded bound cannot drift apart (round-5 review finding).
  *
  * The bound: for a query point p in cell z, the distance to the
  * EXTERIOR of z's k-disk is ≥ min over ring-(k+1) cells c of
  * (dist(p, center(c)) − circumradius(c)) — every exterior point lies
  * in a ring-(k+1)-or-farther cell, and no point of c is farther than
  * its circumradius from its center. Sampled worst-case query points:
  * cell center + densified boundary, over the 12 pentagons, their
  * fans, and a seeded worldwide spread.
  */
object KnnProbe {

  /** worst-case exterior-distance lower bound (km) for the k-disk at
    * `res`, measured over the distortion-worst sample cells.
    */
  def measureExteriorBound(res: Int, k: Int): Double = {
    val g = GridKernel.igeo7()
    val R = Sphere.EarthRadiusKm
    val pentas = (0 to 11).map(b => Z7.pack(b, Seq.fill(res)(0)))
    val pentaNbrs = pentas.flatMap(g.ring1)
    val seeded = (0 until 40).map { i =>
      val lon = -180.0 + (i * 9973 % 3600) / 10.0
      val lat = -85.0 + (i * 6271 % 1700) / 10.0
      g.cellForPoint(GeoRad.fromDeg(lat, lon), res)
    }
    val cells = (pentas ++ pentaNbrs ++ seeded).distinct
    var worst = Double.MaxValue
    for (z <- cells) {
      val disk = g.disk(z, k).toSet
      val outer = g.disk(z, k + 1).filterNot(disk) // ring k+1
      require(outer.nonEmpty,
        s"res $res k $k: ring ${k + 1} is empty (disk wraps the globe) — " +
          "the exterior bound is undefined at this res/k")
      val circ = outer.map { c2 =>
        val ctr = g.cellCenter(c2)
        (ctr, g.cellBoundary(c2).map(v => Sphere.distance(ctr, v)).max)
      }
      val pts = g.cellCenter(z) +: g.cellBoundaryDensified(z, 3)
      for (p <- pts) {
        val lb = circ.map { case (ctr, cr) =>
          (Sphere.distance(p, ctr) - cr) * R
        }.min
        if (lb < worst) worst = lb
      }
    }
    worst
  }

  def main(args: Array[String]): Unit = {
    val maxRes = if (args.nonEmpty) args(0).toInt else 7
    for (res <- 1 to maxRes) {
      val rIn = graft.ops.SpatialOps.hexInradiusKm(res)
      for (k <- 1 to 4) {
        val worst = measureExteriorBound(res, k)
        val naive = (2.0 * k - 1.0) * rIn
        println(f"res $res k $k: bound=$worst%10.3f km  rIn=$rIn%9.3f  " +
          f"(2k-1)rIn=$naive%10.3f  factor=${worst / naive}%5.3f")
      }
    }
  }
}
