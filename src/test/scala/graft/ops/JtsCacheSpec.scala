package graft.ops

import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.WKTReader
import org.scalatest.funsuite.AnyFunSuite

/** The prepared-polygon cache over more distinct polygons than it holds:
  * answers equal a freshly parsed geometry's, the map stays within its
  * bound, and a miss on a full cache evicts one entry, not all of them.
  */
class JtsCacheSpec extends AnyFunSuite {

  private val N = JtsCache.MaxEntries + 904

  /** seeded 0.5° x 0.4° rectangles, all distinct */
  private val polys: IndexedSeq[(String, Double, Double)] = {
    val r = new scala.util.Random(5)
    (0 until N).map { _ =>
      val (x0, y0) = (-170.0 + r.nextDouble() * 340.0, -60.0 + r.nextDouble() * 120.0)
      val wkt = "POLYGON ((%.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f))"
        .formatLocal(java.util.Locale.ROOT, x0, y0, x0 + 0.5, y0, x0 + 0.5, y0 + 0.4,
          x0, y0 + 0.4, x0, y0)
      (wkt, x0, y0)
    }.distinctBy(_._1)
  }

  test("more distinct polygons than MaxEntries: answers equal fresh geometry, size stays bounded") {
    assert(polys.size > JtsCache.MaxEntries)
    val gf = new GeometryFactory()
    val reader = new WKTReader(gf)
    for (pass <- 1 to 2; (wkt, x0, y0) <- polys) {
      val fresh = reader.read(wkt)
      for ((lon, lat) <- Seq((x0 + 0.25, y0 + 0.2), (x0 + 0.6, y0 + 0.2), (x0 - 0.01, y0 - 0.01)))
        assert(JtsCache.contains(wkt, lon, lat) ==
          fresh.contains(gf.createPoint(new Coordinate(lon, lat))), s"$wkt ($lon, $lat)")
      for (ring <- Seq(
          Seq((x0 + 0.4, y0 + 0.3), (x0 + 0.9, y0 + 0.3), (x0 + 0.9, y0 + 0.8)),
          Seq((x0 + 1.0, y0), (x0 + 1.5, y0), (x0 + 1.5, y0 + 0.5)))) {
        val ringPoly = gf.createPolygon((ring :+ ring.head).map { case (lo, la) =>
          new Coordinate(lo, la) }.toArray)
        assert(JtsCache.intersectsRing(wkt, ring) == fresh.intersects(ringPoly), s"$wkt $ring")
      }
      assert(JtsCache.size <= JtsCache.MaxEntries, s"pass $pass")
    }
    // a full cache evicts one entry per miss: it ends full, not cleared
    assert(JtsCache.size == JtsCache.MaxEntries)
  }
}
