package graft.dggs

import org.scalatest.funsuite.AnyFunSuite
import Sphere.GeoRad

/** The per-kernel geometry memo behind `cellCenter` / `cellBoundary`:
  * memoized answers equal the computed ones bit for bit at every
  * memoized level, returned boundaries are private copies, and cells
  * past the budget are computed without touching the memo.
  */
class KernelGeometryMemoSpec extends AnyFunSuite {

  /** fresh instances, so each test sees its own (empty) memo */
  private def kernels: Seq[GridKernel] =
    Seq(new IGeo7(), new Isea3H(), new Isea4H(), new Isea43H(3), new Isea4T(), new Isea4D())

  private def bits(p: GeoRad): (Long, Long) =
    (java.lang.Double.doubleToRawLongBits(p.lat), java.lang.Double.doubleToRawLongBits(p.lon))

  /** every cell from the base cells down to `res`, level by level */
  private def levels(k: GridKernel, res: Int): Seq[Seq[Long]] =
    Iterator.iterate(k.baseCells)(_.flatMap(k.children)).take(res + 1).toSeq

  test("memoRes is the deepest level whose cumulative cell count fits the budget") {
    val expected = Map("IGEO7" -> 3, "ISEA3H" -> 6, "ISEA4H" -> 5, "ISEA43H" -> 6,
      "ISEA4T" -> 5, "ISEA4D" -> 5)
    for (k <- kernels) {
      val perLevel = Iterator.iterate((0, k.baseCells.size.toLong)) { case (r, n) =>
        (r + 1, n * k.apertureAt(r + 1))
      }.take(k.memoRes + 2).map(_._2).toSeq
      val cumulative = perLevel.scanLeft(0L)(_ + _).tail
      assert(cumulative(k.memoRes) <= GridKernel.GeometryMemoCells, k.name)
      assert(cumulative(k.memoRes + 1) > GridKernel.GeometryMemoCells, k.name)
      assert(k.memoRes == expected(k.name), k.name)
    }
  }

  test("memoized center and boundary equal the computed ones bit for bit at every memoized level") {
    for (k <- kernels) {
      val cells = levels(k, k.memoRes).flatten
      for (z <- cells; pass <- 1 to 2) {
        val what = s"${k.name} ${k.cellToString(z)} pass $pass"
        assert(bits(k.cellCenter(z)) == bits(k.center(z)), what)
        val b = k.cellBoundary(z)
        val direct = k.boundary(z)
        assert(b.length == direct.length, what)
        assert(b.map(bits).toSeq == direct.map(bits).toSeq, what)
      }
      // every enumerated cell went into the memo: the second pass read it
      assert(k.memoSizes == ((cells.size, cells.size)), k.name)
      // the enumeration includes the pentagons (all hex kernels) and the
      // ISEA3H/4H/43H polar caps (base cells 0 and 11)
      if (k.name != "ISEA4T" && k.name != "ISEA4D")
        assert(cells.count(k.cellBoundary(_).length == 5) >= 12, k.name)
      if (k.isInstanceOf[HexIndexKernel])
        assert(Seq(0, 11).forall(b => cells.exists(z => (z >>> 60) == b && k.resolution(z) == k.memoRes)),
          k.name)
    }
  }

  test("mutating a returned boundary does not change the next call's result") {
    for (k <- kernels; z <- Seq(k.baseCells(3), k.children(k.baseCells(5)).last)) {
      val first = k.cellBoundary(z)
      val expected = k.boundary(z).map(bits).toSeq
      first(0) = GeoRad(0.125, 0.25)
      first(1) = first(2)
      assert(k.cellBoundary(z).map(bits).toSeq == expected, k.name)
      assert(k.cellBoundary(z) ne k.cellBoundary(z), k.name)
    }
  }

  test("the first level past the budget is computed and not memoized") {
    for (k <- kernels) {
      val deep = levels(k, k.memoRes + 1).last.take(50)
      assert(deep.forall(k.resolution(_) == k.memoRes + 1), k.name)
      for (z <- deep) {
        assert(bits(k.cellCenter(z)) == bits(k.center(z)), k.name)
        assert(k.cellBoundary(z).map(bits).toSeq == k.boundary(z).map(bits).toSeq, k.name)
      }
      assert(k.memoSizes == ((0, 0)), k.name)
      val coarse = levels(k, k.memoRes).last.head
      k.cellCenter(coarse)
      k.cellBoundary(coarse)
      assert(k.memoSizes == ((1, 1)), k.name)
    }
  }

  test("concurrent first use fills the memo once with the computed values") {
    import scala.collection.parallel.CollectionConverters._
    val k = new IGeo7()
    val cells = levels(k, k.memoRes).flatten
    val centers = (cells ++ cells ++ cells).par.map(z => z -> bits(k.cellCenter(z))).seq
    assert(centers.forall { case (z, c) => c == bits(k.center(z)) })
    assert(k.memoSizes._1 == cells.size)
  }
}
