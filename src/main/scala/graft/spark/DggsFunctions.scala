package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.dggs.{GridKernel, IGeo7, Z7}

/** Forwarders to the [[GridKernel]] cache for the IGEO7 kernel, plus
  * the engine's default orientation.
  */
object Grids {
  val DefaultLat = GridKernel.DefaultLat
  val DefaultLon = GridKernel.DefaultLon
  val DefaultAz = GridKernel.DefaultAz

  def get(lat0: Double, lon0: Double, az: Double): IGeo7 = GridKernel.igeo7(lat0, lon0, az)
  def default: IGeo7 = GridKernel.igeo7()
}

/** Z7-only column functions (ring/disk, SEQNUM, interchange formats,
  * densified rings); the hierarchy and geometry functions every kernel
  * shares live in [[GridColumns]].
  */
object DggsFunctions {
  private def z7(lat0: Double, lon0: Double, az: Double) =
    GridColumns(GridKernel.igeo7(lat0, lon0, az))

  def cellForPoint(lon: Column, lat: Column, res: Column,
                   lat0: Double = Grids.DefaultLat, lon0: Double = Grids.DefaultLon,
                   az: Double = Grids.DefaultAz): Column =
    z7(lat0, lon0, az).cellForPoint(lon, lat, res)
  def z7AncestorAt(cell: Column, r: Column): Column =
    GridColumns(GridKernel.igeo7()).ancestorAt(cell, r)
  def z7AncestorAtExpr(cell: Column, r: Column): Column =
    GridColumns(GridKernel.igeo7()).ancestorAtExpr(cell, r)
  def cellBoundary(cell: Column, lat0: Double = Grids.DefaultLat,
                   lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column =
    z7(lat0, lon0, az).cellBoundary(cell)

  private lazy val z7IsPentagonUdf = udf((z: Long) => Z7.isPentagon(z))
  def z7IsPentagon(cell: Column): Column = z7IsPentagonUdf(cell)
  private lazy val z7IsCenterUdf = udf((z: Long) => Z7.isCenter(z))
  def z7IsCenter(cell: Column): Column = z7IsCenterUdf(cell)
  private lazy val z7LocalPosUdf = udf((z: Long) => Z7.localPos(z))
  def z7LocalPos(cell: Column): Column = z7LocalPosUdf(cell)

  /** contiguous int64 range [min,max] covering all descendants — the
    * Parquet row-group / partition pruning predicate pair.
    */
  private lazy val z7RangeMinUdf = udf((z: Long) => Z7.rangeMin(z))
  def z7RangeMin(cell: Column): Column = z7RangeMinUdf(cell)
  private lazy val z7RangeMaxUdf = udf((z: Long) => Z7.rangeMax(z))
  def z7RangeMax(cell: Column): Column = z7RangeMaxUdf(cell)

  /** cell as a GeoJSON Feature string (sink parity: the reference's
    * GDAL formats — GeoJSON/GPKG/FlatGeobuf, dggrid_runner.py:44-62 —
    * are interchange artifacts; GeoJSON is the portable one).
    */
  def cellGeoJson(cell: Column, lat0: Double = Grids.DefaultLat,
                  lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val g = GridKernel.igeo7(lat0, lon0, az)
    val f = udf { (z: Long) =>
      val ring = g.cellBoundary(z)
      val coords = (ring :+ ring.head)
        .map(v => f"[${v.lonDeg}%.12f,${v.latDeg}%.12f]").mkString(",")
      s"""{"type":"Feature","properties":{"name":"${Z7.toZ7String(z)}"},""" +
        s""""geometry":{"type":"Polygon","coordinates":[[$coords]]}}"""
    }
    f(cell)
  }

  /** cell as a KML Placemark (Polygon/outerBoundaryIs/LinearRing) — one
    * of the reference's GDAL cell output drivers (get_geo_out
    * dggrid_runner.py:44-62 lists KML among the fiona formats). KML
    * coordinates are `lon,lat[,alt]` whitespace-separated tuples, ring
    * closed; a file sink is these Placemarks inside the standard
    * kml/Document envelope. Mirrors [[cellGeoJson]]'s shape: a pure
    * per-row string column, so the writer stays an ordinary
    * distributed text sink.
    */
  def cellKml(cell: Column, lat0: Double = Grids.DefaultLat,
              lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val g = GridKernel.igeo7(lat0, lon0, az)
    val f = udf { (z: Long) =>
      val ring = g.cellBoundary(z)
      val coords = (ring :+ ring.head)
        .map(v => f"${v.lonDeg}%.12f,${v.latDeg}%.12f,0").mkString(" ")
      s"<Placemark><name>${Z7.toZ7String(z)}</name><Polygon>" +
        "<outerBoundaryIs><LinearRing><coordinates>" + coords +
        "</coordinates></LinearRing></outerBoundaryIs></Polygon></Placemark>"
    }
    f(cell)
  }

  /** cell as an Arc/Info Generate (AIGEN) polygon record — a GDAL-side
    * format in the reference's address-type zoo (dggrid_runner.py:130
    * 'AIGEN', admitted on BOTH sides: input literals :199, 218 — see
    * GridOps.addressTransform for the input direction). Format:
    * id line (SEQNUM-style numeric id = the Z7 int64), one `lon lat`
    * vertex line per boundary vertex with the ring closed, then `END`.
    * A file sink is these records concatenated + a final `END`.
    */
  def cellAigen(cell: Column, lat0: Double = Grids.DefaultLat,
                lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val g = GridKernel.igeo7(lat0, lon0, az)
    val f = udf { (z: Long) =>
      val ring = g.cellBoundary(z)
      val verts = (ring :+ ring.head)
        .map(v => f"${v.lonDeg}%.12f ${v.latDeg}%.12f").mkString("\n")
      s"$z\n$verts\nEND"
    }
    f(cell)
  }

  /** boundary with n extra vertices per edge (reference `densification`
    * param — projection-plane interpolation; pentagons geodesic).
    */
  def cellBoundaryDensified(cell: Column, densify: Column,
                            lat0: Double = Grids.DefaultLat,
                            lon0: Double = Grids.DefaultLon,
                            az: Double = Grids.DefaultAz): Column = {
    val g = GridKernel.igeo7(lat0, lon0, az)
    val f = udf { (z: Long, n: Int) =>
      g.cellBoundaryDensified(z, n).map(v => (v.lonDeg, v.latDeg))
    }
    f(cell, densify).cast("array<struct<lon:double,lat:double>>")
  }

  /** densified WKT (keeps the `wkt` column consistent with a densified
    * `boundary` column)
    */
  def cellBoundaryWktDensified(cell: Column, densify: Column,
                               lat0: Double = Grids.DefaultLat,
                               lon0: Double = Grids.DefaultLon,
                               az: Double = Grids.DefaultAz): Column = {
    val g = GridKernel.igeo7(lat0, lon0, az)
    val f = udf((z: Long, n: Int) => GridColumns.wktPolygon(g.cellBoundaryDensified(z, n)))
    f(cell, densify)
  }

  /** k=1 ring: the 6 (5 for pentagons) adjacent cells (igeo7_ext.py
    * z7_k1_ring semantics, computed exactly in lattice space).
    */
  def z7Ring1(cell: Column, lat0: Double = Grids.DefaultLat,
              lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val g = GridKernel.igeo7(lat0, lon0, az)
    udf((z: Long) => g.ring1(z)).apply(cell)
  }

  /** k-disk: all cells within graph distance k, including the cell
    * itself (BFS over ring1 in index space — 1+6+12=19 cells for an
    * interior hexagon at k=2).
    */
  def z7Disk(cell: Column, k: Int, lat0: Double = Grids.DefaultLat,
             lon0: Double = Grids.DefaultLon, az: Double = Grids.DefaultAz): Column = {
    val g = GridKernel.igeo7(lat0, lon0, az)
    udf((z: Long) => g.disk(z, k)).apply(cell)
  }

  /** engine-canonical SEQNUM (1..N(r), dense, hierarchical order) and
    * inverse. NOTE: deterministic and bijective, but NOT DGGRID's quad
    * scan order (insufficient public data to reproduce that — two golden
    * samples only; documented divergence).
    */
  private lazy val z7ToSeqnumUdf = udf((z: Long) => Seqnum.toSeqnum(z))
  def z7ToSeqnum(cell: Column): Column = z7ToSeqnumUdf(cell)
  private lazy val seqnumToZ7Udf = udf((n: Long, r: Int) => Seqnum.toZ7(n, r))
  def seqnumToZ7(seq: Column, res: Column): Column = seqnumToZ7Udf(seq, res)
}

/** Dense hierarchical sequence numbers: cells at resolution r numbered
  * 1..10·7^r+2 in (base, digit-path) lexicographic order, accounting for
  * pentagon subtrees (which lack digit 2).
  */
object Seqnum {
  /** number of res-(k+d) descendants of a pentagon at res k */
  def pentCount(d: Int): Long = 1L + 5L * (pow7(d) - 1) / 6
  def pow7(d: Int): Long = { var v = 1L; var i = 0; while (i < d) { v *= 7; i += 1 }; v }

  def toSeqnum(z: Long): Long = {
    val r = Z7.resolution(z)
    val base = Z7.baseCell(z)
    var rank = base.toLong * perBase(r)
    var pentagonSoFar = true
    var k = 1
    while (k <= r) {
      val d = Z7.digit(z, k)
      val digitsHere = if (pentagonSoFar) Seq(0, 1, 3, 4, 5, 6) else Seq(0, 1, 2, 3, 4, 5, 6)
      for (dd <- digitsHere if dd < d) {
        val subPent = pentagonSoFar && dd == 0
        rank += (if (subPent) pentCount(r - k) else pow7(r - k))
      }
      if (d != 0) pentagonSoFar = false
      k += 1
    }
    rank + 1
  }

  /** cells per base at resolution r (pentagon subtree) */
  def perBase(r: Int): Long = pentCount(r)

  def toZ7(seq: Long, r: Int): Long = {
    require(seq >= 1 && seq <= 12 * perBase(r), s"seqnum $seq out of range at res $r")
    var rank = seq - 1
    val base = (rank / perBase(r)).toInt
    rank %= perBase(r)
    val digits = new Array[Int](r)
    var pentagonSoFar = true
    var k = 1
    while (k <= r) {
      val digitsHere = if (pentagonSoFar) Seq(0, 1, 3, 4, 5, 6) else Seq(0, 1, 2, 3, 4, 5, 6)
      var chosen = -1
      val it = digitsHere.iterator
      while (chosen < 0 && it.hasNext) {
        val dd = it.next()
        val sz = if (pentagonSoFar && dd == 0) pentCount(r - k) else pow7(r - k)
        if (rank < sz) chosen = dd else rank -= sz
      }
      digits(k - 1) = chosen
      if (chosen != 0) pentagonSoFar = false
      k += 1
    }
    Z7.pack(base, digits.toSeq)
  }
}

/** Forwarders to [[GridColumns]] for the ISEA4T / ISEA4D / ISEA3H /
  * ISEA4H / ISEA43H kernels, kept for existing callers.
  */
object T4Functions {
  def cellForPoint(lon: Column, lat: Column, res: Column): Column =
    GridColumns(GridKernel.isea4t()).cellForPoint(lon, lat, res)
  def t4AncestorAtExpr(cell: Column, r: Column): Column =
    GridColumns(GridKernel.isea4t()).ancestorAtExpr(cell, r)
}

object D4Functions {
  def cellForPoint(lon: Column, lat: Column, res: Column): Column =
    GridColumns(GridKernel.isea4d()).cellForPoint(lon, lat, res)
  def d4AncestorAtExpr(cell: Column, r: Column): Column =
    GridColumns(GridKernel.isea4d()).ancestorAtExpr(cell, r)
}

object Z3Functions {
  def cellForPoint(lon: Column, lat: Column, res: Column): Column =
    GridColumns(GridKernel.isea3h()).cellForPoint(lon, lat, res)
  def z3AncestorAtExpr(cell: Column, r: Column): Column =
    GridColumns(GridKernel.isea3h()).ancestorAtExpr(cell, r)
}

object Z4Functions {
  def cellForPoint(lon: Column, lat: Column, res: Column): Column =
    GridColumns(GridKernel.isea4h()).cellForPoint(lon, lat, res)
  def z4AncestorAtExpr(cell: Column, r: Column): Column =
    GridColumns(GridKernel.isea4h()).ancestorAtExpr(cell, r)
}

object Z43Functions {
  def cellForPoint(lon: Column, lat: Column, res: Column, n4: Int): Column =
    GridColumns(GridKernel.isea43h(n4)).cellForPoint(lon, lat, res)
  def z43AncestorAtExpr(cell: Column, r: Column): Column =
    GridColumns(GridKernel.isea43h(3)).ancestorAtExpr(cell, r)
}

/** Authalic latitude conversions as Column functions (reference
  * auxlat.py — applied per vertex for geometry, per point for inputs).
  */
object AuthalicFunctions {
  import org.apache.spark.sql.functions.udf
  import graft.dggs.Authalic
  private lazy val toAuthalicUdf = udf((lat: Double) => Authalic.toAuthalicDeg(lat))
  private lazy val toGeodeticUdf = udf((lat: Double) => Authalic.toGeodeticDeg(lat))
  def toAuthalicLat(lat: org.apache.spark.sql.Column) = toAuthalicUdf(lat)
  def toGeodeticLat(lat: org.apache.spark.sql.Column) = toGeodeticUdf(lat)
}

/** Q2DI-style quad coordinates (engine-canonical: the kernel's owner
  * quad 1..10 + exact integer lattice coords at the cell's resolution;
  * the reference consumes DGGRID's "Q I J" strings the same shape —
  * igeo7_ext.py:60-73).
  */
object Q2diFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.udf
  import graft.dggs.Z7

  private lazy val toQ2diUdf = udf { (z: Long) =>
    val fix = GridKernel.igeo7().decode(z)
    (fix.quad, fix.v.a, fix.v.b)
  }
  /** cell -> struct(q, i, j) */
  def z7ToQ2di(cell: Column): Column =
    toQ2diUdf(cell).cast("struct<q:int,i:bigint,j:bigint>")

  private lazy val fromQ2diUdf = udf { (q: Int, i: Long, j: Long, res: Int) =>
    val g = GridKernel.igeo7()
    val (vtx, digits) = g.digitsOf(g.CellFix(q, graft.dggs.Lattice.Eis(i, j), res))
    Z7.pack(g.baseOfVertex(vtx), digits.toSeq)
  }
  /** (q, i, j, res) -> cell */
  def q2diToZ7(q: Column, i: Column, j: Column, res: Column): Column =
    fromQ2diUdf(q, i, j, res)
}

/** Q2DD / PROJTRI / PLANE address transforms (graft.dggs.Addr — see its
  * scaladoc for the engine-canonical frame definitions).
  */
object AddrFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.udf
  import graft.dggs.Addr

  private lazy val q2ddUdf = udf((z: Long) => Addr.z7ToQ2dd(GridKernel.igeo7(), z))
  def z7ToQ2dd(cell: Column): Column =
    q2ddUdf(cell).cast("struct<q:int,x:double,y:double>")
  private lazy val q2ddInvUdf =
    udf((q: Int, x: Double, y: Double, r: Int) => Addr.q2ddToZ7(GridKernel.igeo7(), q, x, y, r))
  def q2ddToZ7(q: Column, x: Column, y: Column, res: Column): Column =
    q2ddInvUdf(q, x, y, res)

  private lazy val projtriUdf = udf((z: Long) => Addr.z7ToProjtri(GridKernel.igeo7(), z))
  def z7ToProjtri(cell: Column): Column =
    projtriUdf(cell).cast("struct<t:int,x:double,y:double>")
  private lazy val projtriInvUdf =
    udf((t: Int, x: Double, y: Double, r: Int) => Addr.projtriToZ7(GridKernel.igeo7(), t, x, y, r))
  def projtriToZ7(t: Column, x: Column, y: Column, res: Column): Column =
    projtriInvUdf(t, x, y, res)

  private lazy val vertex2ddUdf = udf((z: Long) => Addr.z7ToVertex2dd(GridKernel.igeo7(), z))
  def z7ToVertex2dd(cell: Column): Column =
    vertex2ddUdf(cell).cast("struct<v:int,t:int,x:double,y:double>")
  private lazy val vertex2ddInvUdf =
    udf((t: Int, x: Double, y: Double, r: Int) =>
      Addr.vertex2ddToZ7(GridKernel.igeo7(), t, x, y, r))
  def vertex2ddToZ7(t: Column, x: Column, y: Column, res: Column): Column =
    vertex2ddInvUdf(t, x, y, res)

  private lazy val planeUdf = udf((z: Long) => Addr.z7ToPlane(GridKernel.igeo7(), z))
  def z7ToPlane(cell: Column): Column =
    planeUdf(cell).cast("struct<x:double,y:double>")
  private lazy val planeInvUdf =
    udf((x: Double, y: Double, r: Int) => Addr.planeToZ7(GridKernel.igeo7(), x, y, r))
  def planeToZ7(x: Column, y: Column, res: Column): Column = planeInvUdf(x, y, res)
}
