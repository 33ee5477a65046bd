package graft.dggs

import Sphere.GeoRad

/** Bit layout of a kernel's int64 cell ids: what the Spark column layer
  * needs to build native (codegen) hierarchy expressions without calling
  * back into the kernel.
  */
sealed trait IdLayout
object IdLayout {
  /** base cell in the top 4 bits, then `slotBits`-bit digits padded with
    * all-ones (Z7: 3, Z3: 2, Z4/Z43: 3)
    */
  final case class PaddedDigits(slotBits: Int) extends IdLayout
  /** `(base*32 + res) << 48 | digits`, 2-bit zero-padded digits (T4, D4) */
  case object Quat2 extends IdLayout
}

/** The orientation-free id half of a kernel: one codec object per id
  * family (Z7, Z3, Z4, T4, D4).
  */
trait CellCodec {
  def MaxRes: Int
  def layout: IdLayout
  /** base-cell numbers of the res-0 cells */
  def bases: Range
  def pack(base: Int, digits: Seq[Int]): Long
  def resolution(id: Long): Int
  def parent(id: Long): Long
  def ancestorAt(id: Long, r: Int): Long
  def children(id: Long): Seq[Long]
  def descendants(id: Long, toRes: Int): Seq[Long]
  def toCellString(id: Long): String
  def fromCellString(s: String): Long
}

/** One DGGS grid family at one orientation — the single abstraction the
  * Spark column layer, the operators and the SQL registry are written
  * against. Instances are immutable and thread-safe; get them from the
  * companion (one cache per JVM). A kernel serializes as its [[key]] and
  * deserializes to the receiving JVM's cached instance, so closures that
  * capture one ship a few bytes, not the kernel's lookup tables.
  *
  * Input contract, enforced here once for every kernel: a point must be
  * finite with |lat| ≤ 90°, a resolution must lie in [0, maxRes];
  * anything else is an `IllegalArgumentException` naming the kernel.
  *
  * Geometry memo: `cellCenter` / `cellBoundary` remember the result for
  * every cell at a resolution ≤ [[memoRes]], the levels whose cumulative
  * cell count fits the fixed budget [[GridKernel.GeometryMemoCells]]
  * (32 768 cells, a few MB). Covers, extents and coarse rollups ask for
  * the same few hundred coarse cells millions of times; each answer is
  * an inverse projection (IGEO7 res 9: ~9 µs center, ~50 µs boundary).
  * The memo fills on first use; reads are a lock-free
  * `ConcurrentHashMap.get`. Finer cells are computed on every call.
  */
trait GridKernel extends Serializable {
  def key: GridKernel.Key
  def name: String = key.family
  /** address-type name of the int64 id ("Z7", "Z3", "Z4", "Z43", "T4",
    * "D4"); its lower-case form prefixes the SQL function names
    */
  def idType: String
  /** finest resolution `cellForPoint` supports */
  def maxRes: Int
  def codec: CellCodec
  /** aperture descending to level `k` (1-based) */
  def apertureAt(k: Int): Int
  def baseCells: Seq[Long] = codec.bases.map(codec.pack(_, Seq.empty))

  final def cellForPoint(p: GeoRad, res: Int): Long = {
    if (!GridKernel.validPoint(p))
      throw new IllegalArgumentException(
        s"$name: point (lon ${p.lonDeg}, lat ${p.latDeg}) is not finite with |lat| <= 90")
    requireRes(res)
    locate(p, res)
  }
  /** cellForPoint on validated input */
  protected def locate(p: GeoRad, res: Int): Long

  /** cell center on the sphere ([[center]], memoized at res ≤ [[memoRes]]) */
  final def cellCenter(cell: Long): GeoRad =
    if (!memoized(cell)) center(cell)
    else {
      val key = java.lang.Long.valueOf(cell)
      val hit = centerMemo.get(key)
      if (hit != null) hit else remember(centerMemo, key, center(cell))
    }
  /** cell boundary vertices ([[boundary]], memoized at res ≤ [[memoRes]]);
    * a memoized boundary is returned as a fresh copy, so callers may
    * mutate the array
    */
  final def cellBoundary(cell: Long): Array[GeoRad] =
    if (!memoized(cell)) boundary(cell)
    else {
      val key = java.lang.Long.valueOf(cell)
      val hit = boundaryMemo.get(key)
      (if (hit != null) hit else remember(boundaryMemo, key, boundary(cell))).clone()
    }
  /** cell center, computed */
  protected[dggs] def center(cell: Long): GeoRad
  /** cell boundary, computed */
  protected[dggs] def boundary(cell: Long): Array[GeoRad]

  /** finest resolution whose cell geometry is memoized: the deepest level
    * at which the whole tree from the base cells down holds at most
    * [[GridKernel.GeometryMemoCells]] cells (IGEO7 3, ISEA3H 6, ISEA4H 5,
    * ISEA43H(3) 6, ISEA4T 5, ISEA4D 5)
    */
  @transient final lazy val memoRes: Int = {
    var r = 0
    var level = baseCells.size.toLong
    var total = level
    while (r < maxRes && total + level * apertureAt(r + 1) <= GridKernel.GeometryMemoCells) {
      level *= apertureAt(r + 1)
      total += level
      r += 1
    }
    r
  }
  @transient private lazy val centerMemo =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, GeoRad]()
  @transient private lazy val boundaryMemo =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Array[GeoRad]]()
  private def memoized(cell: Long): Boolean = resolution(cell) <= memoRes
  /** stores `v` unless the memo is full (a malformed id can decode to a
    * coarse resolution, so the budget is also a hard cap) and returns the
    * value that won the race
    */
  private def remember[V](memo: java.util.concurrent.ConcurrentHashMap[java.lang.Long, V],
                          key: java.lang.Long, v: V): V =
    if (memo.size() >= GridKernel.GeometryMemoCells) v
    else {
      val prev = memo.putIfAbsent(key, v)
      if (prev == null) v else prev
    }
  /** memoized centers and boundaries (for tests) */
  private[dggs] def memoSizes: (Int, Int) = (centerMemo.size(), boundaryMemo.size())

  def cellToString(cell: Long): String = codec.toCellString(cell)
  def cellFromString(s: String): Long = codec.fromCellString(s)
  def resolution(cell: Long): Int = codec.resolution(cell)
  def parent(cell: Long): Long = codec.parent(cell)
  def ancestorAt(cell: Long, r: Int): Long = codec.ancestorAt(cell, r)
  def children(cell: Long): Seq[Long] = codec.children(cell)
  def descendants(cell: Long, toRes: Int): Seq[Long] = codec.descendants(cell, toRes)

  /** leaves at the codec's MaxRes under an ordinary res-r cell — exact
    * Long products (7^20 ≈ 8·10^16, 3^30 ≈ 2·10^14, 4^24 ≈ 2.8·10^14)
    */
  @transient protected lazy val fullSubtreeSizes: Array[Long] = {
    val a = new Array[Long](codec.MaxRes + 1)
    a(codec.MaxRes) = 1L
    for (r <- codec.MaxRes - 1 to 0 by -1) a(r) = a(r + 1) * apertureAt(r + 1)
    a
  }
  /** leaves at the codec's MaxRes under `cell` — compaction's
    * completeness target (a cell is covered iff its descendants' sizes
    * sum to its own)
    */
  def subtreeSize(cell: Long): Long = fullSubtreeSizes(resolution(cell))

  private def requireRes(res: Int): Unit =
    if (res < 0 || res > maxRes)
      throw new IllegalArgumentException(s"$name: resolution $res outside [0, $maxRes]")

  protected final def writeReplace(): AnyRef = new GridKernel.Handle(key)
}

/** The aperture-3/4 hexagon kernels (ISEA3H, ISEA4H, ISEA43H): base
  * cells 0/11 are the polar caps, which own only their center-child
  * chain; ids carry the ZORDER / Q2DI address forms.
  */
trait HexIndexKernel extends GridKernel {
  override def subtreeSize(cell: Long): Long = {
    val b = (cell >>> 60).toInt
    if (b == 0 || b == 11) 1L else super.subtreeSize(cell)
  }
  def toQ2di(z: Long): (Int, Long, Long)
  def fromQ2di(base: Int, i: Long, j: Long, r: Int): Long
  def toZorder(z: Long): Long
  def fromZorder(zo: Long): Long
  def toZorderString(z: Long): String
  def fromZorderString(sx: String): Long
}

/** The kernel table and its one executor-side cache, keyed by (family,
  * n4, orientation). A new kernel plugs in with a `family` name, a case
  * in `build` and a typed accessor.
  */
object GridKernel {
  val DefaultLat = 58.28252559
  val DefaultLon = 11.25
  val DefaultAz = 0.0

  /** cell budget of each kernel's geometry memo (see [[GridKernel.memoRes]]) */
  val GeometryMemoCells = 32768

  /** `n4` is ISEA43H's mixed_aperture_level (0 for the other families) */
  final case class Key(family: String, n4: Int, lat0: Double, lon0: Double, az: Double)

  private final class Handle(key: Key) extends Serializable {
    private def readResolve(): AnyRef = get(key)
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[Key, GridKernel]()

  def get(key: Key): GridKernel = cache.computeIfAbsent(key, build)

  private def build(k: Key): GridKernel = k.family match {
    case "IGEO7" => new IGeo7(k.lat0, k.lon0, k.az)
    case "ISEA3H" => new Isea3H(k.lat0, k.lon0, k.az)
    case "ISEA4H" => new Isea4H(k.lat0, k.lon0, k.az)
    case "ISEA43H" => new Isea43H(k.n4, k.lat0, k.lon0, k.az)
    case "ISEA4T" => new Isea4T(k.lat0, k.lon0, k.az)
    case "ISEA4D" => new Isea4D(k.lat0, k.lon0, k.az)
    case other => throw new IllegalArgumentException(s"unknown grid kernel family $other")
  }

  def igeo7(lat0: Double = DefaultLat, lon0: Double = DefaultLon,
            az: Double = DefaultAz): IGeo7 =
    get(Key("IGEO7", 0, lat0, lon0, az)).asInstanceOf[IGeo7]
  def isea3h(lat0: Double = DefaultLat, lon0: Double = DefaultLon,
             az: Double = DefaultAz): Isea3H =
    get(Key("ISEA3H", 0, lat0, lon0, az)).asInstanceOf[Isea3H]
  def isea4h(lat0: Double = DefaultLat, lon0: Double = DefaultLon,
             az: Double = DefaultAz): Isea4H =
    get(Key("ISEA4H", 0, lat0, lon0, az)).asInstanceOf[Isea4H]
  def isea43h(n4: Int, lat0: Double = DefaultLat, lon0: Double = DefaultLon,
              az: Double = DefaultAz): Isea43H =
    get(Key("ISEA43H", n4, lat0, lon0, az)).asInstanceOf[Isea43H]
  def isea4t(lat0: Double = DefaultLat, lon0: Double = DefaultLon,
             az: Double = DefaultAz): Isea4T =
    get(Key("ISEA4T", 0, lat0, lon0, az)).asInstanceOf[Isea4T]
  def isea4d(lat0: Double = DefaultLat, lon0: Double = DefaultLon,
             az: Double = DefaultAz): Isea4D =
    get(Key("ISEA4D", 0, lat0, lon0, az)).asInstanceOf[Isea4D]

  /** the six families at the default orientation (ISEA43H at the gate
    * configuration n4 = 3)
    */
  def all: Seq[GridKernel] =
    Seq(igeo7(), isea3h(), isea4h(), isea43h(3), isea4t(), isea4d())

  /** rounding slack on the |lat| ≤ 90° bound: computed sample grids may
    * land an ulp past a pole
    */
  private val LatLimitDeg = 90.0 + 1e-9
  private val LatLimitRad = math.toRadians(LatLimitDeg)

  /** (lon°, lat°) every kernel accepts: finite, |lat| ≤ 90° */
  def validLonLat(lonDeg: Double, latDeg: Double): Boolean =
    java.lang.Double.isFinite(lonDeg) && math.abs(latDeg) <= LatLimitDeg

  def validPoint(p: GeoRad): Boolean =
    java.lang.Double.isFinite(p.lon) && math.abs(p.lat) <= LatLimitRad
}
