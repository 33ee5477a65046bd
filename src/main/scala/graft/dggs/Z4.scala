package graft.dggs

/** Z4 hierarchical index codec for the aperture-4 hexagonal DGGS
  * (ISEA4H).
  *
  * The reference exposes the ISEA4H preset (dggrid_runner.py:71) whose
  * applicable hierarchical address forms are ZORDER / ZORDER_STRING /
  * INTERLEAVE ("especially useful for ISEA3H, ISEA4H and mixed
  * aperture", dggrid_runner.py:134; INTERLEAVE "only available for
  * hexagonal aperture 3 and 4 grids", :124) — DGGRID defines no "Z4"
  * system and publishes no golden ISEA4H ids anywhere in the reference
  * tests or examples. This codec is therefore ENGINE-CANONICAL (the
  * Z3/T4/D4 stance): it is the internal hierarchical id the Spark layer
  * computes on, and the DGGRID-named forms (ZORDER / ZORDER_STRING /
  * INTERLEAVE / Q2DI) are provided as address transforms over it
  * (Isea4H.toZorder & co). Bijective, hierarchical, documented, pinned
  * by property tests (Isea4HSpec), not by DGGRID bit parity.
  *
  * Layout mirrors Z7 (igeo7.py:16-122's layout family — base + per-res
  * digits + all-ones pad):
  *   - 64-bit: 4 MSBs = base cell 0-11, then 20 groups of 3 bits, each a
  *     resolution digit 0-3, value 7 = "beyond resolution" pad.
  *   - Base cells: 0 = icosahedron vertex v0 (the quad-layout cap), 1-10
  *     = the ten rhombic quads, 11 = vertex v11 (the opposite cap).
  *   - Digits (Isea4H kernel convention): 0 = center child (the cell at
  *     the parent's own lattice point), 1 = one quad-basis-A step, 2 =
  *     one quad-basis-B step, 3 = one (B−A) step — the three child-unit
  *     neighbours the parent canonically owns; all four child centers
  *     lie INSIDE the closed parent hexagon (circumradius 2/√3 > 1 child
  *     units). Bases 0/11 admit only digit 0.
  *   - Z4_STRING: zero-padded 2-digit base + one char per digit < 4.
  *   - resolution = number of non-pad digits; parent = drop last digit.
  *
  * Pad digits are all-ones, so descendants of a parent at resolution r
  * share the parent's leading 4+3r bits — ONE contiguous int64 range
  * [rangeMin, rangeMax], the same storage-layer prefix-pruning property
  * as Z7/Z3 (SURVEY.md §4).
  */
object Z4 extends CellCodec {

  val MaxRes = 20
  val layout: IdLayout = IdLayout.PaddedDigits(3)
  val bases: Range = 0 to 11
  def toCellString(id: Long): String = toZ4String(id)
  def fromCellString(s: String): Long = fromZ4String(s)

  /** Pack base cell + digits; remaining positions padded with 7. */
  def pack(base: Int, digits: Seq[Int]): Long = {
    require(base >= 0 && base <= 11, s"base cell $base out of range")
    require(digits.length <= MaxRes, s"too many digits (${digits.length})")
    var v = base.toLong << 60
    var i = 0
    while (i < MaxRes) {
      // REAL digit positions admit only 0-3 (the pad 7 arrives only via
      // the else branch) — same malformed-string hole as Z3.pack
      val d = if (i < digits.length) {
        require(digits(i) >= 0 && digits(i) <= 3,
          s"digit ${digits(i)} out of range at position ${i + 1}")
        digits(i)
      } else 7
      v |= d.toLong << (57 - 3 * i)
      i += 1
    }
    v
  }

  def baseCell(z: Long): Int = ((z >>> 60) & 0xFL).toInt

  /** Digit at level `i` (1-based: level 1 is the first digit). */
  def digit(z: Long, i: Int): Int = ((z >>> (60 - 3 * i)) & 0x7L).toInt

  /** Resolution = number of leading non-pad digits. */
  def resolution(z: Long): Int = {
    var r = 0
    while (r < MaxRes && digit(z, r + 1) != 7) r += 1
    r
  }

  def digits(z: Long): Seq[Int] = (1 to resolution(z)).map(digit(z, _))

  /** Z4_STRING: 2-digit base + digit chars (Z7_STRING convention). */
  def toZ4String(z: Long): String = {
    val sb = new StringBuilder(22)
    val b = baseCell(z)
    if (b < 10) sb.append('0')
    sb.append(b)
    var i = 1
    var d = digit(z, 1)
    while (i <= MaxRes && d != 7) {
      sb.append(('0' + d).toChar)
      i += 1
      if (i <= MaxRes) d = digit(z, i)
    }
    sb.toString
  }

  def fromZ4String(s: String): Long = {
    require(s.length >= 2 && s.length <= 2 + MaxRes, s"bad Z4_STRING '$s'")
    val base = s.substring(0, 2).toInt
    pack(base, s.drop(2).map(c => c - '0'))
  }

  def toHex(z: Long): String = f"$z%016x"
  def fromHex(h: String): Long = java.lang.Long.parseUnsignedLong(h, 16)

  /** Parent at resolution-1 (pad the last digit). */
  def parent(z: Long): Long = {
    val r = resolution(z)
    require(r > 0, "res-0 cell has no parent")
    z | (0x7L << (60 - 3 * r))
  }

  /** Ancestor at resolution `r` (pad everything deeper). */
  def ancestorAt(z: Long, r: Int): Long = {
    require(r >= 0 && r <= resolution(z), s"bad ancestor res $r")
    if (r == MaxRes) z
    else z | ((1L << (60 - 3 * r)) - 1)
  }

  def localPos(z: Long): Int = digit(z, resolution(z))
  def isCenter(z: Long): Boolean = resolution(z) == 0 || localPos(z) == 0

  /** Pentagon ⇔ every digit is 0 (the 12 vertex cells — the same
    * all-zero-path rule as Z7 / Z3).
    */
  def isPentagon(z: Long): Boolean = {
    val r = resolution(z)
    var i = 1
    while (i <= r) { if (digit(z, i) != 0) return false; i += 1 }
    true
  }

  /** Child in digit direction `d` at resolution+1. */
  def child(z: Long, d: Int): Long = {
    val r = resolution(z)
    require(r < MaxRes, "max resolution")
    require(d >= 0 && d <= 3, s"bad digit $d")
    val shift = 60 - 3 * (r + 1)
    (z & ~(0x7L << shift)) | (d.toLong << shift)
  }

  /** Children digits: 0..3 for quad-based cells; the cap bases 0/11 have
    * only the center child (their vertex-fan neighbours are owned by the
    * surrounding quads — see Isea4H's ownership scaladoc).
    */
  def childDigits(z: Long): Seq[Int] =
    if (baseCell(z) == 0 || baseCell(z) == 11) Seq(0) else Seq(0, 1, 2, 3)

  def children(z: Long): Seq[Long] = childDigits(z).map(child(z, _))

  /** All index-space descendants at resolution `toRes`: 4^Δr for quad
    * bases, 1 for the caps.
    */
  def descendants(z: Long, toRes: Int): Seq[Long] = {
    val r = resolution(z)
    require(toRes >= r, s"toRes $toRes < res $r")
    var cur = Seq(z)
    var i = r
    while (i < toRes) { cur = cur.flatMap(children); i += 1 }
    cur
  }

  /** Contiguous int64 range [min, max] covering exactly the descendants
    * (at every deeper resolution) of `z` — the prefix-pruning primitive.
    */
  def rangeMin(z: Long): Long = {
    val r = resolution(z)
    z & ~((1L << (60 - 3 * r)) - 1)
  }
  def rangeMax(z: Long): Long = ancestorAt(z, resolution(z))
}
