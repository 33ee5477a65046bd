package graft.dggs

/** Z3 hierarchical index codec for aperture-3 hexagonal DGGS (ISEA3H).
  *
  * The reference exposes Z3 / Z3_STRING as address types for ISEA3H
  * (dggrid_runner.py:131-134, HIERNDX v8 :174-184) but publishes no
  * golden Z3 ids anywhere in its tests or examples, so — like SEQNUM and
  * the T4/D4 codecs — the digit convention here is ENGINE-CANONICAL:
  * bijective, hierarchical, documented, and pinned by property tests
  * (Isea3HSpec / Z3Spec), not by DGGRID bit parity.
  *
  * Layout mirrors Z7 (igeo7.py:16-122's layout family — base + per-res
  * digits + all-ones pad):
  *   - 64-bit: 4 MSBs = base cell 0-11, then 30 groups of 2 bits, each a
  *     resolution digit 0-2, value 3 = "beyond resolution" pad.
  *   - Base cells: 0 = icosahedron vertex v0 (the quad-layout cap), 1-10
  *     = the ten rhombic quads, 11 = vertex v11 (the opposite cap).
  *   - Digits (Isea3H kernel convention): 0 = center child (the cell at
  *     the parent's own lattice point), 1 = the child one quad-basis-A
  *     step away, 2 = one quad-basis-B step away — the two deep holes of
  *     the parent lattice the parent canonically owns. Bases 0/11 admit
  *     only digit 0 (the cap pentagons' subtree is just themselves).
  *   - Z3_STRING: zero-padded 2-digit base + one char per digit < 3.
  *   - resolution = number of non-pad digits; parent = drop last digit.
  *
  * Pad digits are all-ones, so every descendant of a parent at
  * resolution r shares the parent's leading 4+2r bits — descendants form
  * ONE contiguous int64 range [rangeMin, rangeMax] and COARSE_CELLS /
  * subtree pruning are min/max range predicates (same storage-layer
  * property as Z7; SURVEY.md §4).
  */
object Z3 extends CellCodec {

  val MaxRes = 30
  val layout: IdLayout = IdLayout.PaddedDigits(2)
  val bases: Range = 0 to 11
  def toCellString(id: Long): String = toZ3String(id)
  def fromCellString(s: String): Long = fromZ3String(s)

  /** Pack base cell + digits; remaining positions padded with 3. */
  def pack(base: Int, digits: Seq[Int]): Long = {
    require(base >= 0 && base <= 11, s"base cell $base out of range")
    require(digits.length <= MaxRes, s"too many digits (${digits.length})")
    var v = base.toLong << 60
    var i = 0
    while (i < MaxRes) {
      // REAL digit positions admit only 0-2: accepting the pad value 3
      // here would let a malformed Z3_STRING (e.g. "0530") build an id
      // whose bit pattern disagrees with its reported resolution, and
      // every range/parent predicate downstream would silently lie
      val d = if (i < digits.length) {
        require(digits(i) >= 0 && digits(i) <= 2,
          s"digit ${digits(i)} out of range at position ${i + 1}")
        digits(i)
      } else 3
      v |= d.toLong << (58 - 2 * i)
      i += 1
    }
    v
  }

  def baseCell(z: Long): Int = ((z >>> 60) & 0xFL).toInt

  /** Digit at level `i` (1-based: level 1 is the first digit). */
  def digit(z: Long, i: Int): Int = ((z >>> (60 - 2 * i)) & 0x3L).toInt

  /** Resolution = number of leading non-pad digits. */
  def resolution(z: Long): Int = {
    var r = 0
    while (r < MaxRes && digit(z, r + 1) != 3) r += 1
    r
  }

  def digits(z: Long): Seq[Int] = (1 to resolution(z)).map(digit(z, _))

  /** Z3_STRING: 2-digit base + digit chars (Z7_STRING convention). */
  def toZ3String(z: Long): String = {
    val sb = new StringBuilder(32)
    val b = baseCell(z)
    if (b < 10) sb.append('0')
    sb.append(b)
    var i = 1
    var d = digit(z, 1)
    while (i <= MaxRes && d != 3) {
      sb.append(('0' + d).toChar)
      i += 1
      if (i <= MaxRes) d = digit(z, i)
    }
    sb.toString
  }

  def fromZ3String(s: String): Long = {
    require(s.length >= 2 && s.length <= 2 + MaxRes, s"bad Z3_STRING '$s'")
    val base = s.substring(0, 2).toInt
    pack(base, s.drop(2).map(c => c - '0'))
  }

  def toHex(z: Long): String = f"$z%016x"
  def fromHex(h: String): Long = java.lang.Long.parseUnsignedLong(h, 16)

  /** Parent at resolution-1 (pad the last digit). */
  def parent(z: Long): Long = {
    val r = resolution(z)
    require(r > 0, "res-0 cell has no parent")
    z | (0x3L << (60 - 2 * r))
  }

  /** Ancestor at resolution `r` (pad everything deeper). */
  def ancestorAt(z: Long, r: Int): Long = {
    require(r >= 0 && r <= resolution(z), s"bad ancestor res $r")
    if (r == MaxRes) z
    else z | ((1L << (60 - 2 * r)) - 1)
  }

  def localPos(z: Long): Int = digit(z, resolution(z))
  def isCenter(z: Long): Boolean = resolution(z) == 0 || localPos(z) == 0

  /** Pentagon ⇔ every digit is 0 (the 12 vertex cells: bases 0/11 at
    * every depth, plus each quad's owned-corner cell — same all-zero-path
    * rule as Z7 / igeo7_ext.py:92-99).
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
    require(d >= 0 && d <= 2, s"bad digit $d")
    val shift = 60 - 2 * (r + 1)
    (z & ~(0x3L << shift)) | (d.toLong << shift)
  }

  /** Children digits: 0..2 for quad-based cells; the cap bases 0/11 have
    * only the center child (their vertex-fan neighbours are owned by the
    * surrounding quads — see Isea3H's ownership scaladoc).
    */
  def childDigits(z: Long): Seq[Int] =
    if (baseCell(z) == 0 || baseCell(z) == 11) Seq(0) else Seq(0, 1, 2)

  def children(z: Long): Seq[Long] = childDigits(z).map(child(z, _))

  /** All index-space descendants at resolution `toRes`: 3^Δr for quad
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
    z & ~((1L << (60 - 2 * r)) - 1)
  }
  def rangeMax(z: Long): Long = ancestorAt(z, resolution(z))
}
