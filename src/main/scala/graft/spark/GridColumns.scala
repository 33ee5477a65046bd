package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprBridge
import graft.dggs.{GridKernel, IdLayout}
import graft.dggs.Sphere.GeoRad

/** Column-level DGGS functions for any [[GridKernel]] (SURVEY.md §7
  * layer 3) — the one column layer every grid family shares. Scalar cell
  * math is a narrow map of Scala UDFs over the pure kernel: measured
  * head-to-head the UDF runs at raw-kernel speed (the projection math
  * dominates, boxing is noise), and Catalyst treats UDFs as expensive,
  * so it never re-evaluates one per consuming reference (a native
  * cell-for-point expression did, a measured 35% flagship regression).
  * Hierarchy keys are native codegen bit math ([[ancestorAtExpr]]).
  */
final class GridColumns(val kernel: GridKernel) extends Serializable {
  import GridColumns._

  /** (lon°, lat°) → cell id at `res`; null for a non-finite point or
    * |lat| > 90 (the kernel API raises on those instead)
    */
  def cellForPoint(lon: Column, lat: Column, res: Column): Column = {
    val k = kernel
    udf { (lo: Double, la: Double, r: Int) =>
      if (GridKernel.validLonLat(lo, la))
        java.lang.Long.valueOf(k.cellForPoint(GeoRad.fromDeg(la, lo), r))
      else null
    }.apply(lon, lat, res)
  }

  def string(cell: Column): Column = {
    val k = kernel
    udf((z: Long) => k.cellToString(z)).apply(cell)
  }

  def fromString(s: Column): Column = {
    val k = kernel
    udf((x: String) => k.cellFromString(x)).apply(s)
  }

  /** parent cell at res-1 (raises on res 0) */
  def parent(cell: Column): Column = {
    val k = kernel
    udf((z: Long) => k.parent(z)).apply(cell)
  }

  /** ancestor at resolution r, raising when r is above the cell's res */
  def ancestorAt(cell: Column, r: Column): Column = {
    val k = kernel
    udf((z: Long, rr: Int) => k.ancestorAt(z, rr)).apply(cell, r)
  }

  /** native codegen ancestor-at: inline bit math, no validity raise (r
    * above the cell's res is a no-op; callers needing the loud contract
    * use [[ancestorAt]]). With a literal r it constant-folds to one mask.
    */
  def ancestorAtExpr(cell: Column, r: Column): Column = kernel.codec.layout match {
    case IdLayout.PaddedDigits(slotBits) => paddedAncestorAtExpr(slotBits)(cell, r)
    case IdLayout.Quat2 => quat2AncestorAtExpr(cell, r)
  }

  /** resolution; native for the Quat2 layout's explicit res field */
  def resolution(cell: Column): Column = kernel.codec.layout match {
    case IdLayout.Quat2 => shiftrightunsigned(cell, 48).bitwiseAND(lit(31L)).cast("int")
    case _ =>
      val k = kernel
      udf((z: Long) => k.resolution(z)).apply(cell)
  }

  /** immediate children — explode for children-of-parent expansion */
  def children(cell: Column): Column = {
    val k = kernel
    udf((z: Long) => k.children(z)).apply(cell)
  }

  /** all descendants at resolution r */
  def descendantsAt(cell: Column, r: Column): Column = {
    val k = kernel
    udf((z: Long, rr: Int) => k.descendants(z, rr)).apply(cell, r)
  }

  /** leaves at the codec's MaxRes under the cell (compaction's target) */
  private[graft] def subtreeSize(cell: Column): Column = {
    val k = kernel
    udf((z: Long) => k.subtreeSize(z)).apply(cell)
  }

  /** cell center as struct(lon, lat) degrees */
  def cellCenter(cell: Column): Column = {
    val k = kernel
    udf { (z: Long) =>
      val c = k.cellCenter(z)
      (c.lonDeg, c.latDeg)
    }.apply(cell).cast("struct<lon:double,lat:double>")
  }

  /** boundary ring as array<struct<lon,lat>>, closed implicitly */
  def cellBoundary(cell: Column): Column = {
    val k = kernel
    udf((z: Long) => k.cellBoundary(z).map(g => (g.lonDeg, g.latDeg)))
      .apply(cell).cast("array<struct<lon:double,lat:double>>")
  }

  /** boundary as a WKT POLYGON (closed ring) */
  def cellBoundaryWkt(cell: Column): Column = {
    val k = kernel
    udf((z: Long) => wktPolygon(k.cellBoundary(z))).apply(cell)
  }
}

object GridColumns {
  def apply(kernel: GridKernel): GridColumns = new GridColumns(kernel)

  private[spark] def wktPolygon(ring: Array[GeoRad]): String =
    (ring :+ ring.head).map(g => f"${g.lonDeg}%.12f ${g.latDeg}%.12f")
      .mkString("POLYGON ((", ", ", "))")

  /** `1L << bits` with a COLUMN shift count (the Scala `shiftleft`
    * wrapper only takes an Int literal)
    */
  private def shiftLeftC(v: Column, bits: Column): Column =
    ExprBridge.column(org.apache.spark.sql.catalyst.expressions.ShiftLeft(
      ExprBridge.expression(v), ExprBridge.expression(bits)))

  /** base<<60 / all-ones-pad layouts: pad every level deeper than r */
  private def paddedAncestorAtExpr(slotBits: Int)(cell: Column, r: Column): Column =
    cell.bitwiseOR(
      shiftLeftC(lit(1L), lit(60) - lit(slotBits) * r.cast("int")) - lit(1L))

  /** Quat2 layout: rewrite the res field, zero the deeper digits */
  private def quat2AncestorAtExpr(cell: Column, r: Column): Column = {
    val ri = r.cast("int")
    val digitMask = when(ri === 0, lit(0L)).otherwise(
      shiftLeftC(lit(1L), lit(48)) -
        shiftLeftC(lit(1L), lit(48) - lit(2) * ri))
    shiftleft(shiftrightunsigned(cell, 48).bitwiseAND(lit(~31L))
        .bitwiseOR(ri.cast("long")), 48)
      .bitwiseOR(cell.bitwiseAND(digitMask))
  }
}
