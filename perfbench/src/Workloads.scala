package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A seeded workload: inputs are built from the seed, materialised and
  * warmed before timing; each iteration returns a checksum that must not
  * change between iterations.
  */
trait Workload {
  def name: String
  /** what one item is (points, queries) */
  def itemName: String
  def itemsPerIter: Long
  /** builds and caches the inputs; called more than once (set-up is repeated) */
  def materialise(): Unit
  def iteration(h: Harness): String
  /** untimed full iterations before the timed ones, so that code is
    * compiled and the timed iterations run at steady state
    */
  def warmIterations: Int
  /** correctness checks made once, after the timed iterations */
  def finalChecks(h: Harness): Unit
  /** domain counts for the traced run (ops.* names) */
  def domainCounts: Map[String, Double] = Map.empty
  /** extra per-layer numbers gathered in traced iterations */
  def layerTimes: Map[String, Double] = Map.empty
  def describe: String
}

/** Seeded input generators. Same seed and size, same rows. */
object Gen {
  /** world-wide points, uniform by area: (pid, lon, lat, value) */
  def points(spark: SparkSession, seed: Long, n: Long, parts: Int, salt: Long = 0): DataFrame =
    spark.range(0, n, 1, parts).select(
      col("id").as("pid"),
      (rand(seed * 31 + salt) * 360.0 - 180.0).as("lon"),
      degrees(asin(rand(seed * 31 + salt + 7) * 2.0 - 1.0)).as("lat"),
      (rand(seed * 31 + salt + 13) * 1000.0).cast("long").as("value"))

  /** driver-side copy of the same kind of points, for the kernel legs */
  def pointArrays(seed: Long, n: Int): (Array[Double], Array[Double]) = {
    val r = new scala.util.Random(seed)
    val lat = Array.fill(n)(math.toDegrees(math.asin(r.nextDouble() * 2 - 1)))
    val lon = Array.fill(n)(r.nextDouble() * 360.0 - 180.0)
    (lat, lon)
  }

  /** axis-aligned lon/lat rectangles (w x h degrees) away from the poles
    * and the antimeridian: (poly_id, wkt)
    */
  def rectangles(seed: Long, n: Int, w: Double, h: Double): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed * 17 + 3)
    (0 until n).map { i =>
      val x0 = -175.0 + r.nextDouble() * (350.0 - w)
      val y0 = -70.0 + r.nextDouble() * (140.0 - h)
      val (x1, y1) = (x0 + w, y0 + h)
      (i.toLong, "POLYGON ((%.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f, %.6f %.6f))".formatLocal(
        java.util.Locale.ROOT, x0, y0, x1, y0, x1, y1, x0, y1, x0, y0))
    }
  }
}

/** Points in: all six kernels assign seeded world-wide points through
  * GridOps.cellsForGeoPoints*, each followed by a parent rollup; then a
  * Z7 cellPyramid. Nearly no shuffle: kernel and column work dominate.
  */
final class BulkAssign(spark: SparkSession, seed: Long, n: Long, parts: Int) extends Workload {
  val name = "bulk_assign"
  val itemName = "points"
  def itemsPerIter: Long = n
  private var points: DataFrame = _
  private val PyramidRes = 6

  def describe = s"$n points, kernels at res ${Adapter.Res}, rollup to res ${Adapter.RollupRes}, " +
    s"Z7 pyramid res $PyramidRes..0"

  def materialise(): Unit = {
    release()
    points = Gen.points(spark, seed, n, parts).select("pid", "lon", "lat").cache()
    points.count()
  }

  def iteration(h: Harness): String = {
    val sums = Adapter.kernels.map { k =>
      val rows = h.call("ops", s"assign_rollup.${k.name}") {
        k.assign(points)
          .groupBy(k.ancestorAtCol(col("cell_id"), k.rollupRes).as("cell"))
          .count().collect().toSeq
      }
      h.check(s"bulk_assign: ${k.name} rollup counts sum to $n")(rows.map(_.getLong(1)).sum == n)
      Fingerprint.rows(rows)._2
    }
    val z7 = Adapter.kernel("z7")
    val pyr = h.call("ops", "cell_pyramid.z7") {
      Adapter.cellPyramid(
        z7.assign(points).select(z7.ancestorAtCol(col("cell_id"), PyramidRes).as("cell_id")),
        0, PyramidRes).collect().toSeq
    }
    // every level of the pyramid counts every point once
    h.check("bulk_assign: pyramid levels each sum to N") {
      pyr.groupBy(_.getAs[Int]("res")).values.forall(_.map(_.getAs[Long]("n")).sum == n)
    }
    (sums :+ Fingerprint.rows(pyr)._2).mkString("/")
  }

  val warmIterations = 3

  def release(): Unit = if (points != null) points.unpersist(true)

  def finalChecks(h: Harness): Unit = {
    // column path ids == direct kernel ids on a seeded sample
    val sample = points.orderBy("pid").limit(2000)
    Adapter.kernels.foreach { k =>
      val rows = k.assign(sample).select("lon", "lat", "cell_id").collect()
      h.check(s"bulk_assign: ${k.name} column ids equal kernel cellForPoint ids") {
        rows.forall(r => k.cellForPoint(r.getDouble(1), r.getDouble(0)) == r.getLong(2))
      }
    }
  }
}

/** Cells out: a seeded set of 3 x 2 degree polygons, more than the JTS
  * prepared-geometry cache holds, is covered (coverCellsDf), joined to
  * seeded points with a per-polygon zonal aggregate (auto strategy),
  * joined again through the compacted cover, and a distanceJoin radius
  * leg runs on two point samples.
  */
final class PolygonJoin(spark: SparkSession, seed: Long, nPoly: Int, nPts: Long,
                        nRadius: Long, parts: Int) extends Workload {
  val name = "polygon_join"
  val itemName = "points"
  def itemsPerIter: Long = nPts
  val Res = 2
  val RadiusKm = 25.0
  private val rects = Gen.rectangles(seed, nPoly, 3.0, 2.0)
  private var polys: DataFrame = _
  private var points: DataFrame = _
  private var left: DataFrame = _
  private var right: DataFrame = _
  private var counts = Map.empty[String, Double]

  def describe = s"$nPoly polygons (3x2 deg) at cover res $Res, $nPts points, " +
    s"$nRadius x $nRadius points within $RadiusKm km"

  def materialise(): Unit = {
    release()
    import spark.implicits._
    polys = rects.toDF("poly_id", "wkt").repartition(parts).cache()
    points = Gen.points(spark, seed, nPts, parts).cache()
    left = Gen.points(spark, seed, nRadius, parts, salt = 101).select(
      col("pid").as("l_id"), col("lon"), col("lat")).cache()
    right = Gen.points(spark, seed, nRadius, parts, salt = 202).select(
      col("pid").as("r_id"), col("lon"), col("lat")).cache()
    Seq(polys, points, left, right).foreach(_.count())
  }

  private def zonal(joined: DataFrame): Seq[Row] =
    joined.groupBy("poly_id")
      .agg(count(lit(1)).as("n"), sum("value").as("v")).collect().toSeq

  /** the covers of the latest iteration, kept for the final checks */
  private var cover: DataFrame = _
  private var compacted: DataFrame = _
  private def releaseCovers(): Unit = Seq(cover, compacted).filter(_ != null).foreach(_.unpersist(false))

  def iteration(h: Harness): String = {
    releaseCovers()
    cover = h.call("ops", "cover_cells") {
      val c = Adapter.coverCells(polys, Res).cache(); c.count(); c
    }
    val auto = h.call("ops", "pip_join_zonal")(zonal(Adapter.pipJoin(points, cover, Res, None)))
    compacted = h.call("ops", "compact_cover") {
      val c = Adapter.compactCover(cover).cache(); c.count(); c
    }
    val viaCompact = h.call("ops", "pip_join_compact_zonal") {
      zonal(Adapter.pipJoinCompact(points, compacted, Res))
    }
    val pairs = h.call("ops", "distance_join")(Adapter.distanceJoin(left, right, RadiusKm).count())
    val (fa, fc) = (Fingerprint.rows(auto), Fingerprint.rows(viaCompact))
    h.check("polygon_join: compacted-cover zonal rows equal the uniform-cover rows")(fa == fc)
    if (h.tracing) {
      val pipMatches = auto.map(_.getLong(1)).sum.toDouble
      val cand = Adapter.pipCandidates(points, cover, Res).count().toDouble
      counts = Map(
        "ops.cover_rows" -> cover.count().toDouble,
        "ops.compact_rows" -> compacted.count().toDouble,
        "ops.pip_candidates" -> cand,
        "ops.pip_matches" -> pipMatches,
        "ops.pip_refine_frac" -> (if (cand > 0) pipMatches / cand else 0.0),
        "ops.distance_pairs" -> pairs.toDouble)
    }
    s"${fa._1}:${fa._2}/$pairs"
  }

  override def domainCounts: Map[String, Double] = counts

  val warmIterations = 1

  def release(): Unit = {
    releaseCovers()
    Seq(polys, points, left, right).filter(_ != null).foreach(_.unpersist(true))
  }

  def finalChecks(h: Harness): Unit = {
    try {
      // (pid, poly_id) row sets of every physical path, on a quarter of the points
      val quarter = points.where(col("pid") % 4 === 0)
      def pairsOf(df: DataFrame) = Fingerprint.of(df.select("pid", "poly_id"))
      val au = pairsOf(Adapter.pipJoin(quarter, cover, Res, None))
      val bc = pairsOf(Adapter.pipJoin(quarter, cover, Res, Some(true)))
      val sh = pairsOf(Adapter.pipJoin(quarter, cover, Res, Some(false)))
      val cp = pairsOf(Adapter.pipJoinCompact(quarter, compacted, Res))
      h.check(s"polygon_join: auto $au, broadcast $bc, shuffle $sh and compacted $cp paths agree")(
        Set(au, bc, sh, cp).size == 1)
      // brute-force JTS contains of a seeded point sample against every polygon
      val sample = points.where(col("pid") % 499 === seed.abs % 499)
        .select("pid", "lon", "lat").collect()
      val gf = new org.locationtech.jts.geom.GeometryFactory()
      val rd = new org.locationtech.jts.io.WKTReader(gf)
      val prepared = rects.map(r =>
        (r._1, org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(rd.read(r._2))))
      val brute = sample.flatMap { p =>
        val pt = gf.createPoint(new org.locationtech.jts.geom.Coordinate(p.getDouble(1), p.getDouble(2)))
        prepared.collect { case (id, g) if g.contains(pt) => (p.getLong(0), id) }
      }.toSet
      val ids = sample.map(_.getLong(0)).toSet
      val joined = Adapter.pipJoin(points.where(col("pid").isin(ids.toSeq: _*)), cover, Res, None)
        .select("pid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      h.check(s"polygon_join: join equals brute-force JTS contains on ${sample.length} points " +
        s"(${brute.size} pairs)")(joined == brute)
    } finally releaseCovers()
  }
}

/** Fixed costs: a fixed slice of the SparkEntry.queries registry, run
  * once per pass in seeded order on the bundled sf0.01 tables. Each
  * query's row count and order-independent hash must match the pinned
  * values on every pass.
  */
final class QuerySuite(spark: SparkSession, seed: Long, dataDir: String,
                       pins: Map[String, (Long, String)], names: Seq[String]) extends Workload {
  val name = "query_suite"
  val itemName = "queries"
  def itemsPerIter: Long = names.size
  private val order = new scala.util.Random(seed).shuffle(names)
  private val stepTotals = scala.collection.mutable.LinkedHashMap[String, Double]()

  def describe = s"${names.size} registry queries at sf0.01"

  def materialise(): Unit =
    Seq("customer", "documents", "embeddings", "events", "lineitem", "orders")
      .foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())

  private def addStep(k: String, s: Double): Unit = stepTotals(k) = stepTotals.getOrElse(k, 0.0) + s

  def iteration(h: Harness): String = {
    val fns = Adapter.queries
    order.foreach { q =>
      val t0 = System.nanoTime()
      val got = h.call("entry", q) {
        def timed[T](step: String)(f: => T): T = {
          val s0 = System.nanoTime()
          try h.span("entry", s"$q.$step")(f)
          finally if (h.tracing) addStep(s"entry.${step}_s", (System.nanoTime() - s0) / 1e9)
        }
        val df = timed("build")(fns(q)(spark, dataDir))
        val agg = timed("plan") { val a = Fingerprint.hashAgg(df); a.queryExecution.executedPlan; a }
        val r = timed("exec")(agg.collect().head)
        (r.getLong(0), Option(r.getString(1)).getOrElse("0"))
      }
      spark.catalog.clearCache()
      if (h.tracing) addStep(s"entry.family.${QuerySuite.family(q)}.s", (System.nanoTime() - t0) / 1e9)
      h.check(s"query_suite: $q rows/hash $got match pinned ${pins.get(q)}")(pins.get(q).contains(got))
    }
    names.size.toString
  }

  override def layerTimes: Map[String, Double] = stepTotals.toMap
  /** one cold pass: every query has its own code path */
  val warmIterations = 1
  def finalChecks(h: Harness): Unit = ()
}

object QuerySuite {
  /** The registry slice: a relational anchor plus dedup and DGGS
    * queries, including the fixed-cost items (dedup_incremental,
    * dggs_checkpoint_rollup) that dominate the full suite, at about a
    * tenth of a full pass.
    */
  val Names: Seq[String] = Seq(
    "q2_join_agg", "dedup_exact", "dedup_incremental",
    "dggs_cell_assign", "dggs_parent_rollup", "dggs_checkpoint_rollup")

  /** query-name family: the name up to its first '_', trailing digits dropped (q1_agg -> q) */
  def family(q: String): String = q.takeWhile(_ != '_').reverse.dropWhile(_.isDigit).reverse

  def readPins(path: java.nio.file.Path): Map[String, (Long, String)] =
    new String(java.nio.file.Files.readAllBytes(path), "UTF-8").split("\n").toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, c, hsh) = l.split("\t"); n -> (c.toLong, hsh) }.toMap
}
