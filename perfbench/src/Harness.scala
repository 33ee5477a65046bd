package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Runs a workload's calls, counts attempts and failures, and (in a
  * traced iteration) records a span per call with the Spark jobs linked
  * to it through a local property.
  */
final class Harness(val spark: SparkSession, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  /** per call name: wall seconds of each measured call */
  val callWalls = LinkedHashMap[String, ArrayBuffer[Double]]()
  /** span ids opened in each traced iteration (for the engine tally) */
  val iterSpans = LinkedHashMap[Long, ArrayBuffer[Long]]()
  var measuring = false
  private var traced = false
  private var iter = 0L
  private var parent = 0L

  private def sc = spark.sparkContext

  def tracing: Boolean = traced

  /** A span around `body`: recorded only in traced iterations. Spark
    * jobs submitted inside it carry its id.
    */
  def span[T](layer: String, name: String)(body: => T): T = {
    val id = tracer.newId()
    val outer = parent
    parent = id
    sc.setLocalProperty(EngineListener.SpanProp, id.toString)
    if (traced) iterSpans.getOrElseUpdate(iter, ArrayBuffer()) += id
    val s0 = tracer.nowUs
    try body
    finally {
      if (traced) tracer.add(Span(id, outer, iter, layer, name, s0, tracer.nowUs))
      parent = outer
      sc.setLocalProperty(EngineListener.SpanProp, outer.toString)
    }
  }

  /** One operation of the workload: a span, an attempt, and (while
    * measuring) a latency sample under `name`.
    */
  def call[T](layer: String, name: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    try span(layer, name)(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $name: $e")
        throw e
    } finally {
      if (measuring)
        callWalls.getOrElseUpdate(name, ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
    }
  }

  /** A correctness check: counted as an attempt, and as a failure when false. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Throwable => System.err.println(s"[perfbench] check threw: $what: $e"); false
    }
    if (!pass) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
  }

  /** Runs one iteration of the workload; returns its wall seconds. */
  def iteration[T](i: Long, trace: Boolean)(body: => T): (Double, T) = {
    iter = i
    traced = trace && tracer.enabled
    sc.setLocalProperty(EngineListener.IterProp, i.toString)
    val t0 = System.nanoTime()
    val out = span("bench", s"iteration $i")(body)
    val wall = (System.nanoTime() - t0) / 1e9
    traced = false
    (wall, out)
  }
}

object Stats {
  /** linear-interpolated quantile (q in [0,1]) */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Order-independent result fingerprints. */
object Fingerprint {
  /** (row count, sum of per-row xxhash64) of a DataFrame, in one job.
    * Columns are normalised first so the hash does not depend on row or
    * element order: arrays and maps are sorted.
    */
  def hashAgg(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => normalise(col(f.name), f.dataType))
    named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).cast("string").as("s"))
  }

  def of(df: DataFrame): (Long, String) = {
    val r = hashAgg(df).head()
    (r.getLong(0), Option(r.getString(1)).getOrElse("0"))
  }

  /** (count, hash) of collected rows */
  def rows(rs: Seq[Row]): (Long, String) =
    (rs.size.toLong, rs.map(r => scala.util.hashing.MurmurHash3.seqHash(r.toSeq).toLong)
      .foldLeft(BigInt(0))(_ + _).toString)

  private def normalise(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column =
    t match {
      case m: MapType => array_sort(map_entries(c))
      case ArrayType(_: MapType, _) => c.cast("string")
      case ArrayType(_, _) => array_sort(c)
      case _ => c
    }
}
