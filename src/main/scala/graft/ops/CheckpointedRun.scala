package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}
import graft.dggs.{GridKernel, Z7}
import graft.spark.GridColumns

/** Checkpoint-resumable partitioned runs with per-partition lineage and
  * metrics (north_rule): the work is split into contiguous Z7 cell-index
  * ranges (adaptive on cell prefixes — hot regions get finer ranges),
  * each range is processed and committed independently, and a manifest
  * records per-range lineage (range bounds, row/cell counts, wall time,
  * status). Re-running the same job skips committed ranges — the
  * kill-and-resume result is identical to a single-shot run.
  *
  * The manifest + per-range parquet parts simulate Iceberg
  * snapshot/manifest semantics (no Iceberg runtime jar ships in this
  * sandbox — SURVEY.md §2.8; the layout maps 1:1 onto an Iceberg table
  * with a range-partition spec).
  */
object CheckpointedRun {

  final case class CellRange(name: String, lo: Long, hi: Long)
  final case class RangeResult(name: String, lo: Long, hi: Long, status: String,
                               inRows: Long, outRows: Long, wallMs: Long)

  /** Adaptive range planning: count rows per res-`prefixRes` ancestor
    * (one partial-aggregated pass), then greedily pack the Z7-ordered
    * prefixes into contiguous int64 ranges of ≤ targetRows (hot prefixes
    * form their own narrow range — explicit skew handling; Z7 order =
    * spatial locality, so ranges are compact regions).
    */
  def planRanges(cells: DataFrame, cellCol: String, prefixRes: Int,
                 targetRows: Long): Seq[CellRange] = {
    val counts = cells
      .groupBy(GridColumns(GridKernel.igeo7()).ancestorAt(col(cellCol), lit(prefixRes)).as("p"))
      .agg(count(lit(1)).as("n"))
      .orderBy("p")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ranges = scala.collection.mutable.ArrayBuffer[CellRange]()
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    var curN = 0L
    def flush(): Unit = if (curN > 0) {
      ranges += CellRange(f"r${ranges.size}%04d", curLo, curHi)
      curN = 0
    }
    for ((p, n) <- counts) {
      val lo = Z7.rangeMin(p); val hi = Z7.rangeMax(p)
      if (curN > 0 && curN + n > targetRows) flush()
      if (curN == 0) curLo = lo
      curHi = hi; curN += n
    }
    flush()
    ranges.toSeq
  }

  /** Run `transform` over each uncommitted range, writing
    * `outDir/part=<name>` and appending a manifest line per range.
    * Returns per-range results (including skipped ones).
    *
    * Scale shape (round-1 verdict #10): up to `maxConcurrency` ranges are
    * submitted as CONCURRENT Spark jobs (one range must not serialize the
    * cluster), and each range costs exactly ONE action — the write — with
    * the in/out row counts collected as `Observation` metrics inside that
    * same job instead of separate count() passes. The manifest append is
    * the only synchronized section, and each line is still committed
    * atomically after its range's write succeeds, so kill-and-resume
    * semantics are unchanged.
    */
  def run(input: DataFrame, cellCol: String, ranges: Seq[CellRange], outDir: String,
          maxConcurrency: Int = 8)
         (transform: DataFrame => DataFrame): Seq[RangeResult] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    Files.createDirectories(Paths.get(outDir))
    val manifestPath = Paths.get(s"$outDir/_manifest.jsonl")
    val done: Set[String] =
      if (Files.exists(manifestPath))
        scala.jdk.CollectionConverters.ListHasAsScala(
          Files.readAllLines(manifestPath)).asScala
          .filter(_.contains(""""status":"done""""))
          .flatMap(l => """"name":"([^"]+)"""".r.findFirstMatchIn(l).map(_.group(1)))
          .toSet
      else Set.empty
    val lock = new Object
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxConcurrency, ranges.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = ranges.map { r =>
        if (done.contains(r.name))
          Future.successful(RangeResult(r.name, r.lo, r.hi, "skipped", 0, 0, 0))
        else Future {
          val t0 = System.nanoTime()
          val inObs = org.apache.spark.sql.Observation(s"ckpt_in_${r.name}_$t0")
          val outObs = org.apache.spark.sql.Observation(s"ckpt_out_${r.name}_$t0")
          val slice = input
            .where(col(cellCol) >= r.lo && col(cellCol) <= r.hi)
            .observe(inObs, count(lit(1)).as("n"))
          val out = transform(slice).observe(outObs, count(lit(1)).as("n"))
          out.write.mode("overwrite").parquet(s"$outDir/part=${r.name}")
          val inRows = inObs.get("n").asInstanceOf[Long]
          val outRows = outObs.get("n").asInstanceOf[Long]
          val wallMs = (System.nanoTime() - t0) / 1000000
          val line = s"""{"name":"${r.name}","lo":${r.lo},"hi":${r.hi},""" +
            s""""status":"done","in_rows":$inRows,"out_rows":$outRows,"wall_ms":$wallMs}"""
          lock.synchronized {
            Files.write(manifestPath, java.util.List.of(line),
              StandardOpenOption.CREATE, StandardOpenOption.APPEND)
          }
          RangeResult(r.name, r.lo, r.hi, "done", inRows, outRows, wallMs)
        }
      }
      futures.map(f => Await.result(f, Duration.Inf))
    } finally pool.shutdown()
  }

  /** read back the union of all committed parts. The part directories are
    * pre-resolved to explicit paths: passing the `part=*` glob makes Spark
    * probe it for streaming-sink metadata, emitting a misleading
    * FileNotFoundException WARN stack (benign but alarming in bench logs).
    */
  def readOutput(spark: SparkSession, outDir: String): DataFrame = {
    val stream = java.nio.file.Files.list(Paths.get(outDir))
    val paths =
      try {
        val parts = stream.iterator()
        val buf = scala.collection.mutable.ArrayBuffer[String]()
        while (parts.hasNext) {
          val p = parts.next()
          if (p.getFileName.toString.startsWith("part=")) buf += p.toString
        }
        buf.toSeq
      } finally stream.close()
    require(paths.nonEmpty, s"no committed parts under $outDir")
    spark.read.parquet(paths: _*)
  }
}
