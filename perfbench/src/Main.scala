package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** The benchmark entry point. Run it through `python3 perfbench/run.py`,
  * which builds the engine and this package and passes the arguments on:
  *
  *   --workload <bulk_assign|polygon_join|query_suite>
  *   --seed <n> --seconds <s> --trace <0|1>
  *   [--smoke]        tiny inputs, for the benchmark's own test
  *   [--pin <file>]   write the query pins instead of benchmarking
  *
  * The last line of stdout is the result object.
  */
object Main {
  /** every per-layer metric: a traced run prints all of them, with 0 where
    * the workload does not call that layer's function
    */
  val Kernels = Seq("z7", "isea3h", "isea4h", "isea43h", "isea4t", "isea4d")
  val OpsCalls = Kernels.map(k => s"assign_rollup.$k") ++ Seq("cell_pyramid.z7",
    "cover_cells", "pip_join_zonal", "compact_cover", "pip_join_compact_zonal", "distance_join")
  val OpsCounts = Seq("ops.cover_rows", "ops.pip_candidates", "ops.pip_matches",
    "ops.pip_refine_frac", "ops.compact_rows", "ops.distance_pairs")
  val Families = QuerySuite.Names.map(QuerySuite.family).distinct
  val EngineNames = Seq("engine.jobs", "engine.stages", "engine.tasks", "engine.busy_frac",
    "engine.sched_delay_s", "engine.gc_s", "engine.shuffle_write_mb", "engine.shuffle_read_mb",
    "engine.spill_mem_mb", "engine.spill_disk_mb", "engine.peak_task_mem_mb")
  val Layers = Seq("bench", "ops", "entry", "engine", "dggs", "spark")

  def perLayerNames: Seq[String] =
    Kernels.flatMap(k => Seq(s"dggs.$k.assign_ns", s"dggs.$k.center_ns", s"dggs.$k.boundary_ns")) ++
      Seq("dggs.z7.snyder_fwd_ns", "dggs.z7.sphere_to_quad_ns", "dggs.z7.fix_ns",
        "dggs.z7.fastwalk_fallback_frac",
        "spark.cell_for_point.rows_per_s", "spark.ancestor_at.rows_per_s",
        "spark.cell_boundary.rows_per_s", "spark.kernel_share") ++
      OpsCalls.map(c => s"ops.$c.s") ++ OpsCounts ++
      Seq("entry.build_s", "entry.plan_s", "entry.exec_s") ++ Families.map(f => s"entry.family.$f.s") ++
      EngineNames ++ Layers.map(l => s"self.$l.s") ++
      Seq("trace.overhead_s", "trace.overhead_frac")

  def unitOf(name: String): String =
    if (name.endsWith("_ns")) "ns"
    else if (name.endsWith("rows_per_s")) "1/s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_frac") || name.endsWith("_share")) "ratio"
    else if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else "count"

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        smoke: Boolean, pin: Option[String], data: String, pins: String, out: String)

  private def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Args(m.getOrElse("--workload", ""), m.getOrElse("--seed", "1").toLong,
      m.getOrElse("--seconds", "10").toDouble, m.getOrElse("--trace", "0") == "1",
      a.contains("--smoke"), m.get("--pin"), m("--data"), m("--pins"), m("--out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val nproc = math.min(8, Runtime.getRuntime.availableProcessors())
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    val builder = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val exit = try {
      args.pin match {
        case Some(p) => pin(spark, args, Paths.get(p))
        case None => bench(spark, args, nproc)
      }
    } finally spark.stop()
    sys.exit(exit)
  }

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** Pins every registry query's (rows, hash), from two passes that must agree. */
  private def pin(spark: SparkSession, a: Args, path: Path): Int = {
    val fns = Adapter.queries
    def pass(): Map[String, (Long, String)] = fns.keys.toSeq.sorted.map { q =>
      val fp = Fingerprint.of(fns(q)(spark, a.data))
      spark.catalog.clearCache()
      q -> fp
    }.toMap
    val (p1, p2) = (pass(), pass())
    val unstable = p1.keys.filter(q => p1(q) != p2(q)).toSeq.sorted
    unstable.foreach(q => log(s"unstable: $q ${p1(q)} vs ${p2(q)}"))
    val lines = p1.toSeq.sortBy(_._1).filterNot(x => unstable.contains(x._1))
      .map { case (q, (n, h)) => s"$q\t$n\t$h" }
    Files.write(path, ("# query\trows\thash (sf0.01)\n" + lines.mkString("\n") + "\n").getBytes("UTF-8"))
    log(s"pinned ${lines.size} queries, ${unstable.size} unstable")
    if (unstable.isEmpty) 0 else 1
  }

  private def workload(spark: SparkSession, a: Args, nproc: Int): Workload = {
    val s = a.smoke
    // cached inputs are split 2 ways per task slot, so that one slow
    // core delays a stage by a small task rather than a quarter of it
    val parts = 2 * nproc
    a.workload match {
      case "bulk_assign" => new BulkAssign(spark, a.seed, if (s) 4000 else 150000, parts)
      case "polygon_join" =>
        new PolygonJoin(spark, a.seed, if (s) 200 else 4500, if (s) 4000 else 40000,
          if (s) 2000 else 10000, parts)
      case "query_suite" =>
        val pins = QuerySuite.readPins(Paths.get(a.pins))
        new QuerySuite(spark, a.seed, a.data, pins,
          if (s) QuerySuite.Names.take(3) else QuerySuite.Names)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  private def bench(spark: SparkSession, a: Args, nproc: Int): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(a.trace)
    val h = new Harness(spark, tracer)
    val w = workload(spark, a, nproc)
    log(s"${w.name}: ${w.describe}; local[$nproc]; seed ${a.seed}; trace ${a.trace}")

    // set-up: inputs built and materialised three times (median), then
    // the warm-up iterations
    val setupReps = (0 until 3).map { _ =>
      val t1 = System.nanoTime(); w.materialise(); (System.nanoTime() - t1) / 1e9
    }
    val sums = ArrayBuffer[String]()
    val warm = (1 to w.warmIterations).map { k =>
      val (wall, sum) = h.iteration(-k, trace = false)(w.iteration(h))
      sums += sum
      wall
    }
    val setupS = sessionS + Stats.median(setupReps) + warm.sum
    log(f"set-up: session $sessionS%.2f s, inputs ${setupReps.map(x => f"$x%.2f").mkString("/")} s, " +
      s"warm-up ${warm.map(x => f"$x%.2f").mkString("/")} s")

    // timed iterations (a traced run alternates untraced and traced ones)
    val listener = if (a.trace) Some(new EngineListener(tracer)) else None
    val walls = ArrayBuffer[(Long, Boolean, Double)]()
    h.measuring = true
    val tStart = System.nanoTime()
    var i = 0L
    while (i < 2 || (System.nanoTime() - tStart) / 1e9 < a.seconds) {
      val traced = a.trace && i % 2 == 1
      if (traced) listener.foreach(spark.sparkContext.addSparkListener)
      val (wall, sum) = try h.iteration(i, traced)(w.iteration(h))
      catch { case e: Exception => log(s"iteration $i failed: $e"); (Double.NaN, "failed") }
      if (traced) listener.foreach { l => l.awaitQuiet(); spark.sparkContext.removeSparkListener(l) }
      if (!wall.isNaN) walls += ((i, traced, wall))
      sums += sum
      i += 1
    }
    h.measuring = false
    h.check(s"${w.name}: iteration checksums identical (${sums.distinct.mkString(" | ")})")(
      sums.distinct.size == 1)
    val tc = System.nanoTime()
    w.finalChecks(h)
    log(f"final checks ${(System.nanoTime() - tc) / 1e9}%.2f s")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val iterWalls = walls.map(_._3).toSeq
        val perCall = h.callWalls.values.map(x => Stats.median(x.toSeq)).toSeq
        val rssMb = peakRssMb()
        log(f"${w.itemName}_per_s ${w.itemsPerIter / Stats.median(iterWalls)}%.1f over " +
          s"${iterWalls.size} iterations (${iterWalls.map(x => f"$x%.3f").mkString(", ")} s); " +
          f"call latency over ${perCall.size} calls x ${iterWalls.size} iterations: " +
          f"p50 ${Stats.median(perCall)}%.3f s, p90 ${Stats.quantile(perCall, 0.9)}%.3f s")
        log("per-call median s: " + h.callWalls.map { case (c, xs) =>
          f"$c=${Stats.median(xs.toSeq)}%.3f" }.mkString(" "))
        if (w.name == "query_suite")
          log(f"suite_s ${Stats.median(iterWalls)}%.3f, query_p50_s ${Stats.median(perCall)}%.3f, " +
            f"query_p90_s ${Stats.quantile(perCall, 0.9)}%.3f (n=${perCall.size} queries)")
        Seq(("setup_s", setupS, "s"),
          ("items_per_s", w.itemsPerIter / Stats.median(iterWalls), "1/s"),
          ("call_p90_s", Stats.quantile(perCall, 0.9), "s"),
          ("peak_rss_mb", rssMb, "MB"))
      } else traced(spark, a, nproc, h, w, tracer, listener.get, walls.toSeq)

    val result = s"""{"correct":${h.failed == 0},"attempted":${h.attempted},"failed":${h.failed},""" +
      """"metrics":{""" + metrics.map { case (n, v, u) =>
        s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",") + "}}"
    println(result)
    0
  }

  /** the per-layer numbers of a traced run */
  private def traced(spark: SparkSession, a: Args, nproc: Int, h: Harness, w: Workload,
                     tracer: Tracer, l: EngineListener,
                     walls: Seq[(Long, Boolean, Double)]): Seq[(String, Double, String)] = {
    val tracedIters = walls.filter(_._2)
    val nT = math.max(1, tracedIters.size).toDouble
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    perLayerNames.foreach(n => m(n) = 0.0)

    // engine: per traced iteration
    val ids = tracedIters.flatMap(t => h.iterSpans.getOrElse(t._1, Nil)).toSet
    val (jobs, stages, e) = l.tally(ids)
    val tracedWall = tracedIters.map(_._3).sum
    val mb = 1024.0 * 1024.0
    m("engine.jobs") = jobs / nT
    m("engine.stages") = stages / nT
    m("engine.tasks") = e.tasks / nT
    m("engine.busy_frac") = if (tracedWall > 0) e.runMs / 1e3 / (tracedWall * nproc) else 0.0
    m("engine.sched_delay_s") = e.schedDelayMs / 1e3 / nT
    m("engine.gc_s") = e.gcMs / 1e3 / nT
    m("engine.shuffle_write_mb") = e.shuffleWriteB / mb / nT
    m("engine.shuffle_read_mb") = e.shuffleReadB / mb / nT
    m("engine.spill_mem_mb") = e.spillMemB / mb / nT
    m("engine.spill_disk_mb") = e.spillDiskB / mb / nT
    m("engine.peak_task_mem_mb") = e.peakTaskMemB / mb

    // operators: median wall per call; domain counts; registry steps per traced pass
    h.callWalls.foreach { case (c, xs) =>
      if (OpsCalls.contains(c)) m(s"ops.$c.s") = Stats.median(xs.toSeq)
    }
    w.domainCounts.foreach { case (k, v) => m(k) = v }
    w.layerTimes.foreach { case (k, v) => m(k) = v / nT }

    val iterSpans = tracer.all
    // kernel and column micro legs, traced under their own iteration
    spark.sparkContext.addSparkListener(l)
    h.iteration(-100, trace = true) {
      Micro.kernelLegs(a.seed, h).foreach { case (k, v) => m(k) = v }
      Micro.columnLegs(spark, a.seed, nproc, m("dggs.z7.assign_ns"), h).foreach { case (k, v) => m(k) = v }
    }
    l.awaitQuiet()
    spark.sparkContext.removeSparkListener(l)

    val spans = tracer.all
    val selfWork = SelfTime.perLayer(iterSpans)
    val selfAll = SelfTime.perLayer(spans)
    Layers.foreach { ly =>
      m(s"self.$ly.s") =
        if (ly == "dggs" || ly == "spark") selfAll.getOrElse(ly, 0.0) else selfWork.getOrElse(ly, 0.0) / nT
    }
    val untracedWalls = walls.filterNot(_._2).map(_._3)
    if (tracedIters.nonEmpty && untracedWalls.nonEmpty) {
      val (tw, uw) = (Stats.median(tracedIters.map(_._3)), Stats.median(untracedWalls))
      m("trace.overhead_s") = tw - uw
      m("trace.overhead_frac") = (tw - uw) / uw
    }
    val path = Paths.get(a.out, "traces", s"${w.name}_seed${a.seed}.json").toAbsolutePath
    SelfTime.writeJson(path, spans, selfAll)
    log(s"trace: ${spans.size} spans written to $path")
    m.toSeq.map { case (k, v) => (k, v, unitOf(k)) }
  }

  /** process high-water resident set (VmHWM), MB */
  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    status.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}
