package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** One timed interval. Times are microseconds since the epoch so that
  * benchmark spans (nanoTime-based) and listener spans (event times in
  * ms) share one clock.
  */
final case class Span(id: Long, parent: Long, iter: Long, layer: String, name: String,
                      startUs: Long, endUs: Long)

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out in one go; nothing is written while timing.
  */
final class Tracer(val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = ArrayBuffer[Span]()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  def newId(): Long = nextId.getAndIncrement()
  def add(s: Span): Unit = if (enabled) synchronized { spans += s }
  def all: Seq[Span] = synchronized { spans.toList }
}

/** Per-task totals the engine reports, summed. */
final class EngineTally {
  var tasks = 0L
  var runMs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillMemB = 0L
  var spillDiskB = 0L
  var peakTaskMemB = 0L
  def add(o: EngineTally): Unit = {
    tasks += o.tasks; runMs += o.runMs; schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB
    spillMemB += o.spillMemB; spillDiskB += o.spillDiskB
    peakTaskMemB = math.max(peakTaskMemB, o.peakTaskMemB)
  }
}

/** Listener that attributes jobs, stages and tasks to the benchmark span
  * that was open when the job was submitted (the `SpanProp` local
  * property), and records job and stage spans for the trace.
  */
final class EngineListener(tracer: Tracer) extends SparkListener {
  import EngineListener.SpanProp
  private val jobParent = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (span, iter)
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]()    // job -> (id, startUs)
  private val perSpan = new ConcurrentHashMap[Long, EngineTally]()
  private val jobsPerSpan = new ConcurrentHashMap[Long, AtomicLong]()
  private val stagesPerSpan = new ConcurrentHashMap[Long, AtomicLong]()
  /** bumps on every event: the quiescence probe */
  val events = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
    val iter = props.flatMap(p => Option(p.getProperty(EngineListener.IterProp)))
      .map(_.toLong).getOrElse(0L)
    jobParent.put(e.jobId, (parent, iter))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobSpan.put(e.jobId, (tracer.newId(), e.time * 1000L))
    jobsPerSpan.computeIfAbsent(parent, _ => new AtomicLong).incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    val (id, start) = jobSpan.get(e.jobId)
    val (parent, iter) = jobParent.get(e.jobId)
    tracer.add(Span(id, parent, iter, "engine", s"job ${e.jobId}", start, e.time * 1000L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val info = e.stageInfo
    val job = stageJob.get(info.stageId)
    if (job != null && jobSpan.containsKey(job)) {
      val (jobId, _) = jobSpan.get(job)
      val (parent, iter) = jobParent.get(job)
      stagesPerSpan.computeIfAbsent(parent, _ => new AtomicLong).incrementAndGet()
      for (s <- info.submissionTime; c <- info.completionTime)
        tracer.add(Span(tracer.newId(), jobId, iter, "engine",
          s"stage ${info.stageId}", s * 1000L, c * 1000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    val job = stageJob.get(e.stageId)
    if (m != null && job != null && jobParent.containsKey(job)) {
      val parent = jobParent.get(job)._1
      val t = new EngineTally
      val info = e.taskInfo
      t.tasks = 1
      t.runMs = m.executorRunTime
      t.schedDelayMs = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      t.gcMs = m.jvmGCTime
      t.shuffleWriteB = m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadB = m.shuffleReadMetrics.totalBytesRead
      t.spillMemB = m.memoryBytesSpilled
      t.spillDiskB = m.diskBytesSpilled
      t.peakTaskMemB = m.peakExecutionMemory
      val acc = perSpan.computeIfAbsent(parent, _ => new EngineTally)
      acc.synchronized(acc.add(t))
    }
  }

  /** engine totals of the jobs submitted under any of `spanIds` */
  def tally(spanIds: Set[Long]): (Long, Long, EngineTally) = {
    val t = new EngineTally
    var jobs = 0L; var stages = 0L
    spanIds.foreach { s =>
      Option(perSpan.get(s)).foreach(x => x.synchronized(t.add(x)))
      jobs += Option(jobsPerSpan.get(s)).map(_.get).getOrElse(0L)
      stages += Option(stagesPerSpan.get(s)).map(_.get).getOrElse(0L)
    }
    (jobs, stages, t)
  }

  /** Listener events arrive asynchronously: wait until the event count
    * holds still for two 200 ms windows (5 s ceiling) before reading.
    */
  def awaitQuiet(): Unit = {
    var stable = 0
    var last = events.get()
    val deadline = System.nanoTime() + 5000000000L
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val cur = events.get()
      stable = if (cur == last) stable + 1 else 0
      last = cur
    }
  }
}

object EngineListener {
  val SpanProp = "perfbench.span"
  val IterProp = "perfbench.iter"
}

/** Self time: a span's duration minus the part of it that its children
  * cover (children clipped to the parent, overlaps merged).
  */
object SelfTime {
  def perLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfUs(s, kids.getOrElse(s.id, Nil))).sum / 1e6
    }
  }

  private def selfUs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endUs - s.startUs) - covered
  }

  def writeJson(path: java.nio.file.Path, spans: Seq[Span], self: Map[String, Double]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    sb.append("{\"self_s\":{")
    sb.append(self.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(","))
    sb.append("},\"spans\":[\n")
    sb.append(spans.sortBy(_.startUs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"iter":${s.iter},"layer":"${s.layer}",""" +
        s""""name":"${Json.esc(s.name)}","start_us":${s.startUs},"end_us":${s.endUs}}"""
    }.mkString(",\n"))
    sb.append("\n]}\n")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
