package graft.perf

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced layer call: wall interval, parent span, trace id (one
  * trace per benchmark operation).
  */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
    startNs: Long, endNs: Long, epochMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span. */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  /** Completed stages that read one of the watched (cached) RDDs. */
  var watchedScans = 0L
  /** Wall intervals (ms since epoch) during which a job of this span ran. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    gcMs += o.gcMs; runMs += o.runMs; cpuNs += o.cpuNs
    watchedScans += o.watchedScans; jobIntervals ++= o.jobIntervals
  }
}

/** In-memory span recorder plus a `SparkListener` that attributes
  * jobs, stages, tasks, shuffle, spill, GC and CPU to the span that
  * was active on the submitting thread. The active span travels as a
  * Spark local property, which Spark copies into every job's
  * properties (including jobs submitted from its broadcast and
  * adaptive-execution threads).
  */
final class Tracer(sc: SparkContext) {
  import Tracer.SpanProp

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current = 0
  private var currentTrace = 0
  private val counts = mutable.HashMap.empty[Int, SparkCounts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  @volatile private var watched = Set.empty[Int]

  private def countsOf(span: Int): SparkCounts = counts.getOrElseUpdate(span, new SparkCounts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      jobSpan(e.jobId) = (span, e.time)
      e.stageIds.foreach(s => stageSpan(s) = span)
      countsOf(span).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (span, t0) =>
        countsOf(span).jobIntervals += ((t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val c = countsOf(stageSpan.getOrElse(e.stageInfo.stageId, 0))
        c.stages += 1
        if (e.stageInfo.rddInfos.exists(r => watched.contains(r.id))) c.watchedScans += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = countsOf(stageSpan.getOrElse(e.stageId, 0))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
      }
    }
  }
  sc.addSparkListener(listener)

  /** Count completed stages that read any of these RDD ids. */
  def watch(rddIds: Set[Int]): Unit = watched = rddIds

  private val gcByTrace = mutable.HashMap.empty[Int, Long]

  /** Run `body` as a new root span with its own trace id; also records
    * the JVM's garbage-collection time during it.
    */
  def trace[A](name: String)(body: => A): A = if (!recording) body else {
    val saved = currentTrace
    currentTrace = nextId
    val gc0 = Harness.gcMillis
    try span(name)(body)
    finally {
      synchronized { gcByTrace(currentTrace) = Harness.gcMillis - gc0 }
      currentTrace = saved
    }
  }

  /** Run `body` inside a span named `name`, child of the active span. */
  def span[A](name: String)(body: => A): A = if (!recording) body else {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = current
    current = id
    sc.setLocalProperty(SpanProp, id.toString)
    val epoch = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      synchronized { spans += Span(id, name, parent, currentTrace, t0, t1, epoch) }
      current = parent
      sc.setLocalProperty(SpanProp, if (parent == 0) null else parent.toString)
    }
  }

  @volatile private var recording = true

  /** Run `body` with the tracer detached: no listener and no spans, so
    * it costs what the operation costs untraced. The untraced half of
    * the pairs `trace.overhead_ratio` compares. Detaching and
    * re-attaching drain the listener bus, so time the operation inside
    * `body`.
    */
  def untraced[A](body: => A): A = {
    drain()
    sc.removeSparkListener(listener)
    recording = false
    try body
    finally {
      recording = true
      drain()
      sc.addSparkListener(listener)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)

  def allSpans: Seq[Span] = synchronized(spans.toList.sortBy(_.id))

  def named(name: String): Seq[Span] = allSpans.filter(_.name == name)

  private def subtree(id: Int): Set[Int] = {
    val all = allSpans
    var ids = Set(id)
    var grew = true
    while (grew) {
      val next = ids ++ all.filter(s => ids.contains(s.parent)).map(_.id)
      grew = next.size > ids.size
      ids = next
    }
    ids
  }

  /** Spark work of the span and all its descendants. */
  def sparkOf(span: Span): SparkCounts = synchronized {
    val out = new SparkCounts
    subtree(span.id).foreach(i => counts.get(i).foreach(out += _))
    out
  }

  /** Spark work of several spans and their descendants. */
  def sparkOf(spans: Seq[Span]): SparkCounts = {
    val out = new SparkCounts
    spans.foreach(s => out += sparkOf(s))
    out
  }

  /** Spark work of every span, plus work submitted outside any span. */
  def sparkTotal: SparkCounts = synchronized {
    val out = new SparkCounts
    counts.values.foreach(out += _)
    out
  }

  /** Span duration minus the part of it its child spans cover (ms). */
  def selfMs(span: Span): Double = {
    val kids = allSpans.filter(_.parent == span.id).map(s => (s.startNs, s.endNs))
    (span.endNs - span.startNs - Tracer.covered(kids, span.startNs, span.endNs)) / 1e6
  }

  /** Span wall time during which none of its subtree's jobs ran (ms). */
  def driverGapMs(span: Span): Double = {
    val endMs = span.epochMs + math.round(span.ms)
    math.max(0.0, span.ms - Tracer.covered(sparkOf(span).jobIntervals.toSeq, span.epochMs, endMs))
  }

  /** The engine-wide (`spark.*`) metrics of a set of traced root
    * operations: Spark work `c` done during them, their wall time, the
    * part of it with no job running, and the tracing overhead — the
    * median traced operation against the median untraced run of the
    * same operation on the same state (`untraced`).
    */
  def sparkLayer(c: SparkCounts, roots: Seq[Span], traced: Seq[Double],
      untraced: Seq[Double]): Seq[(String, Double)] = {
    val wallMs = roots.map(_.ms).sum
    val gapMs = roots.map { r =>
      math.max(0.0, r.ms - Tracer.covered(c.jobIntervals.toSeq, r.epochMs, r.epochMs + math.round(r.ms)))
    }.sum
    Seq(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
      "spark.spill_bytes" -> c.spillBytes.toDouble,
      "spark.gc_ms" -> synchronized(roots.map(r => gcByTrace.getOrElse(r.trace, 0L)).sum).toDouble,
      "spark.executor_run_ms" -> c.runMs.toDouble,
      "spark.executor_cpu_ms" -> c.cpuNs / 1e6,
      "spark.driver_gap_ms" -> gapMs,
      "spark.core_utilization" -> c.runMs / (wallMs * Harness.Cores),
      "trace.overhead_ratio" -> Harness.median(traced) / Harness.median(untraced))
  }

  def dumpJson: String = allSpans.map { s =>
    val c = counts.getOrElse(s.id, new SparkCounts)
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"trace":${s.trace},""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${selfMs(s)}%.3f,""" +
      f""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
      f""""shuffle_write_bytes":${c.shuffleWriteBytes},"shuffle_read_bytes":${c.shuffleReadBytes}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Length of the union of `intervals`, clipped to [from, to) (any
    * one time unit).
    */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
