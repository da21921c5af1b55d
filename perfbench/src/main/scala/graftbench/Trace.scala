package graftbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval, in epoch nanoseconds. Client spans wrap a call into
  * one layer's public function; `spark` job and stage spans come from the
  * listener and are parented to the client span that submitted the job.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Task totals of one Spark job, summed from its tasks' metrics. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRecords = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Records spans for the traced run. Spans stay in memory and are written
  * out when the run ends. With `enabled = false` (the untraced run that
  * measures end-to-end metrics) `span` only evaluates its body and no
  * listener is registered.
  *
  * The client runs on one thread. The id of the innermost open client span
  * rides on the thread's Spark local properties, so every job the call
  * submits carries its parent in `SparkListenerJobStart.properties`.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer._

  private val nextId = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private val epochOffset =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now: Long = System.nanoTime() + epochOffset

  // listener state (listener-bus thread; read by `finish` after the bus drains)
  private val jobSpan = mutable.Map.empty[Int, (Int, Int, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val totals = mutable.Map.empty[Int, TaskTotals]

  private def add(s: Span): Unit = spans.synchronized { spans += s; () }

  /** Spans are recorded only while the measured phase runs. */
  @volatile var recording = false

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled || !recording) body
    else {
      val id = nextId.incrementAndGet()
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = now
      try body
      finally {
        val t1 = now
        open = open.tail
        sc.setLocalProperty(SpanProperty, open.headOption.map(_.toString).orNull)
        add(Span(id, parent, layer, name, t0, t1))
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProperty))).map(_.toInt).getOrElse(0)
      val id = nextId.incrementAndGet()
      jobSpan(e.jobId) = (id, parent, e.time * 1000000L)
      e.stageIds.foreach(stageJob(_) = id)
      totals(id) = new TaskTotals
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
        add(Span(id, parent, "spark", s"job ${e.jobId}", start,
          math.max(start, e.time * 1000000L)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      for {
        job <- stageJob.get(info.stageId)
        start <- info.submissionTime
        end <- info.completionTime
      } add(Span(nextId.incrementAndGet(), job, "spark",
        s"stage ${info.stageId}", start * 1000000L, end * 1000000L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for {
        job <- stageJob.get(e.stageId)
        t <- totals.get(job)
        m <- Option(e.taskMetrics)
      } {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Delivers every queued listener event, then returns all spans. */
  def finish(): (Seq[Span], Map[Int, TaskTotals]) = {
    if (enabled) {
      org.apache.spark.BusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (spans.synchronized(spans.toList), synchronized(totals.toMap))
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each layer, summed over the operations (client spans):
    * every instant of an operation goes to the layer of the deepest span
    * open at that instant, so a span's children's time is not its own and
    * concurrent spans of one layer (a job's stages) count once.
    */
  def layerSelfTimes(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def below(s: Span, depth: Int): Seq[(Span, Int)] =
      (s, depth) +: children.getOrElse(s.id, Nil).flatMap(below(_, depth + 1))
    spans.filter(_.layer == "client").foreach { op =>
      val open = below(op, 0)
      val cuts = open.flatMap(o => Seq(o._1.start, o._1.end))
        .filter(t => t >= op.start && t <= op.end).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) =>
          val deepest = open.filter(o => o._1.start <= a && o._1.end >= b).maxBy(_._2)
          acc(deepest._1.layer) += b - a
        case _ =>
      }
    }
    acc.toMap
  }

  /** Spans as JSON lines, for the trace file. */
  def toJsonLines(spans: Seq[Span]): Iterator[String] =
    spans.sortBy(_.start).iterator.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
}
