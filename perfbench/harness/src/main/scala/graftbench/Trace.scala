package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span: one benchmark operation, one call into a layer, or one Spark
  * job. `parent` is 0 for a root. Times are System.nanoTime values for
  * benchmark spans and epoch milliseconds (converted to the same clock
  * by [[Tracer]]) for jobs.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String, start: Long, end: Long, attrs: Map[String, Any]) {
  def dur: Long = end - start
}

/** Per-job Spark counters, summed over the job's tasks. */
final class JobStats(val jobId: Int, val spanId: Long, val submitMs: Long) {
  var endMs: Long = submitMs
  var stages = 0
  var tasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
}

/** Attributes Spark jobs to the benchmark span that was open when they
  * were submitted, through the `graftbench.span` local property.
  */
final class JobListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile var busyNs = 0L

  private def timed(f: => Unit): Unit = { val t0 = System.nanoTime(); f; busyNs += System.nanoTime() - t0 }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property))).map(_.toLong).getOrElse(0L)
    val js = new JobStats(e.jobId, span, e.time)
    js.stages = e.stageIds.size
    e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
    jobs.put(e.jobId, js)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { js =>
      js.synchronized {
        js.tasks += 1
        js.taskNs += m.executorRunTime * 1000000L
        js.gcMs += m.jvmGCTime
        js.inputBytes += m.inputMetrics.bytesRead
        js.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        js.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        js.outputBytes += m.outputMetrics.bytesWritten
        js.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** In-memory span recorder. Disabled, it only runs the bodies: no
  * listener is registered and nothing is kept, so untraced runs measure
  * the program alone.
  */
final class Tracer(val enabled: Boolean, val sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private var bookkeepingNs = 0L
  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None
  // epoch ms -> nanoTime offset, so job spans share the benchmark clock
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Runs `body` inside a span of `layer`/`name`; jobs it submits are
    * linked to the innermost open span.
    */
  def span[A](layer: String, name: String, attrs: Map[String, Any] = Map.empty)(body: => A): A = {
    if (!enabled) return body
    val b0 = System.nanoTime()
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    sc.setLocalProperty(Tracer.Property, id.toString)
    bookkeepingNs += System.nanoTime() - b0
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Property, stack.headOption.map(_.toString).orNull)
      spans.add(Span(id, parent, layer, name, t0, t1, attrs))
      bookkeepingNs += System.nanoTime() - t1
    }
  }

  /** Benchmark spans plus one span per Spark job, once the listener bus
    * has delivered every event.
    */
  def allSpans(): Seq[Span] = {
    listener.foreach(_ => org.apache.spark.graftbench.Bus.drain(sc))
    val bench = spans.asScala.toSeq
    val jobs = listener.toSeq.flatMap(_.jobs.values().asScala).map { j =>
      Span(1000000000L + j.jobId, j.spanId, "spark", s"job ${j.jobId}", j.submitMs * 1000000L + clockOffsetNs, j.endMs * 1000000L + clockOffsetNs,
        Map("stages" -> j.stages, "tasks" -> j.tasks, "task_s" -> j.taskNs / 1e9, "gc_s" -> j.gcMs / 1e3,
          "input_mb" -> j.inputBytes / 1e6, "records_read" -> j.recordsRead, "shuffle_mb" -> j.shuffleBytes / 1e6,
          "output_mb" -> j.outputBytes / 1e6, "spill_mb" -> j.spillBytes / 1e6))
    }
    bench ++ jobs
  }

  def jobs(): Seq[JobStats] = listener.toSeq.flatMap(_.jobs.values().asScala)

  /** Time spent in tracing code: span bookkeeping on the client thread
    * plus listener callbacks on the listener-bus thread.
    */
  def overheadNs: Long = bookkeepingNs + listener.map(_.busyNs).getOrElse(0L)
}

object Tracer {
  val Property = "graftbench.span"

  /** Length of the union of intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
