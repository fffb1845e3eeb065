package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One timed interval. Times are epoch nanoseconds, so spans taken with
  * `System.nanoTime` and Spark listener events (epoch milliseconds) share
  * one axis. `op` is the id of the outermost span of the operation. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spans around every call the benchmark makes into a layer of the
  * program. Disabled, [[span]] runs its body and records nothing, so the
  * untraced runs pay no tracing cost.
  *
  * An enabled span also sets the Spark local property [[SpanKey]] on the
  * calling thread for the duration of the call: every job that call
  * submits carries the span's id, which attributes in-process jobs to
  * spans exactly. Jobs submitted from threads the benchmark does not own
  * (the HTTP server's) carry no id and are attributed by time overlap. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  import Tracer._
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  // (span id, op id) of the spans open on this thread, innermost first
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val outer = open.get
      val id = ids.getAndIncrement()
      val (parent, op) = outer.headOption.getOrElse((0L, id))
      open.set((id, op) :: outer)
      val prop = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, parent, op, layer, name, t0 + offset, t1 + offset))
        sc.setLocalProperty(SpanKey, prop)
        open.set(outer)
      }
    }

  def recorded: Vector[Span] = spans.asScala.toVector
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** epoch ns − nanoTime, fixed once per process */
  val offset: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowEpochNs: Long = System.nanoTime() + offset
}

/** Per-stage task totals from the listener. */
final class StageAgg(val stageId: Int) {
  var jobId: Int = -1
  var start: Long = 0L
  var end: Long = 0L
  var tasks: Long = 0L
  var runMs: Long = 0L
  var schedMs: Long = 0L
  var shuffleWrite: Long = 0L
  var shuffleRead: Long = 0L
  var spill: Long = 0L
  var inputBytes: Long = 0L
  var inputRecords: Long = 0L
  var outputBytes: Long = 0L
}

final case class JobRec(id: Int, span: Long, start: Long, end: Long,
    stages: Seq[StageAgg]) {
  def sum(f: StageAgg => Long): Long = stages.map(f).sum
}

/** The benchmark's own listener: job, stage and task figures, kept in
  * memory until the measured phase ends. */
final class BenchListener extends SparkListener {
  private case class JobStart(span: Long, start: Long, stageIds: Seq[Int])
  private val starts = new ConcurrentHashMap[Int, JobStart]()
  private val ends = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  private def stage(id: Int): StageAgg =
    stages.computeIfAbsent(id, i => new StageAgg(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .flatMap(_.toLongOption).getOrElse(0L)
    starts.put(e.jobId, JobStart(span, e.time * 1000000L, e.stageIds))
    e.stageIds.foreach { s =>
      val a = stage(s)
      a.synchronized { if (a.jobId < 0) a.jobId = e.jobId }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    ends.put(e.jobId, e.time * 1000000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val a = stage(i.stageId)
    a.synchronized {
      a.start = i.submissionTime.getOrElse(0L) * 1000000L
      a.end = i.completionTime.getOrElse(0L) * 1000000L
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val a = stage(e.stageId)
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        // the Spark UI's definition of scheduler delay
        a.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Finished jobs that started at or after `fromNs`, with their stages. */
  def jobs(fromNs: Long): Vector[JobRec] = {
    val byJob = stages.values.asScala.groupBy(_.jobId)
    starts.asScala.toVector.flatMap { case (id, s) =>
      Option(ends.get(id)).filter(_ => s.start >= fromNs).map { end =>
        JobRec(id, s.span, s.start, end.longValue,
          byJob.getOrElse(id, Nil).toVector.sortBy(_.stageId))
      }
    }.sortBy(_.start)
  }
}

/** JVM figures from the platform MX beans: collector time and peak heap. */
object JvmStats {
  import java.lang.management.{ManagementFactory, MemoryType}
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** JVM start, epoch ms: set-up time counts from here. */
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/** Interval arithmetic for self time and overlap attribution. */
object Intervals {
  /** Total length of the union of `xs`, each clipped to [lo, hi). */
  def covered(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  def overlap(a0: Long, a1: Long, b0: Long, b1: Long): Long =
    math.max(0L, math.min(a1, b1) - math.max(a0, b0))
}
