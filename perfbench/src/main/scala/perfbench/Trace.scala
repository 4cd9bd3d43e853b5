package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Times are nanoseconds on the benchmark's clock
  * (`Clock.now`); `parent` is 0 for an op's root span.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** Wall-clock nanoseconds, so spans line up with the millisecond event
  * times Spark's listener bus reports.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def fromMs(ms: Long): Long = ms * 1000000L
}

/** Spans kept in memory. Every op runs under `op`, which also tags the
  * Spark jobs it starts (a local property, inherited by threads the op
  * creates). With `enabled = false`, `span` is a plain call, so the
  * untraced run pays nothing but the op tag.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private val current = new ThreadLocal[(Long, Long)] // (op, span)

  def op[T](sc: SparkContext, opId: Long, name: String)(f: => T): (T, Long, Long) = {
    sc.setLocalProperty(Tracer.OpProperty, opId.toString)
    val id = ids.incrementAndGet()
    current.set((opId, id))
    val t0 = Clock.now
    try {
      val r = f
      val t1 = Clock.now
      if (enabled) spans.add(Span(id, 0, opId, name, t0, t1))
      (r, t0, t1)
    } finally {
      current.remove()
      sc.setLocalProperty(Tracer.OpProperty, null)
    }
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled || current.get == null) f
    else {
      val (opId, parent) = current.get
      val id = ids.incrementAndGet()
      current.set((opId, id))
      val t0 = Clock.now
      try f
      finally {
        spans.add(Span(id, parent, opId, name, t0, Clock.now))
        current.set((opId, parent))
      }
    }

  /** Adds to a named counter (only when tracing). */
  def count(name: String, n: Double): Unit =
    if (enabled) counters.merge(name, n, (a, b) => a + b)

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def counter(name: String): Double =
    Option(counters.get(name)).map(_.doubleValue).getOrElse(0.0)
}

object Tracer {
  val OpProperty = "perfbench.op"
}

/** A Spark job as the listener saw it, with its task totals. */
final class JobRec(val id: Int, val opTag: Option[Long], val start: Long) {
  @volatile var end: Long = -1
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var taskBusyMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** Listener that records every job with its op tag and charges stage and
  * task metrics to the job that submitted the stage.
  */
final class JobLedger extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
      .map(_.toLong)
    val j = new JobRec(e.jobId, tag, Clock.fromMs(e.time))
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Clock.fromMs(e.time))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmit(si.stageId) = si.submissionTime.getOrElse(System.currentTimeMillis())
    stageJob.get(si.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      stageSubmit.get(e.stageId).foreach(s =>
        j.schedDelayMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        j.taskBusyMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot: Seq[JobRec] = synchronized(jobs.values.toSeq)

  /** Runs one tagged job and waits until the listener has seen its end:
    * the bus delivers events in order, so every earlier event is in too.
    */
  def drain(sc: SparkContext): Unit = {
    sc.setLocalProperty(Tracer.OpProperty, JobLedger.Sentinel.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.OpProperty, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    def seen = synchronized(jobs.values.exists(j =>
      j.opTag.contains(JobLedger.Sentinel) && j.end >= 0))
    while (!seen && System.nanoTime() < deadline) Thread.sleep(5)
    require(seen, "listener bus did not drain within 60 s")
    synchronized {
      jobs.filterInPlace((_, j) => !j.opTag.contains(JobLedger.Sentinel))
    }
  }
}

object JobLedger {
  val Sentinel: Long = -7L
}

/** An op's interval, as the runner timed it. */
final case class OpWindow(id: Long, start: Long, end: Long)

object Attribution {
  /** Charges each job to an op. A job carrying the tag of an op that was
    * running when it started belongs to that op. A job with no tag, or a
    * stale one (a pooled helper thread keeps the tag of the op that
    * created it, and that op has ended), belongs to the op running at its
    * start, when exactly one was. Anything else stays unattributed.
    */
  def charge(jobs: Seq[JobRec], ops: Seq[OpWindow]): Map[Int, Option[Long]] = {
    val byId = ops.map(o => o.id -> o).toMap
    def running(o: OpWindow, t: Long) = t >= o.start - Slack && t <= o.end
    jobs.map { j =>
      j.id -> j.opTag.flatMap(byId.get).filter(running(_, j.start)).map(_.id).orElse {
        ops.filter(running(_, j.start)) match {
          case Seq(only) => Some(only.id)
          case _         => None
        }
      }
    }.toMap
  }

  /** Listener start times are whole milliseconds, truncated, and the
    * benchmark clock's millisecond base is truncated too: a job can read
    * up to 2 ms earlier than it started, never later.
    */
  val Slack: Long = 2000000L
}

object SelfTime {
  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
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

  /** Self time per layer for one op: each span's duration minus the part
    * its children cover, summed by layer. Jobs are leaf children of the
    * deepest span running at their start, under the layer `spark`. The
    * root span's self time is reported under `uncovered`: op wall time
    * that no layer span or job covers.
    */
  def ofOp(spans: Seq[Span], jobs: Seq[(Long, Long)]): Map[String, Long] = {
    val root = spans.find(_.parent == 0).getOrElse(
      throw new IllegalArgumentException("op has no root span"))
    def deepestAt(t: Long): Span = {
      val depth = mutable.HashMap.empty[Long, Int]
      def d(s: Span): Int = depth.getOrElseUpdate(s.id,
        if (s.parent == 0) 0 else spans.find(_.id == s.parent).map(d).getOrElse(0) + 1)
      spans.filter(s => s.start <= t && t <= s.end).maxByOption(d).getOrElse(root)
    }
    val jobParent = jobs.map { case (a, b) => (deepestAt(a).id, (a, b)) }
    val out = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    spans.foreach { s =>
      val kids = spans.filter(_.parent == s.id).map(c => (c.start, c.end)) ++
        jobParent.collect { case (p, iv) if p == s.id => iv }
      val self = s.dur - covered(kids, s.start, s.end)
      out(if (s.id == root.id) "uncovered" else s.layer) += self
    }
    out("spark") += covered(jobs, root.start, root.end)
    out.toMap
  }
}
