package perfbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark's thread-local job properties (SparkContext's own constants are
  * package-private). */
private[perfbench] object Props {
  val JobGroup = "spark.jobGroup.id"
  val JobDescription = "spark.job.description"
}

/** Task counters of one span name, summed over all of its instances. */
final class Counters {
  var jobs, tasks, failedTasks = 0L
  var busyMs, schedWaitMs, shuffleBytes, spillBytes = 0L
  var inputBytes, inputRecords, outputBytes, outputRecords = 0L
  var lastJobEndMs = 0L
}

/** Attributes Spark work to spans: every span runs its calls under a job
  * group named after the span, and this listener sums the task metrics of
  * each group's jobs. Scheduling wait is task launch minus stage
  * submission. Events arrive on the listener-bus thread; [[snapshot]] may
  * be read from any thread meanwhile, hence the lock. */
final class LayerListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Counters]

  def snapshot: Map[String, Counters] = synchronized(byGroup.toMap)

  private def c(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Props.JobGroup))).foreach { g =>
      c(g).jobs += 1
      jobGroup(e.jobId) = g
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach(g => c(g).lastJobEndMs = math.max(c(g).lastJobEndMs, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val k = c(g)
      k.tasks += 1
      if (e.reason != Success) k.failedTasks += 1
      stageSubmitted.get(e.stageId).foreach(s => k.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        k.busyMs += m.executorRunTime
        k.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        k.inputBytes += m.inputMetrics.bytesRead
        k.inputRecords += m.inputMetrics.recordsRead
        k.outputBytes += m.outputMetrics.bytesWritten
        k.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }
}

/** Sums, per op tag (the [[Ctx.OpKind]] local property of the submitting
  * thread, `kind#id`), the executor CPU of its tasks; the calling thread's
  * own CPU is added through [[addCaller]]. */
final class CpuListener extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val ns = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Ctx.OpKind)))
      .foreach(t => e.stageIds.foreach(stageTag(_) = t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (t <- stageTag.get(e.stageId); m <- Option(e.taskMetrics))
      ns.synchronized { ns(t) += m.executorCpuTime + m.executorDeserializeCpuTime }

  def addCaller(tag: String, callerNs: Long): Unit = ns.synchronized { ns(tag) += callerNs }

  /** CPU nanoseconds per op tag. */
  def perOpNs: Map[String, Long] = ns.synchronized(ns.toMap)
}

/** One recorded span: `layer.name`, wall interval, causing span, and the
  * operation it belongs to. */
final case class Span(id: Long, name: String, parent: Long, op: Long, thread: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, [[span]] just runs its body, so the
  * untraced run pays nothing. Enabled, each span sets the thread's Spark
  * job group to its own name for the body's duration (restoring the
  * enclosing span's group after), so [[LayerListener]] charges the body's
  * jobs to it. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val listener: Option[LayerListener] =
    if (enabled) { val l = new LayerListener; sc.addSparkListener(l); Some(l) } else None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val currentOp = new ThreadLocal[Long] { override def initialValue(): Long = -1L }

  def op[T](id: Long)(body: => T): T = {
    currentOp.set(id)
    try body finally currentOp.set(-1L)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      val prevGroup = sc.getLocalProperty(Props.JobGroup)
      val prevDesc = sc.getLocalProperty(Props.JobDescription)
      stack.set(id :: stack.get())
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
        spans.synchronized {
          spans += Span(id, name, parent, currentOp.get(), Thread.currentThread().getName, t0, t1)
        }
        ()
      }
    }

  def all: Vector[Span] = spans.synchronized(spans.toVector)

  /** Completes the listener's view of every job submitted so far. */
  def counters: Map[String, Counters] = listener match {
    case Some(l) => org.apache.spark.PerfbenchBus.drain(sc); l.snapshot
    case None => Map.empty
  }

  /** Self time per layer, in seconds: each span's duration minus the time
    * its child spans cover (children of one span run sequentially on its
    * thread). */
  def selfSecondsByLayer: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    ss.groupBy(_.layer).view.mapValues(g =>
      g.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum / 1e9).toMap
  }
}
