package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{Success, TaskKilled}
import org.apache.spark.scheduler._

/** One timed call of traced lap `lap`: its name, the span that made it,
  * and start/end in nanoseconds since the run began.
  */
final case class Span(lap: Int, name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task totals of one span. */
final class SpanStats {
  val jobs, tasks, failedTasks, cpuNs, runMs, gcMs, maxRunMs = new AtomicLong
  val shuffleBytes, spillBytes, inputBytes, outputBytes = new AtomicLong
}

/** Adds Spark job and task counts to spans. The benchmark names the span
  * of each call it makes in the [[Recorder.Key]] local property; Spark
  * copies local properties to every thread the call starts, so jobs run
  * by the engine's own helper threads land in the same span.
  */
final class Recorder extends SparkListener {
  private val spans = new ConcurrentHashMap[String, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val started = new AtomicLong
  private val ended = new AtomicLong

  def stats(span: String): SpanStats = spans.computeIfAbsent(span, _ => new SpanStats)
  def all: Map[String, SpanStats] = spans.asScala.toMap
  def reset(): Unit = spans.clear()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty(Recorder.Key)).orNull
    if (span != null) {
      stats(span).jobs.incrementAndGet()
      e.stageIds.foreach(stageSpan.put(_, span))
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = { started.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    ended.incrementAndGet()
    val span = stageSpan.get(e.stageId)
    if (span == null) return
    val s = stats(span)
    s.tasks.incrementAndGet()
    e.reason match {
      case Success | _: TaskKilled => // AQE cancels stages it no longer needs
      case _ => s.failedTasks.incrementAndGet()
    }
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs.addAndGet(m.executorCpuTime)
      s.runMs.addAndGet(m.executorRunTime)
      s.gcMs.addAndGet(m.jvmGCTime)
      s.maxRunMs.accumulateAndGet(m.executorRunTime, math.max)
      s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      s.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
    ()
  }

  /** Waits until every started task's end event has been delivered: the
    * listener bus is asynchronous.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var stableSince = System.nanoTime()
    var last = -1L
    while (System.nanoTime() < deadline &&
      (ended.get() != started.get() || System.nanoTime() - stableSince < 50L * 1000 * 1000)) {
      val e = ended.get()
      if (e != last) { last = e; stableSince = System.nanoTime() }
      Thread.sleep(5)
    }
  }
}

object Recorder {
  val Key = "perfbench.span"
}

/** Heap in use right after each garbage collection, from the JVM's GC
  * notifications, so a peak is never a point sample of live-plus-garbage.
  */
final class GcPeak extends NotificationListener {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** (GC start in ms of JVM uptime, heap bytes in use after it). */
  private val events = new ConcurrentLinkedQueue[(Long, Long)]()

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
      events.add((info.getGcInfo.getStartTime, used))
    }

  /** The largest post-GC heap of collections that started inside one of
    * `windows` (uptime ms); 0 when none did.
    */
  def peakBytes(windows: Seq[(Long, Long)]): Long =
    events.asScala.collect {
      case (t, used) if windows.exists { case (a, b) => t >= a && t <= b } => used
    }.foldLeft(0L)(math.max)

  def count(windows: Seq[(Long, Long)]): Int =
    events.asScala.count { case (t, _) => windows.exists { case (a, b) => t >= a && t <= b } }
}
