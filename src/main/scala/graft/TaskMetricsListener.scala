package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Extraction, JObject}
import org.json4s.jackson.JsonMethods

/** Task accounting for `Run --task-metrics` and the `Probe` sampler: one
  * listener aggregating every task's shuffle/spill/GC/CPU totals into
  * O(#phases) driver state — did anything spill, how much shuffled, which
  * phase owned the pathological task. Callers bracket each phase with
  * [[TaskMetricsListener.inPhase]]; jobs record their group's stage ids at
  * `onJobStart`, and task totals aggregate run-wide and per group. Reads
  * happen on the caller thread, hence `synchronized`.
  */
private[graft] final class TaskMetricsListener extends SparkListener {
  import TaskMetricsListener._

  private final class Agg {
    var tasks, failed, inputRecords = 0L
    var inputBytes, shuffleRead, shuffleWrite, memSpill, diskSpill = 0L
    var cpuNs, runMs, gcMs, maxTaskMs, peakExecMem = 0L
    def add(t: SparkListenerTaskEnd): Unit = {
      tasks += 1
      if (!t.taskInfo.successful) failed += 1
      val m = t.taskMetrics
      if (m != null) {
        inputRecords += m.inputMetrics.recordsRead
        inputBytes += m.inputMetrics.bytesRead
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        maxTaskMs = math.max(maxTaskMs, m.executorRunTime)
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }
    def totals: Totals = Totals(tasks, failed, inputRecords, mb(inputBytes),
      mb(shuffleRead), mb(shuffleWrite), mb(memSpill), mb(diskSpill),
      sec(cpuNs / 1000000), sec(runMs), sec(gcMs), sec(maxTaskMs),
      mb(peakExecMem))
  }
  private val total = new Agg
  private val byPhase = scala.collection.mutable.LinkedHashMap.empty[String, Agg]
  private val stagePhase = scala.collection.mutable.HashMap.empty[Int, String]
  // the slowest tasks' stage and CPU/GC/spill/peak memory tell a
  // straggler stalled on memory pressure from a skewed one
  private val topTasks = scala.collection.mutable.ArrayBuffer.empty[TopTask]
  private val TopN = 5

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val g = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("other")
    j.stageIds.foreach(sid => stagePhase(sid) = g)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    total.add(t)
    val phase = stagePhase.getOrElse(t.stageId, "other")
    byPhase.getOrElseUpdate(phase, new Agg).add(t)
    val m = t.taskMetrics
    if (m != null && (topTasks.size < TopN ||
        sec(m.executorRunTime) > topTasks.last.sec)) {
      topTasks += TopTask(t.stageId, phase, sec(m.executorRunTime),
        sec(m.executorCpuTime / 1000000), sec(m.jvmGCTime),
        mb(m.memoryBytesSpilled), mb(m.diskBytesSpilled),
        mb(m.peakExecutionMemory), m.inputMetrics.recordsRead,
        mb(m.shuffleReadMetrics.totalBytesRead),
        mb(m.shuffleWriteMetrics.bytesWritten))
      val sorted = topTasks.sortBy(-_.sec).take(TopN)
      topTasks.clear(); topTasks ++= sorted
    }
  }

  def totals: Totals = synchronized(total.totals)
  def top: Seq[TopTask] = synchronized(topTasks.toList)
  def phases: Seq[(String, Totals)] =
    synchronized(byPhase.map { case (g, a) => g -> a.totals }.toList)

  /** Wait for the listener bus (async; its drain API is private[spark])
    * to deliver the tail of the jobs already run: poll until the task
    * counter stops moving. Deadline-bounded, so a stalled bus degrades to
    * best-effort totals instead of spinning forever.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    var prev = -1L
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      val cur = synchronized(total.tasks)
      if (cur == prev) stable += 1 else stable = 0
      prev = cur
      if (stable < 2) Thread.sleep(50)
    }
  }

  /** `{...run-wide totals, "top_tasks": [...], "by_stage": {phase: totals}}`. */
  def json: String = {
    implicit val formats: DefaultFormats.type = DefaultFormats
    val run = Extraction.decompose(totals).asInstanceOf[JObject]
    JsonMethods.compact(JObject(run.obj ++ List(
      "top_tasks" -> Extraction.decompose(top),
      "by_stage" -> JObject(phases.map { case (g, t) =>
        g -> Extraction.decompose(t) }: _*))))
  }
}

private[graft] object TaskMetricsListener {

  /** Task totals of one phase or of the run (MB and seconds at 0.1);
    * `max_task_sec`/`peak_exec_mem_mb` are maxima, the rest sums. */
  final case class Totals(tasks: Long, failed_tasks: Long,
      input_records: Long, input_mb: Double,
      shuffle_read_mb: Double, shuffle_write_mb: Double,
      mem_spill_mb: Double, disk_spill_mb: Double, cpu_sec: Double,
      run_sec: Double, gc_sec: Double, max_task_sec: Double,
      peak_exec_mem_mb: Double)

  /** One of the run's slowest tasks: where it ran, and what it spent. */
  final case class TopTask(stage: Int, phase: String, sec: Double,
      cpu_sec: Double, gc_sec: Double, mem_spill_mb: Double,
      disk_spill_mb: Double, peak_exec_mem_mb: Double, input_records: Long,
      shuffle_read_mb: Double, shuffle_write_mb: Double)

  private def mb(b: Long): Double = math.rint(b / 1024.0 / 1024.0 * 10) / 10
  private def sec(ms: Long): Double = math.rint(ms / 100.0) / 10

  /** Bracket a phase for task attribution: every Spark job submitted from
    * this thread while `f` runs carries `name` as its job group. Lazy
    * frames escaping `f` attribute their deferred compute to the phase
    * that finally forces them — attribution follows execution.
    */
  def inPhase[T](spark: SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, s"graft:$name")
    try f finally sc.clearJobGroup()
  }
}
