package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cross-cutting Spark helpers. */
object SparkUtil {

  /** Eagerly materialize an intermediate frame, truncating its lineage.
    *
    * Picks the strongest checkpoint available: a RELIABLE checkpoint
    * (recomputable-free AND executor-loss-safe — blocks live on shared
    * storage) when the session has a checkpoint dir configured — the
    * normal state on a real cluster (`sc.setCheckpointDir("hdfs://…")`)
    * — falling back to `localCheckpoint` otherwise (blocks live only on
    * the computing executors; fine for local[/test] runs, NOT safe
    * against executor loss). Both variants are ContextCleaner-managed,
    * so dropping the returned frame releases the blocks — unlike
    * `persist`, which leaks a CacheManager entry per call in a
    * long-lived session unless the caller remembers to unpersist.
    *
    * The reliable path persists the frame around `checkpoint()`:
    * Spark's eager checkpoint runs TWO jobs over the RDD — the
    * materializing count, then ReliableRDDCheckpointData's separate
    * write job — so an unpersisted frame is computed twice on exactly
    * the cluster deployments this helper targets (the CC loop calls
    * this 3× per round). The scoped persist makes the write job a
    * cache read; it is released before returning, so no CacheManager
    * entry outlives the call.
    */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      try df.checkpoint()
      finally df.unpersist(blocking = false)
    } else df.localCheckpoint()

  /** Explicitly drop a [[materialize]]d frame's stored blocks NOW instead
    * of waiting for the ContextCleaner's weak-reference GC. Matters for
    * corpus-sized intermediates that are finished mid-pipeline: their
    * blocks otherwise occupy unified storage memory through the
    * remaining phases until a driver GC happens to run (measured on the
    * 10M capstone as multi-GB retained signature blocks). Callers must
    * only release frames whose data no other live frame's plan still
    * reads. No-op for plans that are not local checkpoints.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.unpersist(blocking = false); ()
    case _ => ()
  }

  /** Run `action` and return (its result, records read from sources
    * during it) via task `inputMetrics`, drained the way Run's
    * `--task-metrics` summary is ([[TaskMetricsListener.settle]]). The
    * listener is scoped: registered before, removed after — callers must
    * not run concurrent jobs on the session during measurement. Shared by
    * the `Probe e2e skipindex` target and the pruning/resume specs.
    */
  def measureRecordsRead[T](spark: org.apache.spark.sql.SparkSession)
                           (action: => T): (T, Long) = {
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = action
      listener.settle()
      (r, listener.totals.input_records)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
