package graft

import org.apache.spark.sql.DataFrame

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
    * Neither variant builds a columnar cache: both store rows, so the
    * session's columnar-cache settings (compression among them) do not
    * apply, and no conf is written around them. Unlike a built cache,
    * the result keeps its plan's size ESTIMATE, not its data's size: over
    * an input whose estimate is far too small (`Synth.pages`, ~8 B/row)
    * a join may broadcast a checkpoint of corpus size.
    *
    * The reliable path checkpoints a local checkpoint of the frame:
    * Spark's eager checkpoint runs TWO jobs over the RDD — the
    * materializing count, then ReliableRDDCheckpointData's separate
    * write job — so an unmaterialized frame is computed twice on exactly
    * the cluster deployments this helper targets. Both jobs read the
    * local blocks instead, which are released before returning.
    */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val local = df.localCheckpoint()
      try local.checkpoint()
      finally release(local)
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
