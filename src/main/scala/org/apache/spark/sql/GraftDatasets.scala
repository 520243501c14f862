package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A frame over a given logical plan: the classic factory is package-private. */
object GraftDatasets {
  def ofRows(s: classic.SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s, plan)
}
