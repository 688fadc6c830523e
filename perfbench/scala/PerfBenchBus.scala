package org.apache.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec,
  ShuffleQueryStageExec}

/** Spark internals the trace reads from inside Spark's package (the listener
  * bus is package-private). */
object PerfBenchBus {

  /** Waits until the listener bus has delivered every posted event, so the
    * trace reads complete counts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes per shuffle partition, as the map side wrote them (before AQE
    * coalesces partitions into reduce tasks), of every exchange `df`'s
    * adaptive plan has run. */
  def exchangeBytes(df: DataFrame): Seq[Array[Long]] = {
    // query stages are leaves; their plans are not children
    def stages(p: SparkPlan): Seq[ShuffleQueryStageExec] = p match {
      case s: ShuffleQueryStageExec => s +: stages(s.plan)
      case q: QueryStageExec => stages(q.plan)
      case a: AdaptiveSparkPlanExec => stages(a.executedPlan)
      case other => other.children.flatMap(stages)
    }
    stages(df.queryExecution.executedPlan).flatMap(_.mapStats).map(_.bytesByPartitionId)
  }
}
