package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Private-API bridge (the ColumnBridge pattern): listener-bus events
  * are delivered asynchronously, so per-query metric snapshots must
  * drain the bus before reading — otherwise a query's last task-end
  * events can be attributed to the NEXT query. */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** RDD cache-block writes recorded by a finished task — stores of
    * persisted-RDD partitions (first materialization, recompute-stores,
    * and memory→disk eviction moves all register here; plain cache
    * READS never do). `updatedBlockStatuses` is private[spark], hence
    * the bridge; populated only when
    * `spark.taskMetrics.trackUpdatedBlockStatuses` is on (the test
    * session enables it for BlockPressureSpec). A warm sample that
    * claims to read standing memos must show ~0 of these — a large
    * count at flat job counts is block-store churn (eviction +
    * recompute/re-store), measured instead of inferred. */
  def rddBlockWrites(tm: org.apache.spark.executor.TaskMetrics): Long =
    if (tm == null) 0L
    else tm.updatedBlockStatuses.count { case (id, st) =>
      id.isRDD && st.storageLevel.isValid
    }.toLong
}
