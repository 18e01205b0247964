package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** What a body cost the cluster: Spark jobs started, summed executor
  * CPU time, and RDD cache-block writes (see
  * [[ListenerBridge.rddBlockWrites]]; counted only under
  * `spark.taskMetrics.trackUpdatedBlockStatuses`). Together they split
  * a slow wall-clock reading: jobs and cpu flat means the body waited
  * (scheduling, contention), cpu up means it did more work, writes up
  * at flat jobs means block-store churn (eviction and recompute). */
object JobMeter {
  final case class Reading(jobs: Long, cpuSec: Double, rddWrites: Long)

  /** Run `body` and read what it cost on `sc`. Listener events arrive
    * asynchronously, so the bus is drained before the meter attaches
    * (an earlier body's last task ends are not counted) and again
    * before it detaches (this body's are). Jobs that other threads run
    * meanwhile count too. */
  def measure[T](sc: SparkContext)(body: => T): (T, Reading) = {
    val jobs, cpuNs, writes = new AtomicLong
    val meter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach { m =>
          cpuNs.addAndGet(m.executorCpuTime)
          writes.addAndGet(ListenerBridge.rddBlockWrites(m))
        }
    }
    ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(meter)
    try {
      val v = body
      ListenerBridge.waitUntilEmpty(sc)
      (v, Reading(jobs.get(), cpuNs.get() / 1e9, writes.get()))
    } finally sc.removeSparkListener(meter)
  }
}
