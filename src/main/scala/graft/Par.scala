package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.SparkSession

/** Driver-side fan-out for independent per-table Spark actions (one
  * write, count or load per table). A sequential loop leaves the cluster
  * idle while the driver plans and commits each job in turn; running the
  * actions side by side overlaps that fixed cost. The job count and
  * every job's output are the same as in the loop.
  *
  * Each call owns its pool: `min(tasks.size, defaultParallelism)` threads,
  * started by the calling thread so they inherit its active
  * `SparkSession` and its Spark local properties (job group, description,
  * scheduler pool) — unlike a shared executor whose threads carry the
  * properties of whichever thread happened to spawn them. A task may set
  * its own job description; the change dies with its thread.
  *
  * Failure: once a task throws, no further task starts, the ones in
  * flight finish, and the first error is rethrown to the caller. */
object Par {

  /** `f` over `tasks`, concurrently; results in task order. */
  def each[A, B](tasks: Seq[A])(f: A => B): Seq[B] = {
    val width = math.min(tasks.size,
      SparkSession.active.sparkContext.defaultParallelism)
    val results = new Array[Any](tasks.size)
    val next = new AtomicInteger(0)
    val firstError = new AtomicReference[Throwable](null)
    val workers = Seq.fill(width)(new Thread(() => {
      var i = next.getAndIncrement()
      while (i < tasks.size && firstError.get() == null) {
        try results(i) = f(tasks(i))
        catch { case e: Throwable => firstError.compareAndSet(null, e); () }
        i = next.getAndIncrement()
      }
    }, "graft-par"))
    workers.foreach { w => w.setDaemon(true); w.start() }
    workers.foreach(_.join())
    Option(firstError.get()).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[B]]
  }
}
