package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession.
  *
  * Every CLI main runs its body through [[run]], so every tool gets the
  * same local profile whichever way it is launched: `local[cpus]`,
  * shuffle width `cpus`, UTC, parquet nanosecond timestamps as longs,
  * no UI, log level WARN.
  *
  * A session that already exists — the thread's active session, else
  * the JVM's default one — is returned UNTOUCHED. `Builder.getOrCreate`
  * writes its runtime conf onto a running session, so a tool invoked
  * inside a test, a notebook or another job would otherwise re-widen
  * and re-zone its caller's session for everything that runs after it.
  */
object Sessions {
  /** Local width: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
      sys.error(s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    case None => Runtime.getRuntime.availableProcessors
  }

  private def existing: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  /** The active or default session if one exists, untouched; otherwise
    * a new one with the local profile at width `cpus` plus `conf`. */
  def local(cpus: Int, conf: (String, String)*): SparkSession =
    synchronized {
      existing.getOrElse {
        val s = SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .config("spark.ui.enabled", "false")
          .config(conf.toMap)
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }
    }

  /** Run `body` on [[local]]`(cpus)`, and stop the session afterwards —
    * also when `body` throws — only if this call built it. */
  def run[T](body: SparkSession => T): T = {
    val (spark, built) = synchronized {
      val before = existing
      (local(cpus), before.isEmpty)
    }
    try body(spark)
    finally if (built) spark.stop()
  }
}
