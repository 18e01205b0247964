package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  // width 4 whatever SPARK_GRAFT_CPUS says: the suite's plans and job
  // counts are pinned at this width
  lazy val session: SparkSession = Sessions.local(4,
    "spark.app.name" -> "graft-test",
    // per-task cached-block write statuses feed BlockPressureSpec's
    // rddWrites channel (same conf the bench harness runs under)
    "spark.taskMetrics.trackUpdatedBlockStatuses" -> "true")
}
