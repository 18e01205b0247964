package graft.tools

import graft.SparkEntry

/** Prints the formatted physical plan of selected queries — the
  * pushdown/broadcast/codegen audit loop. Usage:
  *   PlanAudit <sfDir> [query ...]   (default: a representative set)
  *   PlanAudit <sfDir> ALL           (every registered query, sorted)
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1 && args(1) == "ALL")
      SparkEntry.queries.keys.toSeq.sorted
    else if (args.length > 1) args.drop(1).toSeq
      else Seq("q_filter_pushdown", "q1_agg", "q3_join", "q5_join", "q_topk")
    graft.Sessions.run() { spark =>
      // GRAFT_PLANS_WITH_BUILDS=1 (round 15): since the family memos
      // eagerly localCheckpoint, a consumer plan reads LogicalRDD leaves
      // and the build subtrees live in CacheBook's recorded build plans —
      // append the build plans of every memo the query touched so the
      // captured file carries the full structural evidence (the
      // PlanShapeSpec planWithBuilds discipline, in the audit tool).
      val withBuilds = sys.env.get("GRAFT_PLANS_WITH_BUILDS").contains("1")
      names.foreach { n =>
        println(s"\n========== $n ==========")
        if (withBuilds) {
          val (df, touched) = graft.CacheBook.traced {
            SparkEntry.queries(n)(spark, sfDir)
          }
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          touched.foreach { case (sc, nm) =>
            println(s"---------- build plan: $sc/$nm ----------")
            println(graft.CacheBook.buildPlan(spark, sc, nm))
          }
        } else
          println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
    }
  }
}
