package graft.tools

import graft.SparkEntry

/** Times one query twice (cold = plan+codegen+run, warm = run) to
  * separate fixed overhead from data work. Usage: TimeQuery <sfDir> <name> */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args.take(2)
    graft.Sessions.run() { spark =>
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        println(f"[timequery] run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    }
  }
}
