package graft.tools

/** One-off diagnostic runner: replay a named query sequence with
  * optional whole-scope releases interleaved (the r11 bench cascade),
  * reporting per-step (wall, jobs, cpuSec) — the tool behind the
  * s_hnsw_search root-cause. Args: steps, where a step is either a
  * query name, "RELEASE:<scope>", or "GC". */
object Rca {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // fail fast on a typo'd query name BEFORE replaying anything — a
    // NoSuchElementException mid-sequence would discard the expensive
    // session state the run was meant to diagnose (the Verify rule)
    val unknown = args.filterNot(a =>
      a.startsWith("RELEASE:") || a == "GC" || graft.SparkEntry.queries.contains(a))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    // stage-level cpu attribution: SPARK_GRAFT_EVENTLOG=<dir> writes the
    // standard event log there (sum per-stage Executor CPU Time offline)
    val eventLog = sys.env.get("SPARK_GRAFT_EVENTLOG").toSeq.flatMap(d =>
      Seq("spark.eventLog.enabled" -> "true", "spark.eventLog.dir" -> d))
    graft.Sessions.run(eventLog: _*) { spark =>
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").limit(256).collect()
        catch { case _: Throwable => () }
      }
      args.foreach {
        case s if s.startsWith("RELEASE:") =>
          graft.CacheBook.release(spark, s.stripPrefix("RELEASE:"))
          System.gc()
          println(s"[rca] released ${s.stripPrefix("RELEASE:")}")
        case "GC" => System.gc(); println("[rca] gc")
        case name =>
          val (wall, m) = graft.JobMeter.measure(spark.sparkContext) {
            val t0 = System.nanoTime()
            graft.SparkEntry.queries(name)(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[rca] $name%-28s wall=$wall%7.2f jobs=${m.jobs}%4d cpu=${m.cpuSec}%7.2f")
      }
    }
  }
}
