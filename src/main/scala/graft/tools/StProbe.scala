package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Diagnostic runner for the streaming entries: replays named queries
  * with a StreamingQueryListener attached and prints every micro-batch
  * progress event's durationMs breakdown (triggerExecution,
  * queryPlanning, walCommit, commitOffsets, addBatch, getBatch,
  * latestOffset) plus per-query start→stop wall — the measurement that
  * separates engine fixed cost (planning, WAL/state commits) from
  * actual batch compute in the st_* walls. */
object StProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    graft.Sessions.run() { spark =>
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
          println(s"[stprobe] started ${e.name} at ${System.nanoTime() / 1000000}ms")
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val d = p.durationMs
          println(s"[stprobe] batch=${p.batchId} rows=${p.numInputRows} " +
            s"durations=${d}")
          Option(p.stateOperators).foreach(_.foreach { so =>
            println(s"[stprobe]   state op=${so.operatorName} commitMs=${so.commitTimeMs} " +
              s"rowsTotal=${so.numRowsTotal} memUsed=${so.memoryUsedBytes}")
          })
        }
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          println(s"[stprobe] terminated at ${System.nanoTime() / 1000000}ms")
      })
      Seq("events", "documents", "embeddings", "orders").foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").limit(256).collect()
        catch { case _: Throwable => () }
      }
      args.foreach { name =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir).count()
        println(f"[stprobe] $name%-22s wall=${(System.nanoTime() - t0) / 1e9}%7.2f")
      }
    }
  }
}
