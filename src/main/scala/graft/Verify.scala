package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Optional
  * args beyond (sfDir, outDir) name a query subset — the local dev
  * loop (tools/gate.sh <sfDir> <outDir> q1 q2) dumps only those
  * instead of all ~200; the driver's two-arg contract is unchanged.
  * Unknown names fail fast: a typo'd subset would otherwise dump
  * nothing and let check.py report a green "0 pass, 0 fail". */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    Sessions.run() { spark =>
      new java.io.File(outDir).mkdirs()
      // dump queries on a small thread pool: Spark schedules the jobs
      // concurrently, so independent queries overlap their idle phases
      // (planning, codegen, small-stage latency) instead of serializing
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      def deleteRecursively(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(deleteRecursively))
        p.delete()
      }
      val futures = SparkEntry.queries.toSeq
        .filter { case (name, _) => only.isEmpty || only(name) }
        .map { case (name, fn) =>
        scala.concurrent.Future {
          // one retry: under the concurrent pool a query can flake on a
          // transient (temp-checkpoint/driver-resource races observed
          // ~1/300 runs); a retry that ALSO fails is a real failure and
          // must fail the compare. Deterministic errors fail both tries.
          def attempt(): Unit = fn(spark, sfDir).coalesce(1).write
            .mode("overwrite").parquet(s"$outDir/$name")
          try attempt()
          catch { case e1: Throwable =>
            System.err.println(s"[verify] $name failed (${e1.getMessage}); retrying")
            try attempt()
            catch { case e2: Throwable =>
              System.err.println(s"[verify] $name failed twice: ${e2.getMessage}")
              // a failed query must FAIL the compare, not silently reuse
              // the previous run's parquet if outDir is being re-used
              deleteRecursively(new java.io.File(s"$outDir/$name"))
            }
          }
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration.Inf)
      pool.shutdown()
      // JSON string escape: backslash, quote, and ALL control chars (<0x20)
      // — a tab or CR in builder-authored SQL would otherwise make the
      // driver's json.load fail and silently zero the round's correctness.
      def q(s: String): String = "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    }
  }
}
