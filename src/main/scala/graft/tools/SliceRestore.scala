package graft.tools

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Restore-side validation: read a SliceWriter output (a directory OR a
  * `.zip` archive from SliceWriter.zip — the reference round-trips its
  * own ZIP, slice_db/slice.py + restore.py:43), register each table as
  * a temp view, and check the data against the manifest (count per
  * table) — the parquet analog of the reference's restore + row-count
  * accounting (slice_db/restore.py). Exits nonzero on any mismatch.
  *
  * With `--apply <jdbcUrl>` the slice also LOADS into the live target
  * through [[RestoreExecutor]] — the dependency-graph-parallel pool the
  * reference restores with (slice_db/restore.py:43-173); `--jobs N`
  * sets the semaphore width (default 4), `--driver <class>` the JDBC
  * driver. Requires the graph argument (the wait graph is the FK
  * graph).
  *
  * `--include-schema` additionally installs the slice's embedded DDL
  * sections around the loads (pre-data CREATE TABLEs before, post-data
  * PK/FK constraints after — the reference's `--include-schema`,
  * cli/main.py:173-180), so an EMPTY target restores end-to-end. The
  * CLI runs the sections verbatim (DdlWriter emits PostgreSQL DDL);
  * other dialects go through RestoreExecutor's `ddlDialect` hook.
  *
  * Usage: SliceRestore <sliceDirOrZip> [graph.json] [--apply <jdbcUrl>
  *   [--jobs N] [--driver <class>] [--include-schema]]
  */
object SliceRestore {

  /** Resolve the input to a readable slice directory, unpacking a ZIP
    * archive to a temp dir first. */
  def resolve(path: String): String =
    if (path.endsWith(".zip")) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-slice").toString
      graft.sources.SliceWriter.unzip(path, tmp)
      tmp
    } else path

  /** Per-table (id, manifestCount, actualCount); registers temp views.
    * The counts run concurrently on [[graft.Par]]; the views register
    * on the calling thread. */
  def validate(spark: SparkSession, sliceDir: String): Seq[(String, Long, Long)] = {
    val manifest = new ObjectMapper()
      .readTree(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$sliceDir/manifest.json")))
    val tables = manifest.get("tables").elements().asScala.map { t =>
      val id = t.get("id").asText()
      val df = spark.read.parquet(s"$sliceDir/data/$id")
      df.createOrReplaceTempView(id)
      (id, t.get("row_count").asLong(), df)
    }.toSeq
    graft.Par.each(tables) { case (id, expected, df) => (id, expected, df.count()) }
  }

  /** Per-reference orphan count over restored data: child FK values
    * with no matching parent row (NULL FKs ignored). A slice discovered
    * to fixpoint is FK-CLOSED along its forward references, so every
    * count must be 0 — the restore-side proof that the discovery
    * semantics held (the reference gets this for free from the target
    * database's constraints; a lake restore has to check). One
    * concurrent count per reference on [[graft.Par]]. */
  def validateRefs(spark: SparkSession, graph: graft.plans.SchemaGraph,
      sliceDir: String): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.col
    def has(t: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$sliceDir/data/$t"))
    val refs = graph.references.filter(r => r.forward && has(r.table) && has(r.refTable))
    graft.Par.each(refs) { r =>
      val vals = spark.read.parquet(s"$sliceDir/data/${r.table}")
        .select(r.columns.map(col): _*).na.drop("any").toDF(r.refColumns: _*)
      val parent = spark.read.parquet(s"$sliceDir/data/${r.refTable}")
        .select(r.refColumns.map(col): _*)
      r.id -> vals.join(parent, r.refColumns, "left_anti").count()
    }
  }

  def main(args: Array[String]): Unit = {
    val sliceDir = resolve(args(0))
    val broken = graft.Sessions.run() { spark =>
      var failed = false
      validate(spark, sliceDir).foreach { case (id, expected, actual) =>
        val ok = actual == expected
        if (!ok) failed = true
        println(s"[restore] $id: manifest=$expected data=$actual ${if (ok) "OK" else "MISMATCH"}")
      }
      // optional FK-closure audit: SliceRestore <dirOrZip> <graph.json>
      val positional = args.zipWithIndex.filter { case (a, i) =>
        !a.startsWith("--") && (i == 0 || !args(i - 1).startsWith("--"))
      }.map(_._1)
      val graphOpt = positional.drop(1).headOption.map(p =>
        graft.plans.SchemaConfig.fromJson(
          java.nio.file.Files.readString(java.nio.file.Paths.get(p))))
      graphOpt.foreach { graph =>
        validateRefs(spark, graph, sliceDir).foreach { case (id, orphans) =>
          if (orphans > 0) failed = true
          println(s"[restore] ref $id: orphans=$orphans ${if (orphans == 0) "OK" else "BROKEN"}")
        }
      }
      // --apply <jdbcUrl>: dependency-graph-parallel load into the target
      def flag(name: String): Option[String] = {
        val i = args.indexOf(name)
        if (i < 0) None
        else if (i + 1 >= args.length)
          sys.error(s"$name requires a value")
        else Some(args(i + 1))
      }
      flag("--apply").foreach { url =>
        val graph = graphOpt.getOrElse(
          sys.error("--apply needs the graph argument (the FK wait graph)"))
        val jobs = flag("--jobs").map(v => v.toIntOption.getOrElse(
          sys.error(s"--jobs must be an integer, got '$v'"))).getOrElse(4)
        val props = new java.util.Properties()
        flag("--driver").foreach(props.setProperty("driver", _))
        val loads = RestoreExecutor(spark, graph, sliceDir, url, props, jobs,
          includeSchema = args.contains("--include-schema"))
        loads.sortBy(_.startNanos).foreach(l =>
          println(s"[restore] loaded ${l.table}: ${l.rows} rows"))
      }
      failed
    }
    if (broken) sys.exit(1)
  }
}
