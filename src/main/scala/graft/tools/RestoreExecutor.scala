package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.plans.SchemaGraph

/** PARALLEL RESTORE EXECUTOR — the piece of the reference with no graft
  * analog until round 13: `slice_db` restores through a
  * dependency-graph-concurrent pool (slice_db/restore.py:43-173 —
  * `GraphRunner` walking the FK DAG under `asyncio.Semaphore(
  * params.parallelism)`; cycles deferred via deferrable constraints,
  * sequences set after data). This is the same executor over Spark's
  * JDBC sink:
  *
  *  - a table becomes ELIGIBLE the moment every parent it references
  *    has finished loading — event-driven, NOT level-by-level barriers
  *    (a deep chain must not serialize its siblings; the reference's
  *    GraphRunner has the same property);
  *  - the wait graph applies only when the target already has the
  *    constraints: with `includeSchema` the executor creates the tables
  *    itself from pre-data, which declares none, so every table is
  *    eligible at once and the FKs arrive with post-data after the
  *    loads;
  *  - at most `jobs` loads are in flight, on `jobs` workers of
  *    [[graft.Par]] — so also never more than the Spark context's
  *    `defaultParallelism`;
  *  - FK-cycle members (flagged by [[SchemaGraph.restoreOrder]]) drop
  *    their cycle back-edge from the wait graph and load in toposort
  *    position — on a target with deferrable constraints those are the
  *    constraints a caller defers (RestoreWriter's script does exactly
  *    that); on targets without them (Derby), the caller installs the
  *    cycle's FK after the load, which RestoreApplySpec exercises;
  *  - sequences restore LAST from the manifest's `last_value` through
  *    the `setSequence` hook (dialects disagree on the statement —
  *    Postgres `setval`, Derby `ALTER TABLE ... RESTART WITH`).
  *
  * Data flows through `spark.read.parquet(...).write.jdbc(...)` — each
  * table load is itself partition-parallel on the cluster; `jobs`
  * bounds how many TABLES stream concurrently into the target, which
  * is the reference's knob too (the target database is the bottleneck
  * a restore tunes around, not the source).
  */
object RestoreExecutor {

  /** One completed table load, with its wall-clock interval — the
    * evidence the ordering/concurrency contract is asserted on. */
  final case class Load(table: String, rows: Long, startNanos: Long, endNanos: Long)

  /** Split a DdlWriter schema section into individual statements
    * (drop the trailing semicolons JDBC executors reject). */
  def statements(sqlText: String): Seq[String] =
    sqlText.split(";").map(_.trim).filter(_.nonEmpty).toSeq

  /** Run one schema section against the target over a plain JDBC
    * connection. `translate` maps each statement to the target's
    * dialect (identity for PostgreSQL — DdlWriter's native output;
    * a Derby target rewrites `text` and strips DEFERRABLE). */
  private def runSection(url: String, props: java.util.Properties,
      file: java.nio.file.Path, translate: String => String): Unit = {
    Option(props.getProperty("driver")).foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try statements(java.nio.file.Files.readString(file))
        .foreach(s => st.execute(translate(s)))
      finally st.close()
    } finally conn.close()
  }

  /** Manifest rows: (table id, row_count, last_value or null). */
  def readManifest(sliceDir: String): Seq[(String, Long, Option[Long])] = {
    val manifest = new ObjectMapper().readTree(
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$sliceDir/manifest.json")))
    manifest.get("tables").elements().asScala.map { t =>
      (t.get("id").asText(), t.get("row_count").asLong(),
        if (t.get("last_value").isNull) None else Some(t.get("last_value").asLong()))
    }.toSeq
  }

  /** Load a slice into a live JDBC target. Returns one [[Load]] per
    * table (completion order). Fails fast: the first error stops
    * scheduling, in-flight loads drain, and the error rethrows.
    *
    * @param jobs concurrent table loads (≥ 1) — the semaphore width,
    *   capped at the context's `defaultParallelism`
    * @param setSequence invoked once per manifest `last_value` AFTER
    *   all data (table, value) — dialect-specific statement
    * @param includeSchema install the slice's embedded DDL sections
    *   (the reference's `--include-schema`, cli/main.py:173-180):
    *   `schema/pre-data.sql` creates the tables BEFORE any load —
    *   an EMPTY target works — and `schema/post-data.sql` adds the
    *   PK/FK constraints AFTER all data (restore.py's section order;
    *   cycle back-edges are in post-data, so "constraint checked after
    *   both sides exist" holds on targets without deferrable support).
    *   The freshly created tables have no FKs to violate, so the loads
    *   ignore the FK wait graph and start together, up to `jobs`
    * @param ddlDialect per-statement rewrite of DdlWriter's PostgreSQL
    *   DDL into the target's dialect (identity for Postgres) */
  def apply(spark: SparkSession, graph: SchemaGraph, sliceDir: String,
      url: String, props: java.util.Properties, jobs: Int,
      setSequence: (String, Long) => Unit = (_, _) => (),
      includeSchema: Boolean = false,
      ddlDialect: String => String = identity): Seq[Load] = {
    require(jobs >= 1, s"jobs must be >= 1, got $jobs")
    val schemaDir = java.nio.file.Paths.get(sliceDir, "schema")
    if (includeSchema) {
      require(java.nio.file.Files.isReadable(schemaDir.resolve("pre-data.sql")),
        s"--include-schema: no schema/pre-data.sql in $sliceDir " +
          "(slice written without DdlWriter sections)")
      runSection(url, props, schemaDir.resolve("pre-data.sql"), ddlDialect)
    }
    val manifest = readManifest(sliceDir)
    val present = manifest.map(_._1).toSet
    val pos = graph.restoreOrder.zipWithIndex
      .collect { case ((t, _), i) if present(t) => t -> i }.toMap
    require(present.forall(pos.contains),
      s"manifest tables missing from the graph: ${(present -- pos.keySet).mkString(", ")}")
    // the WAIT graph: t waits on referenced parents that restore
    // EARLIER in toposort position — acyclic by construction (a
    // cycle's back-edge points later, so it drops out: exactly the
    // constraint the reference defers instead of waiting on). ALL
    // references count, matching restoreOrder: forward/reverse are
    // slice-DISCOVERY directions, but the target's FK constraint
    // exists either way (a forward=false parent loaded late would
    // still violate it). With `includeSchema` the tables are the ones
    // pre-data just created, and pre-data declares no constraints
    // (DdlWriter.preData): nothing to wait on, every table is eligible
    // at once.
    val deps: Map[String, Set[String]] = present.iterator.map { t =>
      t -> (if (includeSchema) Set.empty[String] else graph.references.collect {
        case r if r.table == t && r.refTable != t &&
          present(r.refTable) && pos(r.refTable) < pos(t) => r.refTable
      }.toSet)
    }.toMap

    // `jobs` workers on graft.Par (the pool IS the semaphore); each
    // takes the first eligible table, or waits for a load to finish
    val waiting = collection.mutable.SortedSet.empty[String] ++ present
    val doneSet = collection.mutable.Set.empty[String]
    var failed = false
    val lock = new Object
    def nextTable(): Option[String] = lock.synchronized {
      var pick = Option.empty[String]
      while (!failed && pick.isEmpty && waiting.nonEmpty) {
        pick = waiting.find(t => deps(t).forall(doneSet))
        if (pick.isEmpty) lock.wait()
      }
      pick.foreach(waiting -= _)
      pick
    }
    val loads = new ConcurrentLinkedQueue[Load]()
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    graft.Par.each(1 to jobs) { _ =>
      var next = nextTable()
      while (next.isDefined) {
        val t = next.get
        val cur = inFlight.incrementAndGet()
        peak.updateAndGet(p => math.max(p, cur))
        val t0 = System.nanoTime()
        try {
          spark.read.parquet(s"$sliceDir/data/$t")
            .write.mode("append").jdbc(url, t, props)
          // row count from the manifest — the accounting target; a
          // post-write df.count() would re-scan the parquet
          loads.add(Load(t,
            manifest.collectFirst { case (`t`, n, _) => n }.getOrElse(-1L),
            t0, System.nanoTime()))
          lock.synchronized { doneSet += t; lock.notifyAll() }
        } catch {
          case e: Throwable =>
            lock.synchronized { failed = true; lock.notifyAll() }
            throw e
        } finally inFlight.decrementAndGet()
        next = nextTable()
      }
    }
    // post-data constraints AFTER every load (the reference's section
    // order: pg_restore applies post-data once the data section is in)
    if (includeSchema && java.nio.file.Files.isReadable(
        schemaDir.resolve("post-data.sql")))
      runSection(url, props, schemaDir.resolve("post-data.sql"), ddlDialect)
    // sequences LAST — deliberately INVERTING the reference's
    // ordering (slice_db/restore.py calls _restore_sequences before
    // _restore_rows). Equivalent because the rows carry explicit key
    // values either way (neither engine draws from the sequence
    // during the load); setting last_value after the data keeps the
    // executor's fail-fast property (a failed load never leaves the
    // target's sequences advanced past data that was never written).
    manifest.foreach { case (t, _, lv) => lv.foreach(setSequence(t, _)) }
    require(peak.get() <= jobs, s"semaphore breached: ${peak.get()} > $jobs")
    loads.iterator().asScala.toSeq
  }
}
