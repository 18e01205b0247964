package graft.sources

import java.nio.file.{Files, Paths}

import graft.plans.SchemaGraph

/** Restore-script sink: parents-before-children ordering with
  * deferred-constraint handling for FK cycles — the analog of the
  * reference's restore path (slice_db/restore.py:43-163; deferred
  * constraints at restore.py:221-263).
  *
  * The script itself is metadata-sized (one section per table); the data
  * volume stays in the sql segments it includes. Every include is a
  * relative `\ir sql/<table>.sql` ([[SqlWriter.writeTable]]'s index), so
  * the script sits at the slice root and restores from any directory.
  */
object RestoreWriter {

  /** @param sequences per-table max key (from SliceResult.sequences),
    *   restored so serial generation resumes past sliced rows.
    * @param slicedTables tables the slice actually reached (e.g.
    *   `result.keys.keySet`): SqlWriter only dumps sql/<table> for
    *   those, so the script must not reference the others. Empty set =
    *   include every table in the graph.
    * @param transaction wrap the whole restore in BEGIN/COMMIT (the
    *   reference's `--transaction`, default on, restore.py:34-38).
    * @param disableTriggers bracket the data load with `ALTER TABLE ...
    *   DISABLE/ENABLE TRIGGER ALL` (the reference's
    *   `--disable-triggers`, cli/main.py:158-163) — FK and trigger
    *   enforcement off for the load, so cycles need no deferral.
    * @param jobs declared restore parallelism; >1 is incompatible with
    *   a single transaction (the reference's guard, restore.py:44-45).
    *   Script emission is identical for any jobs value — the flag
    *   exists to validate the combination (SliceDump also validates it
    *   up front, before the slice runs). */
  def restoreScript(graph: SchemaGraph, sequences: Map[String, Long],
      slicedTables: Set[String] = Set.empty,
      transaction: Boolean = true,
      disableTriggers: Boolean = false,
      jobs: Int = 1): String = {
    require(!(jobs > 1 && transaction),
      s"a single transaction must be disabled for jobs=$jobs > 1 (use --no-transaction)")
    val order = graph.restoreOrder
      .filter { case (t, _) => slicedTables.isEmpty || slicedTables(t) }
    val deferred = order.collect { case (t, true) => t }
    // SET CONSTRAINTS is transaction-scoped; without one, FK cycles can
    // only load with enforcement disabled (reference restore.py:134-138
    // raises the same way)
    require(transaction || disableTriggers || deferred.isEmpty,
      s"transaction required to defer FK-cycle constraints (${deferred.mkString(", ")}); " +
        "use --disable-triggers to load without enforcement")
    val sb = new StringBuilder
    if (transaction) sb ++= "BEGIN;\n"
    // SqlWriter renders timestamps as ZONELESS literals in the dump
    // session's zone (graft sessions pin UTC); DdlWriter maps Spark
    // TimestampType to timestamptz, where PostgreSQL interprets a
    // zoneless literal in the CLIENT's TimeZone — without pinning it,
    // a restore from a non-UTC client shifts every instant by the
    // client's offset.
    sb ++= "SET TIME ZONE 'UTC';\n"
    if (disableTriggers)
      order.foreach { case (t, _) => sb ++= s"ALTER TABLE $t DISABLE TRIGGER ALL;\n" }
    if (deferred.nonEmpty && !disableTriggers)
      sb ++= s"SET CONSTRAINTS ALL DEFERRED; -- cycle tables: ${deferred.mkString(", ")}\n"
    order.foreach { case (t, isDeferred) =>
      // cycle note on its own line: anything after the \ir path would be
      // parsed as extra psql meta-command arguments, not a comment
      if (isDeferred && !disableTriggers)
        sb ++= s"-- $t: constraints deferred (FK cycle)\n"
      sb ++= s"\\ir sql/$t.sql\n"
    }
    if (disableTriggers)
      order.foreach { case (t, _) => sb ++= s"ALTER TABLE $t ENABLE TRIGGER ALL;\n" }
    sequences.toSeq.sortBy(_._1).foreach { case (t, maxKey) =>
      val key = graph.table(t).key.head
      sb ++= s"SELECT setval(pg_get_serial_sequence('$t', '$key'), ${maxKey + 1}, false);\n"
    }
    if (transaction) sb ++= "COMMIT;\n"
    sb.result()
  }

  /** Write [[restoreScript]] to `outPath`, which must sit directly in
    * `sliceDir`: the script's includes are relative to its own
    * directory. */
  def write(graph: SchemaGraph, sliceDir: String, sequences: Map[String, Long],
      outPath: String, slicedTables: Set[String] = Set.empty,
      transaction: Boolean = true, disableTriggers: Boolean = false,
      jobs: Int = 1): Unit = {
    val out = Paths.get(outPath).toAbsolutePath.normalize
    require(out.getParent == Paths.get(sliceDir).toAbsolutePath.normalize,
      s"restore script $outPath must sit at the slice root $sliceDir")
    Files.createDirectories(out.getParent)
    Files.writeString(out,
      restoreScript(graph, sequences, slicedTables,
        transaction, disableTriggers, jobs))
  }
}
