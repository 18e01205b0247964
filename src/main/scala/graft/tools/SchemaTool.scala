package graft.tools

import graft.plans.{SchemaConfig, SchemaGraph}

/** Schema CLI — analogs of `slicedb schema` (dump the FK graph as JSON,
  * either the configured graph or one introspected from a live
  * PostgreSQL's pg_catalog, slice_db/schema.py) and
  * `slicedb schema-filter children` (reachability closure from a root).
  *
  * Usage:
  *   SchemaTool print [graph.json]
  *   SchemaTool print --jdbc <url> [user] [password]
  *   SchemaTool reachable <table> [graph.json]
  *   SchemaTool filter-children <table>[,<table>...] [graph.json]
  *   SchemaTool restore-order [graph.json]
  */
object SchemaTool {
  def main(args: Array[String]): Unit = {
    val graph =
      if (args.length > 1 && args(1) == "--jdbc") {
        graft.Sessions.run(graft.sources.SchemaIntrospect.viaJdbc(_, args(2),
          args.lift(3).getOrElse(""), args.lift(4).getOrElse("")))
      } else if (args.last.endsWith(".json"))
        SchemaConfig.fromJson(java.nio.file.Files.readString(java.nio.file.Paths.get(args.last)))
      else SchemaGraph.tpch
    args.head match {
      case "print" =>
        println(SchemaConfig.toJson(graph))
      case "reachable" =>
        println(graph.reachableFrom(args(1)).toSeq.sorted.mkString("\n"))
      case "filter-children" =>
        // comma-separated roots; emits the REWRITTEN config (reverse
        // directions stripped outside the child closure), reference
        // `slicedb schema-filter children` parity — pipe to a file and
        // feed it back to SliceDump
        println(SchemaConfig.toJson(graph.filterChildren(args(1).split(',').toSeq)))
      case "restore-order" =>
        graph.restoreOrder.foreach { case (t, deferred) =>
          println(if (deferred) s"$t (deferred)" else t)
        }
      case other => sys.error(
        s"unknown subcommand '$other' (print | reachable | filter-children | restore-order)")
    }
  }
}
