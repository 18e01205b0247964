package graft.tools

import graft.Tables
import graft.operators.{SliceRoot, Slicer}
import graft.plans.{SchemaConfig, SchemaGraph}
import graft.sources.{RestoreWriter, SliceWriter, SqlWriter}

/** CLI analog of `slicedb dump` (slice_db/cli/main.py): slice the corpus
  * from one or more roots (the reference's repeatable `-r TABLE
  * CONDITION`) and write every output format — parquet segments +
  * manifest, INSERT scripts, schema sections, and the ordered restore
  * script.
  *
  * Usage: SliceDump <sfDir> <outDir> <rootTable> <condition>
  *                  [rootTable2 condition2 ...]
  *                  [--graph graph.json] [--scrub scrub.json]
  *                  [--pepper <secret>]
  *                  [--no-transaction] [--disable-triggers] [--jobs N]
  */
object SliceDump {
  private def readFile(p: String) =
    java.nio.file.Files.readString(java.nio.file.Paths.get(p))

  /** Parsed invocation — extraction makes the flag grammar (and its
    * loud-failure rules) unit-testable without running a slice. */
  final case class Parsed(roots: Seq[SliceRoot],
      graphPath: Option[String], scrubPath: Option[String],
      pepper: Option[String], transaction: Boolean,
      disableTriggers: Boolean, jobs: Int)

  /** Parse everything after (sfDir, outDir). Fails loudly on: an
    * unknown --flag anywhere, a known value flag missing its value, a
    * jobs/transaction conflict (before the hours-long slice runs, not
    * in the final restore-script write — the FK-cycle/transaction rule
    * stays late, it depends on which tables the slice reaches), and
    * non-paired roots. */
  def parse(args: Seq[String]): Parsed = {
    // explicit flags — suffix-sniffing would misroute a scrub-only call
    // or a root condition that happens to end in ".json"
    val pairArgs = Vector.newBuilder[String]
    var graphPath, scrubPath, pepper = Option.empty[String]
    // restore-script execution options (reference cli/main.py:158-192)
    var transaction = true
    var disableTriggers = false
    var jobs = 1
    var rest = args.toList
    while (rest.nonEmpty) rest = rest match {
      case "--graph" :: p :: tl => graphPath = Some(p); tl
      case "--scrub" :: p :: tl => scrubPath = Some(p); tl
      // per-invocation pepper (reference cli/main.py parity)
      case "--pepper" :: p :: tl => pepper = Some(p); tl
      case "--no-transaction" :: tl => transaction = false; tl
      case "--disable-triggers" :: tl => disableTriggers = true; tl
      case "--jobs" :: n :: tl =>
        jobs = n.toIntOption.getOrElse(
          sys.error(s"--jobs requires an integer, got $n")); tl
      // a known value-taking flag with its value forgotten must say so
      // (the catch-all below would misreport it as unknown)
      case flag :: Nil if Set("--graph", "--scrub", "--pepper", "--jobs")(flag) =>
        sys.error(s"$flag requires a value"); Nil
      // any unrecognized flag must fail loudly WHEREVER it appears —
      // a typo'd flag and its value would otherwise be swallowed into
      // the (table, condition) pair list and "work"
      case flag :: _ if flag.startsWith("--") =>
        sys.error(s"unknown flag $flag"); Nil
      case a :: tl              => pairArgs += a; tl
      case Nil                  => Nil
    }
    require(!(jobs > 1 && transaction),
      s"a single transaction must be disabled for jobs=$jobs > 1 (use --no-transaction)")
    val pairs = pairArgs.result()
    require(pairs.length >= 2 && pairs.length % 2 == 0,
      "roots must be (table, condition) pairs")
    Parsed(pairs.grouped(2).map(p => SliceRoot(p(0), p(1))).toSeq,
      graphPath, scrubPath, pepper, transaction, disableTriggers, jobs)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val p = parse(args.drop(2).toSeq)
    // must land before the scrub config builds its transform Columns
    p.pepper.foreach(graft.functions.Transforms.setPepper)
    val Parsed(roots, graphPath, scrubPath, _, transaction, disableTriggers, jobs) = p
    val graph = graphPath.map(p => SchemaConfig.fromJson(readFile(p)))
      .getOrElse(SchemaGraph.tpch)
    val scrub: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
      scrubPath.map { p =>
        val cfg = graft.functions.ScrubConfig.fromJson(readFile(p))
        cfg.apply(_, _)
      }.getOrElse((_, df) => df)
    graft.Sessions.run { spark =>
      val result = new Slicer(graph, t => Tables.load(spark, sfDir, t))
        .run(roots)
      SliceWriter.write(result, outDir, scrub,
        format = sys.env.getOrElse("SPARK_GRAFT_SLICE_FORMAT", "parquet"))
      SqlWriter.write(result, outDir, scrub)
      val seqs = result.sequences.collect()
        .flatMap(r => if (r.isNullAt(1)) None else Some(r.getString(0) -> r.getLong(1))).toMap
      RestoreWriter.write(graph, outDir, seqs, s"$outDir/restore.sql",
        result.keys.keySet, transaction, disableTriggers, jobs)
      // schema sections (pre-data CREATE TABLEs, post-data constraints) so
      // the archive restores into an empty database; typed from the
      // scrubbed schemas, like the data
      SliceWriter.writeSchema(result, graph, outDir, scrub)
      // reference-parity single-archive output (slice_db ZIP-of-segments)
      if (sys.env.get("SPARK_GRAFT_SLICE_ZIP").contains("1"))
        SliceWriter.zip(outDir, s"$outDir.zip")
      println(s"slice written to $outDir: tables=${result.keys.keys.toSeq.sorted.mkString(",")}")
    }
  }
}
