package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.functions.ScrubConfig
import graft.sources.{Formats, SliceWriter, SqlWriter}

/** Offline re-scrub of an already-written slice — the reference's
  * `transform` concept (slice_db/transform.py:111 `TableTransformer
  * .transform`: rewrite dumped rows through a transform config with no
  * database in the loop; the reference's own CLI entry
  * slice_db/cli/transform.py:1-2 is literally `pass`, so this ships the
  * intended behavior, not a port of shipped code).
  *
  * Reads a slice directory in [[graft.sources.SliceWriter]] layout
  * (data/<table>/ segments + manifest.json [+ sql/ + schema/ +
  * restore.sql]) — or a slice ZIP — applies a [[ScrubConfig]] to every
  * configured table, and writes a complete new slice:
  *
  *  - data segments are rewritten SCRUBBED on the executors: one
  *    map-only job per table, no shuffle, never through the driver —
  *    at 100 TB the rewrite streams at scan speed;
  *  - `manifest.json` is preserved VERBATIM — scrubbing is
  *    row-preserving and never configured on declared key columns, so
  *    row counts and sequence last_values hold by contract;
  *  - `sql/` INSERT scripts are REGENERATED from the scrubbed rows
  *    when the input slice carried them: the input's scripts embed the
  *    raw values, and copying them through would leak exactly what the
  *    re-scrub was asked to remove;
  *  - every other sidecar (schema sections, restore.sql) is copied
  *    byte-for-byte — the scrub changes values, never shape; the
  *    copied restore.sql's relative includes resolve to the new
  *    slice's regenerated scripts.
  *
  * The round-trip contract (SliceTransformSpec): scrubbing AT dump time
  * and dumping-then-rescrubbing with the same config + pepper produce
  * identical segments — the scrub Columns are the same deterministic
  * expressions either way.
  *
  * Usage: SliceTransform <inDir|in.zip> <outDir|out.zip> --scrub cfg.json
  *                       [--pepper <secret>] [--format parquet|orc]
  */
object SliceTransform {

  final case class Parsed(scrubPath: String, pepper: Option[String],
      format: String)

  /** Parse the flags after (in, out) — the SliceDump loud-failure
    * grammar: unknown flags and missing values fail before any job. */
  def parse(args: Seq[String]): Parsed = {
    var scrubPath = Option.empty[String]
    var pepper = Option.empty[String]
    var format = "parquet"
    var rest = args.toList
    while (rest.nonEmpty) rest = rest match {
      case "--scrub" :: p :: tl => scrubPath = Some(p); tl
      case "--pepper" :: p :: tl => pepper = Some(p); tl
      case "--format" :: f :: tl => format = f; tl
      case flag :: Nil if Set("--scrub", "--pepper", "--format")(flag) =>
        sys.error(s"$flag requires a value"); Nil
      case flag :: _ =>
        sys.error(s"unknown argument $flag (a re-scrub takes no roots)"); Nil
      case Nil => Nil
    }
    // csv/json segments don't carry a schema; reading them back for a
    // re-scrub would need the DDL sections parsed — out of scope, and
    // the archive default is parquet
    require(Set("parquet", "orc")(format),
      s"offline re-scrub reads self-describing segments only (parquet|orc), got $format")
    Parsed(scrubPath.getOrElse(sys.error("--scrub <config.json> is required")),
      pepper, format)
  }

  /** Tables present in a written slice = the directories under data/. */
  private def tablesIn(sliceDir: String): Seq[String] = {
    val data = Paths.get(sliceDir, "data")
    require(Files.isDirectory(data), s"not a slice directory (no data/): $sliceDir")
    import scala.jdk.CollectionConverters._
    Files.list(data).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq.sorted
  }

  /** The re-scrub itself, directory → directory. Exposed for the spec
    * (main adds the ZIP unpack/pack and session plumbing). */
  def transform(spark: SparkSession, inDir: String, outDir: String,
      cfg: ScrubConfig, format: String = "parquet"): Unit = {
    val tables = tablesIn(inDir)
    // fail fast on a config naming a table the slice doesn't contain —
    // a silent skip would report "scrubbed" while the column never moved
    val missing = cfg.tables.keySet.diff(tables.toSet)
    require(missing.isEmpty,
      s"scrub config names tables absent from the slice: ${missing.toSeq.sorted.mkString(", ")}")
    val hadSql = Files.isDirectory(Paths.get(inDir, "sql"))
    tables.foreach { t =>
      val scrubbed = cfg(t, Formats.read(spark, s"$inDir/data/$t", format))
      Formats.write(scrubbed, s"$outDir/data/$t", format)
      if (hadSql) SqlWriter.writeTable(scrubbed, t, outDir)
    }
    // sidecars: manifest verbatim (counts/last_values are scrub-invariant),
    // schema + restore script byte-for-byte; data/ and sql/ were rewritten
    import scala.jdk.CollectionConverters._
    val root = Paths.get(inDir)
    Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => (root.relativize(p).toString, p))
      .filterNot { case (rel, _) =>
        rel.startsWith("data/") || rel.startsWith("sql/") ||
          rel.startsWith("data\\") || rel.startsWith("sql\\")
      }
      .foreach { case (rel, p) =>
        val target = Paths.get(outDir).resolve(rel)
        Files.createDirectories(target.getParent)
        Files.copy(p, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
  }

  def main(args: Array[String]): Unit = {
    val Array(in, out) = args.take(2)
    val p = parse(args.drop(2).toSeq)
    // must land before the scrub config builds its transform Columns
    p.pepper.foreach(graft.functions.Transforms.setPepper)
    val cfg = ScrubConfig.fromJson(
      Files.readString(Paths.get(p.scrubPath)))
    // ZIP in/out: the reference transforms INSIDE its archive; here the
    // archive halves reuse the SliceWriter zip round-trip
    val inDir =
      if (in.endsWith(".zip")) {
        val d = Files.createTempDirectory("graft-rescrub-in").toString
        SliceWriter.unzip(in, d); d
      } else in
    val outIsZip = out.endsWith(".zip")
    val outDir =
      if (outIsZip) Files.createTempDirectory("graft-rescrub-out").toString
      else out
    graft.Sessions.run(transform(_, inDir, outDir, cfg, p.format))
    if (outIsZip) SliceWriter.zip(outDir, out)
    println(s"re-scrubbed slice written to $out: tables=${tablesIn(inDir).mkString(",")}")
  }
}
