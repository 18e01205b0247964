package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.functions.{ScrubConfig, Transforms}
import graft.operators.{SliceRoot, Slicer}
import graft.plans.{Reference, SchemaGraph, TableDef}
import graft.sources.{RestoreWriter, SliceWriter, SqlWriter}
import graft.tools.SliceTransform

/** Offline re-scrub round trip (reference `transform` concept,
  * slice_db/transform.py:111): scrubbing AT dump time and dumping
  * plain then re-scrubbing the written slice — same config, same
  * pepper — must produce identical segments, with the manifest
  * preserved and the INSERT scripts regenerated from scrubbed rows. */
class SliceTransformSpec extends SparkSpec {
  import spark.implicits._

  private val graph = SchemaGraph(
    tables = Seq(TableDef("p", Seq("pid")), TableDef("c", Seq("cid"))),
    references = Seq(Reference("cp", "c", Seq("pid"), "p", Seq("pid"))))

  private val tables = Map(
    "p" -> Seq((1, "Margaret", "4111111111111111"), (2, "Henry", "x"))
      .toDF("pid", "name", "note"),
    "c" -> Seq((10, 1, "Springfield"), (11, 2, "Shelbyville"))
      .toDF("cid", "pid", "city"))

  private def result() =
    new Slicer(graph, tables(_)).run(Seq(SliceRoot("p", "pid = 1")))

  private val cfg = ScrubConfig.fromJson(
    """{"tables": {"p": {"name": "given_name"}, "c": {"city": "city"}}}""")

  private def rowsOf(dir: String, t: String): Seq[Seq[Any]] =
    spark.read.parquet(s"$dir/data/$t").collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("dump-then-rescrub equals scrub-at-dump, manifest preserved, sql regenerated") {
    Transforms.setPepper("round-trip-pepper")
    try {
      val plain = Files.createTempDirectory("st-plain").toString
      val atDump = Files.createTempDirectory("st-atdump").toString
      val rescrub = Files.createTempDirectory("st-rescrub").toString

      // plain dump WITH sql scripts (they embed raw values)
      val r = result()
      SliceWriter.write(r, plain)
      SqlWriter.write(r, plain)
      // scrubbed-at-dump reference output
      SliceWriter.write(result(), atDump, cfg.apply)

      SliceTransform.transform(spark, plain, rescrub, cfg)

      for (t <- Seq("p", "c"))
        assert(rowsOf(rescrub, t) == rowsOf(atDump, t),
          s"re-scrubbed $t differs from scrubbed-at-dump")
      // the scrub actually moved the configured columns
      assert(rowsOf(rescrub, "p") != rowsOf(plain, "p"))
      // manifest byte-identical (row counts / last_values scrub-invariant)
      assert(Files.readString(Paths.get(s"$rescrub/manifest.json"))
        == Files.readString(Paths.get(s"$plain/manifest.json")))
      // INSERT scripts regenerated from SCRUBBED rows — no raw leak
      val sql = spark.read.text(s"$rescrub/sql/p").as[String].collect().mkString("\n")
      assert(!sql.contains("Margaret"), "re-scrubbed INSERT script leaks a raw value")
      assert(sql.contains("INSERT INTO p"))
    } finally Transforms.resetPepper()
  }

  /** Every line psql runs for `<root>/restore.sql`, includes expanded:
    * `\ir` resolves from the including file's directory, `\i` from the
    * working directory, here a fresh one outside the slice. Every
    * include must name a regular file inside `root`. */
  private def restoreLines(root: Path): Seq[String] = {
    val cwd = Files.createTempDirectory("st-cwd")
    def run(script: Path): Seq[String] =
      Files.readAllLines(script).asScala.toSeq.flatMap { l =>
        l.split(" ", 2) match {
          case Array(cmd @ ("\\i" | "\\ir"), rel) =>
            val from = if (cmd == "\\ir") script.getParent else cwd
            val target = from.resolve(rel).normalize
            assert(target.startsWith(root) && Files.isRegularFile(target),
              s"$script: `$l` does not name a file inside $root")
            run(target)
          case _ => Seq(l)
        }
      }
    run(root.resolve("restore.sql"))
  }

  private def inserts(dir: String): Seq[String] =
    restoreLines(Paths.get(dir).toAbsolutePath.normalize)
      .filter(_.startsWith("INSERT")).sorted

  test("restore.sql includes resolve inside the slice after dump, re-scrub and unzip") {
    Transforms.setPepper("round-trip-pepper")
    try {
      val r = result()
      def expected(scrub: (String, org.apache.spark.sql.DataFrame) =>
          org.apache.spark.sql.DataFrame): Seq[String] =
        r.allRows.toSeq.flatMap { case (t, df) =>
          SqlWriter.insertStatements(scrub(t, df), t).as[String].collect().toSeq
        }.sorted
      val plain = Files.createTempDirectory("st-inc-plain").toString
      SliceWriter.write(r, plain)
      SqlWriter.write(r, plain)
      RestoreWriter.write(graph, plain, Map.empty, s"$plain/restore.sql", r.keys.keySet)
      val raw = expected((_, df) => df)
      assert(raw.exists(_.contains("Margaret")) && inserts(plain) == raw)

      val rescrub = Files.createTempDirectory("st-inc-rescrub").toString
      SliceTransform.transform(spark, plain, rescrub, cfg)
      val scrubbed = expected(cfg.apply)
      assert(!scrubbed.exists(_.contains("Margaret")) && inserts(rescrub) == scrubbed,
        "the re-scrubbed slice's restore.sql must load its own scrubbed INSERTs")

      val zipPath = s"${Files.createTempDirectory("st-inc-zip")}/slice.zip"
      SliceWriter.zip(rescrub, zipPath)
      val unpacked = Files.createTempDirectory("st-inc-unzip").toString
      SliceWriter.unzip(zipPath, unpacked)
      assert(inserts(unpacked) == scrubbed)
    } finally Transforms.resetPepper()
  }

  test("zip in / zip out round trip preserves the re-scrub") {
    Transforms.setPepper("round-trip-pepper")
    try {
      val plain = Files.createTempDirectory("st-zin").toString
      SliceWriter.write(result(), plain)
      val zin = s"$plain.zip"
      SliceWriter.zip(plain, zin)
      val unpacked = Files.createTempDirectory("st-zunpack").toString
      SliceWriter.unzip(zin, unpacked)
      val out = Files.createTempDirectory("st-zout").toString
      SliceTransform.transform(spark, unpacked, out, cfg)
      val atDump = Files.createTempDirectory("st-zatdump").toString
      SliceWriter.write(result(), atDump, cfg.apply)
      assert(rowsOf(out, "p") == rowsOf(atDump, "p"))
    } finally Transforms.resetPepper()
  }

  test("config naming a table absent from the slice fails fast") {
    val plain = Files.createTempDirectory("st-miss").toString
    SliceWriter.write(result(), plain)
    val bad = ScrubConfig.fromJson("""{"tables": {"nope": {"x": "null"}}}""")
    val e = intercept[IllegalArgumentException] {
      SliceTransform.transform(spark, plain,
        Files.createTempDirectory("st-missout").toString, bad)
    }
    assert(e.getMessage.contains("nope"))
  }

  test("flag parsing: loud failures, format restriction") {
    val p = SliceTransform.parse(Seq("--scrub", "s.json", "--pepper", "pp"))
    assert(p.scrubPath == "s.json" && p.pepper.contains("pp") && p.format == "parquet")
    intercept[RuntimeException] { SliceTransform.parse(Seq("--scrub")) }
    intercept[RuntimeException] { SliceTransform.parse(Seq("--scrub", "s.json", "extra")) }
    intercept[RuntimeException] { SliceTransform.parse(Seq()) } // --scrub required
    intercept[IllegalArgumentException] {
      SliceTransform.parse(Seq("--scrub", "s.json", "--format", "csv"))
    }
  }
}
