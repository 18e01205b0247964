package graft

import java.nio.file.{Files, Paths}

import graft.operators.{SliceRoot, Slicer}
import graft.plans.{Reference, SchemaConfig, SchemaGraph, TableDef}
import graft.sources.{RestoreWriter, SliceWriter, SqlWriter}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private val graph = SchemaGraph(
    tables = Seq(TableDef("p", Seq("pid")), TableDef("c", Seq("cid"))),
    references = Seq(Reference("cp", "c", Seq("pid"), "p", Seq("pid"))))

  private val tables = Map(
    "p" -> Seq((1, "it's"), (2, "b")).toDF("pid", "txt"),
    "c" -> Seq((10, 1), (11, 2)).toDF("cid", "pid"))

  private def result() =
    new Slicer(graph, tables(_)).run(Seq(SliceRoot("p", "pid = 1")))

  test("SliceWriter writes parquet segments + JSON manifest") {
    val dir = Files.createTempDirectory("slicew").toString
    SliceWriter.write(result(), dir)
    val back = spark.read.parquet(s"$dir/data/p")
    assert(back.count() == 1)
    val manifest = Files.readString(Paths.get(s"$dir/manifest.json"))
    assert(manifest.contains(""""id": "p", "row_count": 1"""))
    assert(manifest.contains(""""id": "c", "row_count": 1"""))
  }

  test("SqlWriter emits escaped INSERT statements from executors") {
    val stmts = SqlWriter.insertStatements(tables("p"), "p")
      .as[String].collect().sorted
    assert(stmts.length == 2)
    assert(stmts.head == "INSERT INTO p (pid, txt) VALUES (1, 'it''s');")
  }

  test("SqlWriter quotes zoneless timestamps like instants") {
    // parquet timestamps written without a zone (DuckDB's TIMESTAMP, the
    // test corpora's o_orderdate) read back as TimestampNTZType
    val df = spark.sql("SELECT 1 AS id, TIMESTAMP_NTZ '1998-08-03 04:05:06' AS ts")
    assert(SqlWriter.insertStatements(df, "t").as[String].head() ==
      "INSERT INTO t (id, ts) VALUES (1, TIMESTAMP '1998-08-03 04:05:06.000000');")
  }

  test("SqlWriter.write shards one text dir per table") {
    val dir = Files.createTempDirectory("sqlw").toString
    SqlWriter.write(result(), dir)
    val c = spark.read.text(s"$dir/sql/c").as[String].collect()
    assert(c.toSeq == Seq("INSERT INTO c (cid, pid) VALUES (10, 1);"))
  }

  test("RestoreWriter orders parents first and restores sequences") {
    val script = RestoreWriter.restoreScript(graph, Map("p" -> 2L, "c" -> 11L))
    val pIdx = script.indexOf("\\ir sql/p.sql")
    val cIdx = script.indexOf("\\ir sql/c.sql")
    assert(pIdx >= 0 && cIdx > pIdx, "parent restored before child")
    assert(script.contains("setval(pg_get_serial_sequence('c', 'cid'), 12, false)"))
    assert(script.startsWith("BEGIN;") && script.trim.endsWith("COMMIT;"))
  }

  test("RestoreWriter references only sliced tables, cycle note on own line") {
    val cyclic = SchemaGraph(
      tables = Seq(TableDef("p", Seq("pid")), TableDef("c", Seq("cid"))),
      references = Seq(
        Reference("cp", "c", Seq("pid"), "p", Seq("pid")),
        Reference("pc", "p", Seq("pid"), "c", Seq("cid"))))
    val script = RestoreWriter.restoreScript(cyclic, Map.empty, Set("p"))
    assert(script.contains("\\ir sql/p.sql\n"), "sliced table included")
    assert(!script.contains("sql/c.sql"), "unsliced table not referenced")
    // no trailing text after the \ir path (psql parses it as arguments)
    script.linesIterator.filter(_.startsWith("\\i")).foreach { l =>
      assert(l.matches("""\\ir \S+"""), s"clean \\ir line: $l")
    }
  }

  test("RestoreWriter execution options: no-transaction, disable-triggers, jobs guard") {
    // --no-transaction: no BEGIN/COMMIT wrapper
    val noTx = RestoreWriter.restoreScript(graph, Map.empty,
      transaction = false)
    assert(!noTx.contains("BEGIN;") && !noTx.contains("COMMIT;"))
    // --disable-triggers: load bracketed by DISABLE/ENABLE TRIGGER ALL
    val noTrig = RestoreWriter.restoreScript(graph, Map.empty,
      disableTriggers = true)
    val dis = noTrig.indexOf("ALTER TABLE p DISABLE TRIGGER ALL;")
    val load = noTrig.indexOf("\\ir sql/p.sql")
    val en = noTrig.indexOf("ALTER TABLE p ENABLE TRIGGER ALL;")
    assert(dis >= 0 && dis < load && load < en, "triggers off around the load")
    // jobs > 1 requires --no-transaction (reference restore.py:44-45)
    intercept[IllegalArgumentException] {
      RestoreWriter.restoreScript(graph, Map.empty, jobs = 4)
    }
    RestoreWriter.restoreScript(graph, Map.empty,
      transaction = false, jobs = 4) // valid combination
    // FK cycles can't defer without a transaction unless enforcement is off
    val cyclic = SchemaGraph(
      tables = Seq(TableDef("p", Seq("pid")), TableDef("c", Seq("cid"))),
      references = Seq(
        Reference("cp", "c", Seq("pid"), "p", Seq("pid")),
        Reference("pc", "p", Seq("pid"), "c", Seq("cid"))))
    intercept[IllegalArgumentException] {
      RestoreWriter.restoreScript(cyclic, Map.empty, transaction = false)
    }
    val cycNoTrig = RestoreWriter.restoreScript(cyclic, Map.empty,
      transaction = false, disableTriggers = true)
    assert(!cycNoTrig.contains("SET CONSTRAINTS"),
      "no deferral needed with enforcement disabled")
  }

  test("DdlWriter emits restorable pre/post-data schema sections") {
    val r = result()
    val pre = graft.sources.DdlWriter.preData(
      graph, t => r.rows(t).schema, r.keys.keySet)
    assert(pre.contains("CREATE TABLE p (\n  pid integer NOT NULL,\n  txt text\n);"), pre)
    assert(pre.indexOf("CREATE TABLE p") < pre.indexOf("CREATE TABLE c"),
      "parents created first")
    val post = graft.sources.DdlWriter.postData(graph, r.keys.keySet)
    assert(post.contains("ALTER TABLE p ADD PRIMARY KEY (pid);"))
    assert(post.contains(
      "ALTER TABLE c ADD CONSTRAINT cp FOREIGN KEY (pid) REFERENCES p (pid);"))
    // FK cycles become DEFERRABLE constraints (restore defers them)
    val cyclic = SchemaGraph(
      tables = Seq(TableDef("a", Seq("id")), TableDef("b", Seq("id"))),
      references = Seq(
        Reference("ab", "a", Seq("bid"), "b", Seq("id")),
        Reference("ba", "b", Seq("aid"), "a", Seq("id"))))
    val cycPost = graft.sources.DdlWriter.postData(cyclic, Set("a", "b"))
    assert(cycPost.contains("DEFERRABLE"), cycPost)
  }

  test("slice -> zip -> restore round-trip: manifest counts match the data") {
    val dir = Files.createTempDirectory("slicezrt").toString
    SliceWriter.write(result(), dir)
    // archive OUTSIDE the slice dir so the walk can't see the zip itself
    val zipPath = s"${Files.createTempDirectory("slicezip")}/slice.zip"
    SliceWriter.zip(dir, zipPath)
    val restored = graft.tools.SliceRestore.resolve(zipPath)
    assert(restored != dir, "a .zip input must unpack to a fresh directory")
    val checks = graft.tools.SliceRestore.validate(spark, restored)
    assert(checks.nonEmpty)
    checks.foreach { case (id, expected, actual) =>
      assert(expected == actual, s"$id: manifest=$expected data=$actual")
    }
  }

  test("restored slices are FK-closed: zero orphans along forward refs") {
    val dir = Files.createTempDirectory("slicefk").toString
    SliceWriter.write(result(), dir)
    val orphans = graft.tools.SliceRestore.validateRefs(spark, graph, dir)
    assert(orphans.nonEmpty)
    orphans.foreach { case (id, n) => assert(n == 0L, s"ref $id has $n orphans") }
  }

  test("SliceWriter.zip packages segments + manifest, skipping markers") {
    val dir = Files.createTempDirectory("slicez").toString
    SliceWriter.write(result(), dir, format = "csv")
    val zipPath = s"$dir/slice.zip"
    SliceWriter.zip(dir, zipPath)
    val zf = new java.util.zip.ZipFile(zipPath)
    try {
      val names = zf.entries().asIterator()
      val all = scala.jdk.CollectionConverters.IteratorHasAsScala(names)
        .asScala.map(_.getName).toSeq
      assert(all.contains("manifest.json"))
      assert(all.exists(_.startsWith("data/p/")), all.mkString(","))
      assert(!all.exists(_.contains("_SUCCESS")))
      assert(!all.exists(n => n.split("/").last.startsWith(".")))
    } finally zf.close()
  }

  test("Formats round-trips values through orc, csv, and json") {
    import graft.sources.Formats
    val df = Seq((1L, "it's, quoted", 2.5), (2L, "plain", -1.0))
      .toDF("id", "txt", "x")
    Seq("orc", "csv", "json").foreach { fmt =>
      val dir = Files.createTempDirectory(s"fmt_$fmt").toString
      Formats.write(df, dir, fmt)
      val back = Formats.read(spark, dir, fmt, Some(df.schema))
        .as[(Long, String, Double)].collect().sortBy(_._1)
      assert(back.toSeq == Seq((1L, "it's, quoted", 2.5), (2L, "plain", -1.0)), fmt)
    }
    intercept[IllegalArgumentException] { Formats.write(df, "/tmp/x", "avro") }
  }

  test("SliceWriter can emit ORC segments") {
    val dir = Files.createTempDirectory("slicew_orc").toString
    SliceWriter.write(result(), dir, format = "orc")
    assert(spark.read.orc(s"$dir/data/p").count() == 1)
  }

  test("SchemaConfig JSON roundtrips the graph") {
    val g2 = SchemaConfig.fromJson(SchemaConfig.toJson(graph))
    assert(g2 == graph)
    val fwd = SchemaConfig.fromJson(
      """{"tables": [{"id": "t", "key": ["k"]}],
         "references": [{"id": "r", "table": "t", "columns": ["k"],
                         "refTable": "t", "refColumns": ["k"],
                         "forward": true, "reverse": false}]}""")
    assert(fwd.references.head.reverse == false)
  }
}
