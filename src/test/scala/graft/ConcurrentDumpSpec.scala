package graft

import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ScrubConfig
import graft.operators.{SliceRoot, Slicer}
import graft.plans.{Reference, SchemaGraph, TableDef}
import graft.sources.{Formats, SliceWriter, SqlWriter}
import graft.tools.RestoreExecutor

/** The dump and restore paths that run their per-table actions
  * concurrently on [[Par]]: same output as one table at a time, a
  * failed table leaves no manifest, and a restore that creates its own
  * tables loads them side by side and still ends constrained. Also the
  * DDL-from-scrubbed-schema fix: a scrub that changes column types must
  * restore into the tables its own schema section creates. */
class ConcurrentDumpSpec extends SparkSpec {
  import spark.implicits._

  /** A 3-deep FK chain a <- b <- c. */
  private val chain = SchemaGraph(
    tables = Seq(TableDef("a", Seq("aid")), TableDef("b", Seq("bid")),
      TableDef("c", Seq("cid"))),
    references = Seq(
      Reference("ba", "b", Seq("aid"), "a", Seq("aid")),
      Reference("cb", "c", Seq("bid"), "b", Seq("bid"))))

  private lazy val chainTables: Map[String, DataFrame] = Map(
    "a" -> (1 to 6).map(i => (i, s"a-$i", i * 1.5)).toDF("aid", "name", "score"),
    "b" -> (1 to 18).map(i => (100 + i, 1 + i % 6, s"b'$i")).toDF("bid", "aid", "note"),
    "c" -> (1 to 54).map(i => (1000 + i, 101 + i % 18,
      java.sql.Timestamp.valueOf(f"2021-${1 + i % 12}%02d-${1 + i % 28}%02d 10:00:00")))
      .toDF("cid", "bid", "ts"))

  private def slice() = {
    val ts = chainTables // forced first: discovery reads SparkSession.active
    new Slicer(chain, ts(_)).run(Seq(SliceRoot("a", "aid IN (1, 2, 3, 4, 5, 6)")))
  }

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private val shout: (String, DataFrame) => DataFrame = {
    case ("a", df) => df.withColumn("name", upper(col("name")))
    case (_, df)   => df
  }

  test("concurrent SliceWriter and SqlWriter output equals a sequential reference") {
    val res = slice()
    val dir = tmp("par-dump")
    SliceWriter.write(res, dir, shout)
    SqlWriter.write(res, dir, shout)
    val ref = tmp("seq-dump")
    res.allRows.toSeq.sortBy(_._1).foreach { case (t, df) =>
      Formats.write(shout(t, df), s"$ref/data/$t")
      SqlWriter.insertStatements(shout(t, df), t).write.text(s"$ref/sql/$t")
    }
    assert(res.keys.keySet == Set("a", "b", "c"))
    res.keys.keySet.foreach { t =>
      val got = spark.read.parquet(s"$dir/data/$t").collect().map(_.toString).sorted
      val want = spark.read.parquet(s"$ref/data/$t").collect().map(_.toString).sorted
      assert(got.nonEmpty && got.sameElements(want), s"parquet $t")
      val gotSql = spark.read.text(s"$dir/sql/$t").as[String].collect().sorted
      val wantSql = spark.read.text(s"$ref/sql/$t").as[String].collect().sorted
      assert(gotSql.nonEmpty && gotSql.sameElements(wantSql), s"sql $t")
    }
    val manifest = RestoreExecutor.readManifest(dir).map(m => m._1 -> m._2).toMap
    assert(manifest == Map("a" -> 6L, "b" -> 18L, "c" -> 54L))
  }

  test("a scrub that throws on one table fails write with that error, no manifest") {
    val res = slice()
    val dir = tmp("par-fail")
    val boom = new IllegalStateException("scrub failed on b")
    val e = intercept[IllegalStateException] {
      SliceWriter.write(res, dir, (t, df) => if (t == "b") throw boom else df)
    }
    assert(e eq boom)
    assert(!Files.exists(Paths.get(dir, "manifest.json")))
  }

  test("includeSchema restore of a 3-deep FK chain loads tables side by side, " +
      "then installs the post-data FKs") {
    val res = slice()
    val dir = tmp("par-restore")
    SliceWriter.write(res, dir)
    SliceWriter.writeSchema(res, chain, dir)
    val url = s"jdbc:derby:memory:parRestore${System.nanoTime()};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val loads = RestoreExecutor(spark, chain, dir, url, props, jobs = 3,
      includeSchema = true, ddlDialect = derby)
    assert(loads.map(_.table).sorted == Seq("a", "b", "c"))
    val ev = loads.flatMap(l => Seq((l.startNanos, 1), (l.endNanos, -1))).sortBy(e => (e._1, e._2))
    val peak = ev.scanLeft(0)(_ + _._2).max
    assert(peak > 1, s"loads ran one at a time: $loads")
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    try {
      Seq("a" -> 6, "b" -> 18, "c" -> 54).foreach { case (t, n) =>
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next()
        assert(rs.getLong(1) == n, t)
      }
      // post-data's FKs hold after the loads: orphans are rejected
      intercept[java.sql.SQLException](st.execute("INSERT INTO b VALUES (999, 42, 'x')"))
      intercept[java.sql.SQLException](
        st.execute("INSERT INTO c VALUES (9999, 42, TIMESTAMP('2021-01-01 00:00:00'))"))
    } finally { st.close(); conn.close() }
  }

  test("a type-changing scrub (date_year, null) restores with includeSchema into Derby") {
    val res = slice()
    val dir = tmp("par-scrubbed")
    val scrub = ScrubConfig.fromJson(
      """{"tables": {"a": {"score": "null"}, "c": {"ts": "date_year"}}}""")
    SliceWriter.write(res, dir, scrub.apply)
    SliceWriter.writeSchema(res, chain, dir, scrub.apply)
    val url = s"jdbc:derby:memory:parScrubbed${System.nanoTime()};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    // Spark binds a null string as a CLOB on Derby, so text maps to CLOB
    // here; with DDL from the unscrubbed schema `score` would be a DOUBLE
    // and its load would fail
    RestoreExecutor(spark, chain, dir, url, props, jobs = 3,
      includeSchema = true, ddlDialect = derby.andThen(_.replace("VARCHAR(128)", "CLOB")))
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    try {
      def typeOf(t: String, c: String) = {
        val rs = conn.getMetaData.getColumns(null, null, t.toUpperCase, c.toUpperCase)
        assert(rs.next(), s"$t.$c missing")
        rs.getInt("DATA_TYPE")
      }
      assert(typeOf("a", "score") == java.sql.Types.CLOB)
      assert(typeOf("c", "ts") == java.sql.Types.DATE)
      val rs = st.executeQuery("SELECT COUNT(*) FROM a WHERE score IS NULL")
      rs.next()
      assert(rs.getLong(1) == 6)
      val years = st.executeQuery("SELECT DISTINCT YEAR(ts) FROM c")
      assert(years.next() && years.getInt(1) == 2021 && !years.next())
    } finally { st.close(); conn.close() }
  }

  private val derby: String => String = _.replace(" text", " VARCHAR(128)")
    .replace(" timestamptz", " TIMESTAMP")
    .replace(" DEFERRABLE INITIALLY IMMEDIATE", "")
}
