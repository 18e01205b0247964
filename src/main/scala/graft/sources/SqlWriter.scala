package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.SliceResult

/** SQL-script sink: one INSERT statement per row — the analog of the
  * reference's sql output format (slice_db/dump.py:302-327).
  *
  * Statement text is built by Column expressions, so formatting runs ON
  * THE EXECUTORS inside codegen and the script shards into one text
  * file per partition — the driver never sees a row. (The reference
  * streams through a single process; this shape is what survives 100 TB.)
  */
object SqlWriter {

  /** SQL literal for one column, by type. */
  private def literal(f: StructField): Column = {
    val c = col(f.name)
    val lit0: Column = f.dataType match {
      case StringType =>
        concat(lit("'"), regexp_replace(c, "'", "''"), lit("'"))
      case TimestampType | TimestampNTZType =>
        concat(lit("TIMESTAMP '"), date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"), lit("'"))
      case DateType =>
        concat(lit("DATE '"), date_format(c, "yyyy-MM-dd"), lit("'"))
      case BinaryType =>
        concat(lit("'\\x"), hex(c), lit("'"))
      case _ => c.cast("string")
    }
    coalesce(lit0, lit("NULL"))
  }

  /** One INSERT statement per row, as a single string column `stmt`. */
  def insertStatements(df: DataFrame, table: String): DataFrame = {
    val cols = df.schema.fields
    val head = s"INSERT INTO $table (${cols.map(_.name).mkString(", ")}) VALUES ("
    val parts: Seq[Column] =
      lit(head) +: cols.zipWithIndex.flatMap { case (f, i) =>
        (if (i == 0) Nil else Seq(lit(", "))) :+ literal(f)
      }.toSeq :+ lit(");")
    df.select(concat(parts: _*).as("stmt"))
  }

  /** Write `df`'s INSERT statements to `<outDir>/sql/<table>/`, one
    * part file per partition, in one job. psql cannot include a
    * directory, so the script restore.sql includes is the index
    * `<outDir>/sql/<table>.sql`: one `\ir <table>/<part>` line per part
    * file, in sorted order, written on the driver. `\ir` resolves from
    * the including file's directory, so the slice restores from any
    * working directory and after it is moved or unzipped. */
  def writeTable(df: DataFrame, table: String, outDir: String): Unit = {
    insertStatements(df, table).write.mode("overwrite").text(s"$outDir/sql/$table")
    val listing = Files.list(Paths.get(outDir, "sql", table))
    val parts = try listing.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toSeq.sorted
    finally listing.close()
    Files.writeString(Paths.get(outDir, "sql", s"$table.sql"),
      parts.map(p => s"\\ir $table/$p\n").mkString)
    ()
  }

  /** [[writeTable]] for every table of the slice. The tables write
    * concurrently on [[graft.Par]] (up to the context's
    * `defaultParallelism` at once); each table is still one job. */
  def write(result: SliceResult, outDir: String,
      scrub: (String, DataFrame) => DataFrame = (_, df) => df): Unit = {
    val rows = result.allRows
    graft.Par.each(rows.keys.toSeq.sorted) { table =>
      writeTable(scrub(table, rows(table)), table, outDir)
    }
  }
}
