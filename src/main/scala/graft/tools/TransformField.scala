package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Transforms

/** Single-value scrub surface — analog of the reference's
  * `slicedb transform-field` (slice_db/cli/transform_field.py): apply a
  * named transform to one value from the command line.
  *
  * Usage: TransformField <transform> <value> [--pepper <secret>]
  */
object TransformField {
  /** The shared registry, with string-typed input handling for the CLI
    * (date_year takes a 'yyyy-MM-dd' string here). */
  val transforms: Map[String, Column => Column] =
    Transforms.byName + ("date_year" ->
      ((c: Column) => Transforms.dateYear(c.cast("timestamp")).cast("string")))

  def main(args: Array[String]): Unit = {
    // flag first: the pepper must be in place before the transform
    // Column is built (reference parity: pepper is a dump argument,
    // cli/main.py, not only an environment fact)
    val pi = args.indexOf("--pepper")
    val rest = if (pi >= 0) {
      require(pi + 1 < args.length, "--pepper requires a value")
      Transforms.setPepper(args(pi + 1))
      args.take(pi) ++ args.drop(pi + 2)
    } else args
    val Array(name, value) = rest.take(2)
    val f = transforms.getOrElse(name,
      sys.error(s"unknown transform '$name'; one of ${transforms.keys.toSeq.sorted.mkString(", ")}"))
    graft.Sessions.run { spark =>
      import spark.implicits._
      println(Seq(value).toDF("v").select(f(col("v")).cast("string")).as[String].head())
    }
  }
}
