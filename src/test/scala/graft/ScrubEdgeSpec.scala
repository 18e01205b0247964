package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Transforms

/** Edge inputs for every pepper-keyed scrub in [[Transforms.knownNames]]:
  * a null stays null, the empty string and non-ASCII text (accented
  * Latin, CJK, an emoji outside the BMP) scrub deterministically, and
  * the pepper actually keys the output. A new pepper-keyed transform is
  * covered as soon as it is registered. */
class ScrubEdgeSpec extends SparkSpec {

  /** Registered names whose output does not depend on the pepper. */
  private val pepperFree = Set("null", "replace", "const")

  /** date_year reads its input as a date, every other name as text. */
  private def input(name: String, v: Column): Column =
    if (name == "date_year") to_date(v) else v

  private val names = Transforms.knownNames.filterNot(pepperFree)
  private val edge = Seq("", "Zoë", "東京", "😀 party")

  /** One row per value: the scrubbed output as a string. */
  private def scrub(name: String, values: Seq[String]): Seq[String] = {
    import spark.implicits._
    values.map(Option(_)).toDF("v")
      .select(Transforms.byName(name)(input(name, col("v"))).cast("string"))
      .as[String].collect().toSeq
  }

  test("the pepper-keyed registry is non-empty and excludes the pepper-free names") {
    assert(names.contains("alphanum") && names.contains("given_name"))
    assert(!names.exists(pepperFree))
  }

  test("null in gives null out for every pepper-keyed scrub") {
    for (n <- names) assert(scrub(n, Seq(null)) == Seq(null), s"$n on null")
  }

  test("empty and non-ASCII inputs scrub the same way on two calls") {
    for (n <- names if n != "date_year") {
      val first = scrub(n, edge)
      assert(first == scrub(n, edge), s"$n is not deterministic on $edge")
    }
    val dates = Seq("2021-03-04", "1999-12-31")
    assert(scrub("date_year", dates) == scrub("date_year", dates))
  }

  test("two peppers give different outputs for a non-empty input") {
    def under(p: String, n: String, v: String): String =
      try { Transforms.setPepper(p); scrub(n, Seq(v)).head }
      finally Transforms.resetPepper()
    for (n <- names) {
      val v = if (n == "date_year") "2021-03-04" else "Zoë Street 42"
      assert(under("pepper-a", n, v) != under("pepper-b", n, v),
        s"$n ignores the pepper on '$v'")
    }
  }
}
