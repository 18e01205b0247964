package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NearestCentroids, VecOps}

/** The constant-bank nearest-centroid expression must equal the
  * broadcast-join + row_number window idiom it replaced, row for row —
  * including tie-breaks and Spark's SQL double ordering. Randomized
  * vectors with planted exact ties; all three metrics. */
class NearestCentroidsSpec extends SparkSpec {

  private val rnd = new scala.util.Random(421)
  private def vec(dim: Int): Array[Double] =
    Array.fill(dim)(math.floor(rnd.nextDouble() * 8) / 4 - 1.0) // coarse grid → real ties

  test("cosine argmax + top-N == window ranking on random vectors with ties") {
    import spark.implicits._
    val dim = 8
    val vs = (0 until 200).map(i => (i.toLong, vec(dim))).toDF("vec_id", "v")
      .withColumn("n", sqrt(VecOps.dot(col("v"), col("v"))))
      .withColumn("label", col("vec_id") % 3)
      // zero vectors excluded (cosine undefined); assignment callers
      // never see them
      .filter(col("n") > 0)
    val centRows = (0 until 17).map(i => (100 + i.toLong, vec(dim)))
    val cents = centRows.toDF("cid", "cv")
      .withColumn("cn", sqrt(VecOps.dot(col("cv"), col("cv"))))
      .filter(col("cn") > 0)
    val bank = NearestCentroids.cosineBank(
      cents.collect().toSeq.map(r =>
        (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))))
    for (topN <- Seq(1, 3)) {
      val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid").asc)
      val expected = vs.join(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          VecOps.cosine(col("v"), col("cv"), col("n"), col("cn")).as("ccos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= topN)
        .select("vec_id", "rn", "cid")
        .as[(Long, Int, Long)].collect().toSet
      val got = vs.select(col("vec_id"),
          posexplode(NearestCentroids.nearest(bank, col("v"), topN, col("n"))))
        .select(col("vec_id"), (col("pos") + 1).as("rn"), col("col").as("cid"))
        .as[(Long, Int, Long)].collect().toSet
      assert(got == expected, s"topN=$topN")
    }
  }

  test("raw-dot argmax == window ranking (token-assignment metric)") {
    import spark.implicits._
    val vs = (0 until 150).map(i => (i.toLong, vec(8))).toDF("vec_id", "tv")
    val centRows = (0 until 13).map(i => (50 + i.toLong, vec(8)))
    val cents = centRows.toDF("cid", "cv")
    val bank = NearestCentroids.dotBank(
      centRows.map { case (cid, cv) => (cid, cv) })
    val w = Window.partitionBy("vec_id").orderBy(col("cdot").desc, col("cid").asc)
    val expected = vs.join(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        VecOps.dot(col("tv"), col("cv")).as("cdot"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vec_id", "cid").as[(Long, Long)].collect().toSet
    val got = vs.select(col("vec_id"),
        element_at(NearestCentroids.nearest(bank, col("tv"), 1), 1).as("cid"))
      .as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("multi-bank L2 argmin == per-bank window ranking (PQ encode metric)") {
    import spark.implicits._
    val banks = 4
    val rows = for (m <- 0 until banks; c <- 0 until 6)
      yield (m, c.toLong, vec(8))
    val cb = rows.toDF("m", "code", "csub")
    val bank = NearestCentroids.l2Banks(rows)
    val vs = (0 until 120).map(i => (i.toLong, i % banks, vec(8)))
      .toDF("vec_id", "m", "xsub")
    def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      (1 to 8).map { i =>
        val d = element_at(a, i) - element_at(b, i); d * d
      }.reduceLeft(_ + _)
    val w = Window.partitionBy("vec_id", "m").orderBy(col("l2").asc, col("code").asc)
    val expected = vs.join(cb, "m")
      .select(col("vec_id"), col("m"), col("code"),
        l2(col("xsub"), col("csub")).as("l2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vec_id", "m", "code").as[(Long, Int, Long)].collect().toSet
    val got = vs.select(col("vec_id"), col("m"),
        element_at(NearestCentroids.nearest(
          bank, col("xsub"), 1, lit(1.0), col("m")), 1).as("code"))
      .as[(Long, Int, Long)].collect().toSet
    assert(got == expected)
  }

  test("interpreted eval == codegen eval (bank rides a reference object)") {
    // the expression evaluates identically whether Janino compiled the
    // projection or Catalyst fell back to interpreted mode
    val bank = NearestCentroids.cosineBank(
      Seq((1L, Array(1.0, 0.0), 1.0), (2L, Array(0.0, 1.0), 1.0),
        (3L, Array(1.0, 1.0), math.sqrt(2.0))))
    val v = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array(0.6, 0.8))
    val got = bank.nearest(v, 1.0, 0, 3).toLongArray()
    // cosines: 0.6, 0.8, 1.4/sqrt(2)≈0.9899 → order 3, 2, 1
    assert(got.toSeq == Seq(3L, 2L, 1L))
  }

  test("a bank selector outside the codebook fails loudly") {
    val bank = NearestCentroids.l2Banks(Seq((0, 0L, Array(0.0)), (1, 0L, Array(1.0))))
    val v = new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](0.5))
    assert(bank.nearest(v, 1.0, 1, 1).toLongArray().toSeq == Seq(0L))
    intercept[IllegalArgumentException](bank.nearest(v, 1.0, 2, 1))
    intercept[IllegalArgumentException](bank.nearest(v, 1.0, -1, 1))
  }
}
