package graft

import org.apache.spark.sql.functions._

import graft.queries.Similarity

/** Teeth for the PQ reconstruction-error audit beyond the full oracle:
  * structural shape (one row per subspace, every sub-vector scored),
  * internal consistency, and the semantic floor — the deployed
  * codebook must beat the zero-vector codebook (distortion strictly
  * below raw sub-vector energy), else the quantizer learned nothing.
  */
class PqDistortionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("s_pq_distortion: 8 subspaces, full coverage, beats the zero codebook") {
    val got = Similarity.queries("s_pq_distortion")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == (0 until 8), "one row per subspace")
    val ns = got.map(_._2).distinct
    assert(ns.length == 1, s"unequal subspace coverage $ns")
    val emb = Tables.load(spark, dir, "embeddings").count()
    assert(ns.head == emb, "every vector scored in every subspace")
    for ((m, n, sum, mean) <- got) {
      assert(sum >= 0 && mean >= 0)
      assert(mean == sum / n, s"m=$m mean inconsistent")
    }
    // zero-codebook bar: raw per-(vec, subspace) energy floor(1e6*sum x^2),
    // averaged — the deployed quantizer must sit strictly below it
    val e = Tables.load(spark, dir, "embeddings")
    val energies = (0 until 8).map { m =>
      val terms = (1 to 8).map(i =>
        expr(s"element_at(embedding, ${m * 8 + i}) * element_at(embedding, ${m * 8 + i})"))
      e.select(floor(terms.reduceLeft(_ + _) * lit(1000000.0)).cast("long").as("en"))
        .agg(avg("en")).collect()(0).getDouble(0)
    }
    for ((m, _, _, mean) <- got)
      assert(mean < energies(m), s"m=$m distortion $mean >= energy ${energies(m)}")
  }

  test("Lloyd keeps a code no sub-vector picks: duplicate trainer sub-vectors stay unragged") {
    import spark.implicits._
    // codes 0 and 1 share their subspace-0 sub-vector, so every tie there
    // goes to code 0 and code 1 gets no assignees in subspace 0 only;
    // dropping it would leave banks of 2 and 3 codes
    val cb0 = Seq(
      (0, 0, Seq(0.0, 0.0)), (0, 1, Seq(0.0, 0.0)), (0, 2, Seq(10.0, 10.0)),
      (1, 0, Seq(0.0, 0.0)), (1, 1, Seq(5.0, 5.0)), (1, 2, Seq(10.0, 10.0)))
      .toDF("m", "code", "csub")
    val ex = Seq(
      (1L, 0, Seq(0.0, 1.0)), (2L, 0, Seq(1.0, 0.0)), (3L, 0, Seq(10.0, 9.0)), (4L, 0, Seq(9.0, 10.0)),
      (1L, 1, Seq(0.0, 1.0)), (2L, 1, Seq(5.0, 6.0)), (3L, 1, Seq(10.0, 9.0)), (4L, 1, Seq(6.0, 5.0)))
      .toDF("vec_id", "m", "xsub")
    val cb = Similarity.pqLloyd(ex, cb0, 2).as[(Int, Int, Seq[Double])].collect()
      .map { case (m, code, csub) => (m, code) -> csub }.toMap
    assert(cb.keySet == (for (m <- 0 to 1; c <- 0 to 2) yield (m, c)).toSet, "a bank lost a code")
    assert(cb((0, 1)) == Seq(0.0, 0.0), "an empty code keeps its previous centroid")
    assert(cb((0, 0)) == Seq(0.5, 0.5) && cb((1, 1)) == Seq(5.5, 5.5), "assigned codes move to their means")
  }
}
