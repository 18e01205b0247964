package graft

/** LabelProp teeth on graphs with known-by-hand dynamics plus a naive
  * in-JVM reference on random graphs — the gate corpus exercises only
  * whatever communities the KNN graph happens to form, so the majority
  * rule, min-label tie-break, and synchronous (everyone-updates-from-
  * the-same-snapshot) semantics are pinned here.
  */
class LabelPropSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{LabelProp, TriangleCount}

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val got = LabelProp.run(
        TriangleCount.canonical(edges.toDF("src", "nbr")), iters, "t_lpa")
      .as[(Long, Long)].collect().toMap
    CacheBook.release(spark, "t_lpa")
    got
  }

  /** Naive synchronous LPA: same majority/count-desc/min-label rule. */
  private def naive(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    var lab = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      lab = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(lab).view.mapValues(_.size).toMap
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lab
  }

  test("two triangles joined by a bridge form two communities") {
    // 1-2-3 and 4-5-6 triangles, bridge 3-4: each triangle's majority
    // is its own min label within a round or two
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L))
    val got = run(g, 3)
    assert(got == naive(g, 3))
    assert(Set(got(1L), got(2L)).size == 1 && got(1L) != got(5L),
      s"triangles did not separate: $got")
  }

  test("synchronous update reads the previous snapshot, not in-round updates") {
    // star 1-(2,3,4): after round 1 the center takes min leaf label
    // while every leaf takes the center's OLD label simultaneously
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    assert(run(g, 1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("distributed == naive on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 20 + trial * 10
      val g = Seq.fill(n * 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(run(g, 3) == naive(g, 3), s"trial $trial diverged")
    }
  }
}
