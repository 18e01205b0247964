package graft

import org.apache.spark.sql.DataFrame

import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap

  private def starLabelsOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.runStars(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap

  test("chain collapses to its minimum id") {
    // 1-2-3-4-5: worst case for propagation (diameter rounds)
    val m = labelsOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("separate components keep separate labels; cycles terminate") {
    val m = labelsOf(Seq(
      (10L, 11L), (11L, 12L), (12L, 10L), // triangle (cycle)
      (20L, 21L),                         // pair
      (30L, 31L), (32L, 31L)))            // star centered off-min
    assert(m(10L) == 10L && m(11L) == 10L && m(12L) == 10L)
    assert(m(20L) == 20L && m(21L) == 20L)
    assert(m(30L) == 30L && m(31L) == 30L && m(32L) == 30L)
  }

  test("edge direction does not matter") {
    assert(labelsOf(Seq((5L, 1L), (1L, 3L))) == Map(1L -> 1L, 3L -> 1L, 5L -> 1L))
  }

  test("matches union-find on random graphs") {
    val rnd = new scala.util.Random(42) // fixed seed: deterministic test
    (1 to 4).foreach { trial =>
      val n = 20 + rnd.nextInt(30)
      val edges = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
      // reference: plain union-find with min-root bookkeeping
      val parent = collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = nodes.map { v =>
        val root = find(v)
        v -> nodes.filter(find(_) == root).min
      }.toMap
      assert(labelsOf(edges) == expect, s"trial $trial, edges $edges")
    }
  }

  test("large-star/small-star agrees with min-label on every shape") {
    // the O(log n)-round scale path must produce identical labels:
    // chain (its winning case), cycle, star, pair, and random graphs
    val cases: Seq[Seq[(Long, Long)]] = Seq(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L)),
      Seq((10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L), (30L, 31L), (32L, 31L)),
      Seq((5L, 1L), (1L, 3L)))
    cases.foreach { edges =>
      assert(starLabelsOf(edges) == labelsOf(edges), s"case $edges")
    }
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val edges = Seq.fill(25)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
      assert(starLabelsOf(edges) == labelsOf(edges), s"trial $trial: $edges")
    }
  }

  test("incremental labels equal from-scratch labels on random graphs") {
    // nightly-ingest contract: nodes >= t are the "new batch"; old
    // labels come from the both-old edge set, the delta is every edge
    // with a new endpoint, and the extended labeling must equal a
    // from-scratch run over the full edge set — including the hard
    // cases (new edge bridging two old components; old components
    // untouched by the batch; components made entirely of new nodes)
    val rnd = new scala.util.Random(11)
    (1 to 4).foreach { trial =>
      val edges = Seq.fill(40)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }.distinct
      val t = 35L
      val oldEdges = edges.filter { case (a, b) => a < t && b < t }
      val newEdges = edges.filter { case (a, b) => a >= t || b >= t }
      val oldLabels = ConnectedComponents.run(oldEdges.toDF("a", "b"))
      val inc = ConnectedComponents
        .runIncremental(oldLabels, newEdges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(inc == labelsOf(edges), s"trial $trial, edges $edges")
    }
  }

  test("incremental with an empty batch returns the old labels unchanged") {
    val oldLabels = ConnectedComponents.run(Seq((1L, 2L), (4L, 5L)).toDF("a", "b"))
    val inc = ConnectedComponents
      .runIncremental(oldLabels, Seq.empty[(Long, Long)].toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("star contraction converges in logarithmic rounds on a long chain") {
    // 64-node path: min-label needs ~diameter (63) rounds; star
    // contraction must finish well inside maxIter = 12
    val chain = (1L until 64L).map(i => (i, i + 1))
    val m = ConnectedComponents.runStars(chain.toDF("a", "b"), maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(m.size == 64 && m.values.forall(_ == 1L))
  }

  test("run and runStars leave no cached frame behind once the labels are freed") {
    // every frame a run persists is freed before it returns, except the
    // labels' own checkpoint (CacheBookSpec.held reads the same map)
    def leftBehind(cc: DataFrame => DataFrame): Set[Int] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val labels = cc(Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 7L)).toDF("a", "b"))
      assert(labels.count() == 6L)
      CacheBook.unpersistCheckpoint(labels)
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    assert(leftBehind(ConnectedComponents.run(_)).isEmpty, "run")
    assert(leftBehind(ConnectedComponents.runStars(_)).isEmpty, "runStars")
  }
}
