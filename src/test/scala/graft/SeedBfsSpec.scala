package graft

import org.apache.spark.sql.functions._

import graft.operators.{SeedBfs, TriangleCount}
import graft.queries.Similarity

/** s_seed_dist: the BFS labeling pinned on a hand graph whose
  * distances (and an unreachable component) are known by inspection,
  * and by naive multi-source BFS over the real sf0.001 KNN graph. */
class SeedBfsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("hand graph labels hops and marks the disconnected component -1") {
    import spark.implicits._
    // seeds {0, 1}; chain 1-2-3; 0-4; island {10, 11}
    val edges = Seq((0L, 4L), (1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("src", "nbr")
    val got = SeedBfs.run(TriangleCount.canonical(edges), col("vec_id") < 2, 9, "t_bfs")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    CacheBook.release(spark, "t_bfs")
    assert(got == Map(0L -> 0, 1L -> 0, 4L -> 1, 2L -> 1, 3L -> 2,
      10L -> -1, 11L -> -1))
  }

  test("query equals naive multi-source BFS on the real KNN graph") {
    val knn = Similarity.queries("s_knn_graph")(spark, dir)
      .select("src", "nbr").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    for ((a, b) <- knn if a != b) {
      adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
    }
    val dist = collection.mutable.Map.empty[Long, Int]
    adj.keys.filter(_ < Similarity.NQueries).foreach(dist(_) = 0)
    var frontier = dist.keySet.toSet
    var t = 1
    while (frontier.nonEmpty) {
      val nxt = frontier.flatMap(adj(_)).filterNot(dist.contains)
      nxt.foreach(dist(_) = t)
      frontier = nxt; t += 1
    }
    val expected = adj.keys.map(v => v -> dist.getOrElse(v, -1)).toMap

    val got = Similarity.queries("s_seed_dist")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.length == expected.size)
    val sizes = expected.values.groupBy(identity)
      .map { case (d, g) => d -> g.size.toLong }
    for ((id, d, n) <- got) {
      assert(d == expected(id), s"node $id: dist $d != naive ${expected(id)}")
      assert(n == sizes(d), s"dist $d: size $n != naive ${sizes(d)}")
    }
    assert(sizes.keys.toSet.size >= 4, s"degenerate distance profile: $sizes")
  }
}
