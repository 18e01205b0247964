package graft

import org.apache.spark.sql.functions._

import graft.operators.{KcorePeel, TriangleCount}
import graft.queries.Similarity

/** s_kcore_peel: the synchronous peel trajectory pinned two ways — a
  * hand graph whose cascade is known by inspection (a 4-core clique
  * survives at layer 0; a pendant chain peels in round 1; a bridge
  * node loses its chain support and cascades in round 2), and a naive
  * in-JVM synchronous peel over the real sf0.001 KNN graph. */
class KcorePeelSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("hand graph peels in the known cascade order") {
    import spark.implicits._
    // clique {1..5} (alive-degree >= 4 forever), chain {10, 11}
    // (degree <= 2 -> round 1), bridge 20 wired to 1,2,3 and 10
    // (degree 4 -> survives round 1; chain gone -> round 2)
    val cliqueEdges = for {
      a <- 1L to 5L; b <- 1L to 5L if a < b
    } yield (a, b)
    val edges = (cliqueEdges ++ Seq((10L, 11L), (20L, 1L), (20L, 2L),
      (20L, 3L), (20L, 10L))).toDF("src", "nbr")
    val got = KcorePeel.run(TriangleCount.canonical(edges), 4, 10, "t_kcore")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    CacheBook.release(spark, "t_kcore")
    val expected = (1L to 5L).map(_ -> 0).toMap ++
      Map(10L -> 1, 11L -> 1, 20L -> 2)
    assert(got == expected)
  }

  test("query equals a naive synchronous peel of the real KNN graph") {
    val knn = Similarity.queries("s_knn_graph")(spark, dir)
      .select("src", "nbr").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    for ((a, b) <- knn if a != b) {
      adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
    }
    var alive = adj.keySet.toSet
    val layer = collection.mutable.Map.empty[Long, Int]
    var t = 1
    var done = false
    while (!done && t <= 10) {
      val dead = alive.filter(v => adj(v).count(alive) < 4)
      if (dead.isEmpty) done = true
      else { dead.foreach(layer(_) = t); alive = alive -- dead; t += 1 }
    }
    alive.foreach(layer(_) = 0)

    val got = Similarity.queries("s_kcore_peel")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.length == layer.size)
    val sizes = layer.values.groupBy(identity).map { case (l, g) => (l, g.size.toLong) }
    for ((id, l, sz) <- got) {
      assert(l == layer(id), s"node $id: layer $l != naive ${layer(id)}")
      assert(sz == sizes(l), s"layer $l: size $sz != naive ${sizes(l)}")
    }
    // the trajectory has teeth: multiple populated layers, not one blob
    assert(sizes.keys.toSet.size >= 3, s"degenerate layering: $sizes")
  }
}
