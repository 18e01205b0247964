package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS distance labeling over an undirected graph — the
  * proximity-to-seed primitive of curation (how many hops is each
  * document from a trusted seed set) and of graph diagnostics
  * (eccentricity/diameter bounds). Synchronous frontier expansion:
  * round t labels every unvisited neighbor of the round t-1 frontier
  * with distance t, so the labeling is deterministic whatever the
  * execution order. Unreached nodes label -1 (the output is total).
  *
  * Per round: one semi-join gating edges to the frontier + one
  * anti-join against the visited set — O(rounds · edges). Each
  * round's fresh layer localCheckpoints; the visited set stays a FLAT
  * union of those cached layers (never re-materialized — re-caching
  * the growing union each round is the quadratic trap KcorePeel
  * documents). Early exit when a round discovers nothing. Every
  * persisted or checkpointed frame is kept under the caller's scope.
  */
object SeedBfs {

  /** @param und distinct canonical undirected edges (u &lt; w).
    * @param seedPred predicate over vec_id selecting the seed nodes.
    * @param maxRounds expansion bound (graph eccentricity from the
    *   seeds is below it at gate scales; beyond-bound nodes label -1).
    * @param scope [[graft.CacheBook]] scope that frees the loop's frames.
    * @return (vec_id, dist) for every node in an edge; dist -1 =
    *   unreached. */
  def run(und: DataFrame, seedPred: org.apache.spark.sql.Column,
      maxRounds: Int, scope: String): DataFrame =
    graft.Profiles.narrow(und.sparkSession) {
      val keep = graft.CacheBook.keep(und.sparkSession, scope) _
      val edges = TriangleCount.bidirectional(und, scope)
      val nodes = edges.select(col("src").as("vec_id")).distinct()
      val seed = keep(nodes.filter(seedPred)
        .select(col("vec_id"), lit(0).cast("int").as("dist"))
        .localCheckpoint(true))
      var layers = List(seed)
      var frontier = seed
      var t = 1
      var done = false
      while (t <= maxRounds && !done) {
        val visited = layers.reduce(_ unionByName _).select("vec_id")
        // LAZY checkpoint: the count below is the materializing action
        // AND the emptiness probe — one job per round, not two (the
        // ConnectedComponents lblSum fold).
        val nxt = keep(edges
          .join(frontier.withColumnRenamed("vec_id", "src").select("src"),
            Seq("src"), "left_semi")
          .select(col("nbr").as("vec_id")).distinct()
          .join(visited, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), lit(t).cast("int").as("dist"))
          .localCheckpoint(false))
        if (nxt.count() == 0L) { done = true }
        else { layers ::= nxt; frontier = nxt; t += 1 }
      }
      val visited = layers.reduce(_ unionByName _)
      val unreached = nodes.join(visited.select("vec_id"), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), lit(-1).cast("int").as("dist"))
      visited.unionByName(unreached)
    }
}
