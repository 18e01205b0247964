package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Onion-layer decomposition by synchronous k-core peeling (Batagelj/
  * Zaversnik flavor): each round simultaneously removes every node
  * whose degree among the still-alive nodes is below k; a node's
  * peel_layer is the round that removed it (0 = survived every
  * round — the k-core). Synchronous removal makes the trajectory
  * deterministic — one exact answer, reproducible cross-engine — and
  * the layer number is the node's "peripherality" in the graph (the
  * distributed analog of coreness ordering).
  *
  * Per round: two semi-joins gating the edge list to alive endpoints,
  * one degree count, and ONE localCheckpoint of the (vec_id, deg)
  * status frame — dead, surviving, and layer rows are all cheap
  * filters over that cached frame, so a round costs exactly two jobs
  * (materialize + empty-probe) whatever the round number; the final
  * result unions per-round filters whose lineage roots at the
  * checkpoints (accumulating and re-caching a growing layer table
  * every round would be quadratic in rounds — measured 10x this
  * design's cost). O(rounds · edges) total; early exit at fixpoint.
  * Every checkpointed or persisted frame is kept under the caller's
  * scope (cache scope is a session concern).
  */
object KcorePeel {

  /** @param und distinct canonical undirected edges (u &lt; w) — see
    *   [[TriangleCount.canonical]].
    * @param k degree threshold for survival.
    * @param maxRounds peel-round bound (fixpoint at gate scales is
    *   spec-held; a truncated run labels the not-yet-peeled alive set
    *   layer 0).
    * @param scope [[graft.CacheBook]] scope that frees the loop's frames.
    * @return (vec_id, peel_layer) for every node in an edge. */
  def run(und: DataFrame, k: Int, maxRounds: Int,
      scope: String): DataFrame =
    graft.Profiles.narrow(und.sparkSession) {
      val edges = TriangleCount.bidirectional(und, scope)
      var alive = edges.select(col("src").as("vec_id")).distinct()
      var layerFrames = List.empty[DataFrame]
      var t = 1
      var done = false
      while (t <= maxRounds && !done) {
        val deg = edges
          .join(alive.withColumnRenamed("vec_id", "src"), Seq("src"), "left_semi")
          .join(alive.withColumnRenamed("vec_id", "nbr"), Seq("nbr"), "left_semi")
          .groupBy("src").agg(count(lit(1)).as("deg"))
        // LAZY checkpoint: the dead-count below scans every partition of
        // the status frame, so one action both materializes the round's
        // checkpoint and answers the fixpoint probe — one job per round,
        // not two (the ConnectedComponents lblSum fold).
        val status = graft.CacheBook.keep(und.sparkSession, scope)(
          alive.join(deg, col("vec_id") === col("src"), "left")
            .select(col("vec_id"), coalesce(col("deg"), lit(0L)).as("deg"))
            .localCheckpoint(false))
        val dead = status.filter(col("deg") < k)
        if (dead.count() == 0L) { done = true }
        else {
          layerFrames ::= dead
            .select(col("vec_id"), lit(t).cast("int").as("peel_layer"))
          alive = status.filter(col("deg") >= k).select("vec_id")
          t += 1
        }
      }
      val core = alive.select(col("vec_id"), lit(0).cast("int").as("peel_layer"))
      (core :: layerFrames).reduce(_ unionByName _)
    }
}
