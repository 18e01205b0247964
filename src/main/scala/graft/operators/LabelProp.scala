package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et
  * al. 2007) — the soft-clustering sibling of [[ConnectedComponents]]'
  * hard reachability: labels start as own node ids and each round
  * every node adopts its neighborhood's MAJORITY label (count-desc,
  * min-label tie-break), which makes bounded-round synchronous LPA
  * fully deterministic — one exact answer, reproducible cross-engine.
  *
  * Per round: one edge equi-join + one (node, label) count + one
  * per-node argmax window — O(iters · edges), never quadratic. The
  * bidirectional edge relation persists across rounds; each round's
  * label table localCheckpoints (one consumer, but lineage would still
  * stack). Every persisted or checkpointed frame is kept under the
  * caller's scope (cache scope is a session concern, not the operator's).
  */
object LabelProp {

  /** @param und distinct canonical undirected edges (u &lt; w) — see
    *   [[TriangleCount.canonical]].
    * @param scope [[graft.CacheBook]] scope that frees the edge persist
    *   and the per-round checkpoints.
    * @return (vec_id, lbl) for every node that appears in an edge. */
  def run(und: DataFrame, iters: Int, scope: String): DataFrame =
    graft.Profiles.narrow(und.sparkSession) {
      // coalesceTo = 0: keep the input layout (plan parity with the
      // committed s_label_prop budget; the loop body is the cost here).
      val edges = TriangleCount.bidirectional(und, scope, coalesceTo = 0)
      var lab = edges.select(col("src").as("vec_id")).distinct()
        .select(col("vec_id"), col("vec_id").as("lbl"))
      val wL = Window.partitionBy("src").orderBy(col("c").desc, col("lbl").asc)
      for (_ <- 1 to iters) {
        lab = edges.join(lab.withColumnRenamed("vec_id", "nbr"), "nbr")
          .groupBy("src", "lbl").agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(wL))
          .filter(col("rn") === 1)
          .select(col("src").as("vec_id"), col("lbl"))
        lab = graft.CacheBook.keep(und.sparkSession, scope)(lab.localCheckpoint(true))
      }
      lab
    }
}
