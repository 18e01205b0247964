package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-node triangle counts over an edge list — the local-clustering
  * primitive behind neighborhood-cohesion stats on a KNN graph.
  *
  * Directed/duplicated input edges canonicalize to distinct undirected
  * u&lt;w pairs (self-loops dropped); wedges a&lt;b&lt;c come from ONE
  * self-equi-join on the shared endpoint — the ordering is free because
  * canonical edges already point low→high — and a second equi-join
  * closes them. Each triangle forms exactly one wedge+closure, so no /3
  * correction. Wedge volume is O(Σ deg²): degree-bounded graphs (KNN,
  * deg ≤ 2k) stay linear in N, and the quadratic all-pairs term never
  * appears. The caller owns persisting the canonical edge relation when
  * the three join branches would otherwise recompute it.
  */
object TriangleCount {

  /** Canonical undirected edge relation (distinct u &lt; w) from a
    * directed (src, nbr) edge list. */
  def canonical(edges: DataFrame): DataFrame =
    edges
      .filter(col("src") =!= col("nbr"))
      .select(least(col("src"), col("nbr")).as("u"),
        greatest(col("src"), col("nbr")).as("w"))
      .distinct()

  /** Bidirectional (src, nbr) expansion of a canonical undirected edge
    * relation, persisted and kept under `scope` — the per-round scan
    * every graph loop (BFS, k-core peel, label propagation) reads.
    * `coalesceTo` &gt; 0 shrinks the relation's partition count first (a
    * few thousand edges per million nodes do not need 32 shuffle
    * partitions churning every round); &le; 0 keeps the input layout. */
  def bidirectional(und: DataFrame, scope: String,
      coalesceTo: Int = 4): DataFrame = {
    val base = und.select(col("u").as("src"), col("w").as("nbr"))
      .union(und.select(col("w").as("src"), col("u").as("nbr")))
    graft.CacheBook.keep(und.sparkSession, scope)(
      (if (coalesceTo > 0) base.coalesce(coalesceTo) else base)
        .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** (vec_id, n_tri) for every node in ≥1 triangle. `und` must be a
    * distinct canonical (u &lt; w) edge relation — see [[canonical]]. */
  def perNode(und: DataFrame): DataFrame = {
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.w") === col("e2.u"))
      .join(und.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.w") === col("e2.w"))
      .select(col("e1.u").as("a"), col("e1.w").as("b"), col("e2.w").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("n_tri"))
  }
}
