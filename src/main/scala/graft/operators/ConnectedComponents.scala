package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the clustering
  * stage that turns near-dup PAIRS (minhash/simhash/Jaccard output)
  * into dedup GROUPS, so a pipeline can keep one canonical document per
  * component.
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with its own id; each round a node adopts the smallest label
  * among itself and its neighbors; fixpoint when no label changes. The
  * label a component converges to is its minimum node id ("cluster").
  *
  * Scale posture (100 TB): the label table and edge list stay
  * distributed (shuffles key on node id; nothing collects to the
  * driver). Rounds are bounded by the component DIAMETER, which for
  * near-dup graphs is small (dup clusters are dense); the loop
  * terminates via an exact label-sum fixpoint check folded into the one
  * materializing action per round. Labels checkpoint per round and the
  * superseded generation is reclaimed; a pathological chain-shaped
  * graph is the known worst case (diameter rounds), where the
  * large-star/small-star variant below bounds rounds by O(log n).
  * Both loops run under the narrow profile ([[graft.Profiles.narrow]]),
  * entered only after the caller's edge pipeline is materialized; a
  * returned labeling is a checkpoint that owns no other cached frame
  * (free it with `CacheBook.unpersistCheckpoint`).
  */
object ConnectedComponents {

  /** @param edges two-column DataFrame of undirected edges (a, b).
    * @return (id, cluster) for every node that appears in an edge;
    *   cluster = min node id of the component. */
  def run(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // EAGERLY materialize the directed input first — OUTSIDE the narrow
    // scope: callers hand in expensive pipelines (e.g. blocked pairwise
    // similarity joins), which must plan at the session width, not the
    // loop's. (Eager because the forward ∪ reversed union below
    // references it twice; a lazy persist lets the union's branches race
    // and compute the upstream pipeline twice.)
    val e = edges.toDF("src", "dst").localCheckpoint(true)
    // the loop runs under the narrow profile: each round is a handful
    // of joins over one row per NODE (see graft.Profiles)
    graft.Profiles.narrow(e.sparkSession) {
      // closed neighborhood: a self-loop per node folds the node's OWN
      // label into the per-round neighborhood min, so one join + one
      // groupBy replaces the join + groupBy + second join of the naive
      // formulation — per-round cost is dominated by fixed job/shuffle
      // overhead at every scale where the label table fits the cluster,
      // so fewer stages per round is the lever that matters.
      val bi = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val nodes = bi.select(col("src").as("id")).distinct()
      val nbhd = bi.union(nodes.select(col("id").as("src"), col("id").as("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)

      // lazy: the initial-sum action below materializes the checkpoint
      var labels = nodes.withColumn("lbl", col("id")).localCheckpoint(false)
      // convergence via the EXACT sum of labels: labels only ever
      // decrease, so the sum strictly decreases until fixpoint — equal
      // sums mean no label moved. DECIMAL(38,0) keeps the sum exact for
      // billions of 64-bit ids (no float drift, no overflow), and folding
      // the check into the materializing action makes each round ONE job:
      // the lazy localCheckpoint's blocks are populated by the same
      // action that computes the sum.
      def lblSum(df: DataFrame): java.math.BigDecimal =
        df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
          .collect()(0).getDecimal(0)
      var prevSum = lblSum(labels)
      var changed = true
      var iter = 0
      while (changed && iter < maxIter) {
        val next = nbhd.join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(min("lbl").as("lbl"))
          // lazy checkpoint: materialized by the sum action below, and it
          // truncates the lineage so the plan doesn't grow round-over-round
          // (analysis time was the dominant cost before data size even
          // mattered).
          .localCheckpoint(false)
        val s = lblSum(next)
        // the superseded generation is DEAD the moment next's sum is
        // taken — drop its blocks NOW instead of waiting for the
        // ContextCleaner (round 14: under a long run's aggregate block-
        // store pressure, every live superseded round competes for the
        // store and the loop's own blocks churn through eviction moves)
        graft.CacheBook.unpersistCheckpoint(labels)
        changed = s.compareTo(prevSum) != 0
        prevSum = s
        labels = next
        iter += 1
      }
      val out = labels.select(col("id"), col("lbl").as("cluster"))
      // the final labels are a materialized checkpoint: neither the
      // neighborhood nor the input checkpoint backs them any more
      nbhd.unpersist()
      graft.CacheBook.unpersistCheckpoint(e)
      // changed == true here means the loop exited on maxIter with labels
      // still moving — the one-row-per-node contract holds but components
      // may be split. Callers on adversarial graphs should raise maxIter
      // or use runStars (O(log n) rounds).
      if (changed)
        System.err.println(s"[graft] ConnectedComponents.run: maxIter=$maxIter " +
          "exhausted before fixpoint; labels are PARTIAL (components may be split)")
      out
    }
  }

  /** Incremental components — extend a STANDING labeling with a batch
    * of new edges. This is the clustering half of the nightly-ingest
    * dedup path: `Dedup.lshPairsIncremental` emits exactly the pairs
    * with a new endpoint, and this folds them into the previous run's
    * labels without re-walking the old graph.
    *
    * Contract: if `oldLabels` = run(oldEdges) and `newEdges` contains
    * every edge of the full graph that is not among oldEdges (all edges
    * with a new endpoint, plus any newly-discovered old-old edges), the
    * result equals run(oldEdges ∪ newEdges) — randomized equivalence
    * ScalaTest, and the d_cluster_inc gate holds it to the from-scratch
    * recursive-CTE oracle.
    *
    * Shape: old components are CONTRACTED through their labels before
    * anything iterates. A component's label is its minimum member id,
    * so contraction preserves the final min-id labels; the propagation
    * loop then runs on the contracted delta graph only — batch-sized,
    * not corpus-sized — and old labels are remapped with one join at
    * the end. Old components untouched by any new edge are never read
    * past the remap join's probe side. */
  def runIncremental(oldLabels: DataFrame, newEdges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // materialize both inputs once: labels feed two contraction joins +
    // the remap; the edge batch feeds contraction + the new-node scan
    val old = oldLabels.toDF("id", "cluster").localCheckpoint(true)
    val e = newEdges.toDF("a", "b").localCheckpoint(true)
    val lbl = old.select(col("id").as("n"), col("cluster").as("cl"))
    def contract(df: DataFrame, c: String): DataFrame =
      df.join(lbl, df(c) === lbl("n"), "left")
        .select((df.columns.filterNot(_ == c).toIndexedSeq.map(df(_))
          :+ coalesce(col("cl"), df(c)).as(c)): _*)
    val contracted = contract(contract(e, "a"), "b").select("a", "b")
    val small = run(contracted, maxIter)
      .select(col("id").as("c0"), col("cluster").as("c1"))
    // old nodes ride their old label through the delta components; a
    // label absent from the delta graph is already final
    val oldOut = old.join(small, old("cluster") === col("c0"), "left")
      .select(old("id"), coalesce(col("c1"), old("cluster")).as("cluster"))
    val newNodes = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id"))).distinct()
      .join(old, Seq("id"), "left_anti")
    val newOut = newNodes.join(small, newNodes("id") === col("c0"), "left")
      .select(newNodes("id"), coalesce(col("c1"), newNodes("id")).as("cluster"))
    oldOut.unionByName(newOut)
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): rounds are
    * O(log n) in the component size REGARDLESS of diameter, vs the
    * min-label loop's diameter-bounded rounds. Same contract as [[run]]
    * — (id, cluster = min node id) for every node appearing in an edge.
    *
    * Each round: LARGE-STAR hangs every larger neighbor of a node onto
    * the minimum of its closed neighborhood; SMALL-STAR then hangs a
    * node and its smaller neighbors onto their minimum. Edges stay
    * oriented (hi, lo); at fixpoint they form stars around component
    * minima, which ARE the labels. The min-label loop wins on the
    * dense, tiny-diameter graphs near-dup clustering produces (fewer
    * joins per round); this is the scale path for chain-shaped or
    * adversarial graphs — pick per workload. */
  def runStars(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // caller's (possibly expensive) edge pipeline materializes BEFORE
    // the narrow scope opens, like run()
    val raw = edges.toDF("a", "b").localCheckpoint(true)
    graft.Profiles.narrow(raw.sparkSession) {
      // node set is captured BEFORE dropping self-loops so a node whose
      // only edge is (x, x) still gets a label, matching run()
      val nodes = raw.select(col("a").as("id"))
        .union(raw.select(col("b").as("id"))).distinct()
      var e = raw.filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("hi"), least(col("a"), col("b")).as("lo"))
        .distinct().localCheckpoint(true)
      var iter = 0
      var converged = e.isEmpty
      while (!converged && iter < maxIter) {
        // LARGE-STAR over the bidirected adjacency: m = min(closed
        // neighborhood of u); every neighbor v > u re-hangs onto m.
        // Output stays (hi, lo)-oriented because v > u >= m.
        val bi = e.select(col("hi").as("u"), col("lo").as("v"))
          .union(e.select(col("lo").as("u"), col("hi").as("v")))
        val mins = bi.groupBy("u").agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m"))
        val ls = bi.join(mins, "u").filter(col("v") > col("u"))
          .select(col("v").as("hi"), col("m").as("lo")).distinct()
        // SMALL-STAR on the oriented edges: u and all its smaller
        // neighbors re-hang onto their minimum.
        val smins = ls.groupBy("hi").agg(min(col("lo")).as("m"))
        val next = ls.join(smins, "hi")
          .select(col("lo").as("v"), col("m"))
          .union(smins.select(col("hi").as("v"), col("m")))
          .filter(col("v") =!= col("m"))
          .select(col("v").as("hi"), col("m").as("lo")).distinct()
          // lazy checkpoint: the symmetric-difference count below is the
          // materializing action, so each round runs ONE job instead of
          // checkpoint + two anti-join probes
          .localCheckpoint(false)
        // fixpoint = identical edge set, checked as a full-outer
        // symmetric-difference count (both sides are star-sized frames)
        converged = next.withColumn("r", lit(1))
          .join(e.withColumn("l", lit(1)), Seq("hi", "lo"), "full_outer")
          .filter(col("r").isNull || col("l").isNull).count() == 0L
        // the fixpoint count was the last reader of the superseded
        // generation — drop its blocks eagerly (see run)
        graft.CacheBook.unpersistCheckpoint(e)
        e = next
        iter += 1
      }
      if (!converged)
        System.err.println(s"[graft] ConnectedComponents.runStars: maxIter=$maxIter " +
          "exhausted before fixpoint; labels are PARTIAL (components may be split)")
      // star edges ARE the labels; centers label themselves; nodes with no
      // surviving edge (self-loop-only) label themselves. min() guards the
      // one-row-per-node contract even if maxIter cut convergence short.
      // Materialized EAGERLY so the shuffles run under the scoped
      // partition width (the caller triggers lazy plans only after the
      // conf is restored).
      val starLabels = e.select(col("hi").as("id"), col("lo").as("cluster"))
        .union(e.select(col("lo").as("id"), col("lo").as("cluster")))
        .groupBy("id").agg(min("cluster").as("cluster"))
      val out = starLabels
        .union(nodes.join(starLabels, Seq("id"), "left_anti")
          .select(col("id"), col("id").as("cluster")))
        .localCheckpoint(true)
      // the labels are materialized: free the input and the last star
      // generation
      graft.CacheBook.unpersistCheckpoint(raw)
      graft.CacheBook.unpersistCheckpoint(e)
      out
    }
  }
}
