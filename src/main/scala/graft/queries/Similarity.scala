package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Determinism, VecOps}

/** Pack E — similarity search over the `embeddings` table.
  *
  * Brute-force cosine top-k is the baseline (and the recall oracle);
  * LSH and IVF are the scale paths: both turn the all-pairs problem into
  * a bucket-join (shuffle on bucket key / centroid id), so candidate
  * generation is linear-ish and the quadratic term is bounded by bucket
  * population. Cosines are bit-exact vs the oracle (unrolled IEEE chain,
  * see [[VecOps]]), so rankings are identical, not approximately so.
  */
object Similarity {

  private val K = 5          // neighbors returned per query
  private[graft] val NQueries = 5   // queries = vec_id < NQueries

  /** s_ndcg position discounts floor(1e6/log2(pos+1)), pos = 1..K, and
    * the closed-form ideal DCG (grade K+1−p at every position p). ONE
    * table feeds both engines — no in-query log. */
  private[graft] val NdcgDiscPpm =
    Seq(1000000L, 630929L, 500000L, 430676L, 386852L)
  private[graft] val NdcgIdcg: Long =
    (1 to K).map(p => (K + 1 - p) * NdcgDiscPpm(p - 1)).sum // = 10271920
  private val PhraseLen = 3  // s_phrase: first PhraseLen tokens of each query doc
  private[graft] val NProbe = 2     // IVF probes
  private val KnnK = 3       // neighbors per vector in the KNN graph
  private val RankIters = 3  // PageRank power iterations (s_graph_rank)
  private val DescentRounds = 2 // NN-descent rounds (s_nn_descent_k)
  private val SearchSeeds = 4  // graph-search entry points (s_graph_search)
  private val SearchBeam = 8   // graph-search beam width
  private val SweepBeams = Seq(4, 8, 16) // s_beam_sweep widths
  private val SearchRounds = 3 // graph-search expansion rounds
  private val HnswBeam1 = 4    // s_hnsw_search: layer-1 descent beam width
  private val HnswRounds1 = 2  // s_hnsw_search: layer-1 descent rounds
  private val HnswPromote = "2" // promoted to layer 1 iff md5(id) < this (~1/8)
  private val MmrPool = 10     // MMR candidate pool per query (s_mmr)
  private val MmrK = 5         // MMR selections per query (s_mmr)
  private[graft] val RangeTauMicro = 300000L // s_range_search radius (cos micro-units)
  private val CoreK = 5        // k-center greedy selections (s_coreset)
  private val LpaIters = 3     // label-propagation rounds (s_label_prop)
  private val KcoreK = 4       // s_kcore_peel: survival degree threshold
  private val KcoreRounds = 10 // s_kcore_peel: peel-round bound (fixpoint ≤8 at gate scales)
  private[graft] val HardNegK = 5     // s_negatives: hard negatives per query
  private[graft] val RandNegK = 4     // s_negatives: random negative draws per query
  private val BfsRounds = 9    // s_seed_dist: expansion bound (ecc ≤7 at gate scales)
  // IVF cells: DATA-DERIVED since round 13 — K(N) = max(24,
  // floor(sqrt(N))), one pinned formula both engines compute from the
  // corpus count (every oracle carries the same expression as a scalar
  // subquery), so the measured N²/K cell-population term (r12
  // curvature: s_index_build 0.67/decade at fixed K=24, flattening to
  // 0.51 at K~sqrt(N)) flattens with ZERO env vars. At the gate scales
  // the formula lands on the historical 24 everywhere except sf0.1
  // (2000 vecs → 44); the floor keeps tiny corpora from degenerate
  // one-cell indexes.
  private[graft] val NCentroidsFloor = 24

  /** K(N) — THE centroid-count formula, SQL-mirrored by [[sqlK]].
    * IEEE sqrt is correctly rounded and exact cross-engine on integer
    * inputs < 2^53, so both engines derive the identical K. */
  private[graft] def kFor(n: Long): Int =
    math.max(NCentroidsFloor.toLong, math.sqrt(n.toDouble).toLong).toInt

  /** SQL mirror of [[kFor]] over a FROM-able relation fragment. */
  private[graft] def sqlK(rel: String): String =
    s"(SELECT greatest($NCentroidsFloor, " +
      s"CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) FROM $rel)"

  /** SPARK_GRAFT_NCENTROIDS overrides the derived K — SCALE EXPERIMENTS
    * only (the oracles derive, so a gate run under the override will
    * hash-mismatch LOUDLY instead of silently passing on an interpolated
    * constant). Set-but-unparsable fails hard; an active override warns
    * once per JVM (r12 ADVICE: a silently-inherited override in a
    * production session was undetectable). */
  private val centroidOverride: Option[Int] = sys.env.get("SPARK_GRAFT_NCENTROIDS").map { v =>
    val k = v.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_NCENTROIDS is set but unparsable: '$v'"))
    require(k > 0, s"SPARK_GRAFT_NCENTROIDS must be positive, got $k")
    k
  }
  private lazy val overrideWarned: Unit = centroidOverride.foreach(k =>
    System.err.println(s"[graft] WARNING: SPARK_GRAFT_NCENTROIDS=$k overrides " +
      "the data-derived centroid count — scale-experiment mode; oracle " +
      "hash-matches are NOT expected under an override"))

  /** Memoized corpus vector count — one bounded scalar action feeding
    * every derived-K site (the newDocThreshold convention). */
  private[graft] def vecCount(s: SparkSession, dir: String): Long =
    graft.CacheBook.memo(s, "s", "vec_count", dir)(vecs(s, dir).count())

  /** Derived centroid count for the corpus-level IVF index. */
  private[graft] def nCentroids(s: SparkSession, dir: String): Int =
    centroidOverride.map { k => overrideWarned; k }
      .getOrElse(kFor(vecCount(s, dir)))

  /** Derived centroid count for the TOKEN-level index (PqM tokens per
    * vector, so the population is 8N). */
  private[graft] def nCentroidsTok(s: SparkSession, dir: String): Int =
    centroidOverride.map { k => overrideWarned; k }
      .getOrElse(kFor(PqM.toLong * vecCount(s, dir)))

  /** Probe count for the token index: as K(N) grows, a FIXED nprobe
    * probes a shrinking fraction of the space and recall decays (the
    * standard IVF trade) — so the probe count grows as
    * ceil(NProbe·sqrt(K/24)). The SQUARE-ROOT rule is the candidate-
    * volume compromise: probed fraction held CONSTANT makes candidates
    * linear in N (np·cellpop = (np/K)·8N), fixed np makes recall decay;
    * sqrt growth gives candidates ~N^(3/4) and measured full recall at
    * every gate scale (fixed np=2 at the derived tok-K dropped
    * s_maxsim_tok_recall 25/25 → 24/25 at sf0.001). Both engines ceil
    * the identical IEEE double ([[sqlNProbeTok]]). */
  private[graft] def nProbeTok(k: Int): Int =
    math.max(NProbe,
      math.ceil(NProbe * math.sqrt(k.toDouble / NCentroidsFloor)).toInt)

  /** SQL mirror of [[nProbeTok]]∘[[kFor]] over a token relation
    * fragment: derive K from the relation's count, then the probe
    * count from K — one expression, same IEEE trajectory. */
  private def sqlNProbeTok(rel: String): String =
    s"(SELECT greatest($NProbe, CAST(ceil($NProbe * sqrt(" +
      s"greatest($NCentroidsFloor, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) " +
      s"/ CAST($NCentroidsFloor AS DOUBLE))) AS BIGINT)) FROM $rel)"
  private val PqM = 8        // PQ subspaces (64-dim vectors -> 8x8)
  private val PqSub = 8      // dims per subspace
  private val PqKsub = 16    // codes per subspace codebook
  private val Dim = 64       // embedding dimensionality
  private val LloydIters = 2 // k-means refinement rounds (IVF + PQ)
  private val RescoreC = 50  // coarse candidates per query before exact rescore
  private val MrlDim = 16    // Matryoshka prefix dims for the coarse pass
  private[graft] val DbEpsMicro = 250000L // s_dbscan radius (cos micro-units)
  private[graft] val DbMinPts = 4         // s_dbscan core threshold (nbrs, excl. self)
  // s_dbscan replica screen: pairs at cosine >= this collapse to one
  // representative BEFORE the radius graph. Twin replicas sit at
  // ~0.9995 and replica-corpus ADJACENT copies at ~0.994-0.999 (the
  // sf1e decade corpus — the transitive closure chain-collapses a
  // whole copy group through its adjacency edges); the strongest
  // organic synthetic pair is ~0.44, so the bar has a 0.55-cosine
  // margin below and separates cleanly above.
  private[graft] val ReplicaTauMicro = 990000L
  // s_dbscan_sweep radius bands (micro-units); includes the gate point
  private[graft] val DbSweepBands = Seq(150000L, 200000L, 250000L, 300000L)
  private val PprIters = 3   // s_ppr power-iteration rounds
  private val PprK = 10      // s_ppr neighbors reported per seed

  /** Fixed left-to-right chains over 1-based sub-array positions —
    * unrolled so Spark's codegen arithmetic and DuckDB's expression
    * produce bit-identical doubles (same IEEE op order). */
  private def subDot(a: Column, b: Column): Column =
    (1 to PqSub).map(i => element_at(a, i) * element_at(b, i))
      .reduceLeft(_ + _)
  private def sqlSubDot(a: String, b: String): String =
    (1 to PqSub).map(i => s"$a[$i] * $b[$i]").mkString(" + ")
  private def subL2(a: Column, b: Column): Column =
    (1 to PqSub).map { i =>
      val d = element_at(a, i) - element_at(b, i); d * d
    }.reduceLeft(_ + _)
  private def sqlSubL2(a: String, b: String): String =
    (1 to PqSub).map(i => s"($a[$i] - $b[$i]) * ($a[$i] - $b[$i])").mkString(" + ")

  /** Prefix dot over the first `d` dims — the Matryoshka coarse score.
    * Same unrolled left-to-right IEEE chain as [[VecOps.dot]], so the
    * coarse ranking is bit-exact cross-engine too. */
  private def prefixDot(a: Column, b: Column, d: Int): Column =
    (1 to d).map(i => element_at(a, i) * element_at(b, i)).reduceLeft(_ + _)
  private def sqlPrefixDot(a: String, b: String, d: Int): String =
    (1 to d).map(i => s"$a[$i] * $b[$i]").mkString("(", " + ", ")")

  /** Dot between "token" t of a and token u of b — the PqM fixed-width
    * sub-vector slices reinterpreted as per-token embeddings (the
    * multi-vector view of the corpus s_maxsim scores). Unrolled
    * left-to-right like every other dot here, so bit-exact cross-engine. */
  private def sqlTokDot(a: String, b: String, t: Int, u: Int): String =
    (1 to PqSub).map(i =>
      s"$a[${(t - 1) * PqSub + i}] * $b[${(u - 1) * PqSub + i}]")
      .mkString("(", " + ", ")")

  /** Late-interaction MaxSim in integer micro-units: per query token,
    * the max dot against all doc tokens (a selection over PqM identical
    * IEEE chains, not arithmetic), floored to micro-units, then summed
    * as BIGINT — the 8-term row-local sum is exact under any evaluation
    * order, unlike a float sum-of-maxes. One native codegen Expression
    * (round-14 optimization): the equivalent Column tree was 1024
    * `element_at` calls per pair — the scorer dominated every
    * token-family entry's cpu; [[graft.functions.MaxSimMicro]] keeps
    * the identical left-to-right/greatest/floor arithmetic (bit-exact
    * vs the sqlMaxSim oracle — MaxSimExprSpec pins tree == expression
    * on random vectors). */
  private[graft] def maxSimMicro(qv: Column, dv: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.MaxSimMicro(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(qv),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(dv),
        PqM, PqSub))
  private def sqlMaxSim(qv: String, dv: String): String =
    (1 to PqM).map { t =>
      s"""CAST(floor(greatest(${(1 to PqM).map(u => sqlTokDot(qv, dv, t, u))
        .mkString(", ")}) * 1000000.0) AS BIGINT)"""
    }.mkString("(", " + ", ")")

  /** Binary-quantization signature: 32 sign bits (dims lo+1..lo+32,
    * 1-based; bit i set iff v[lo+i+1] > 0 — the [[VecOps.lshBucket]]
    * sign convention) packed into ONE nonneg long. Two halves per
    * 64-dim vector rather than one 64-bit word: bit 63 would make the
    * packed value negative, and keeping both engines' literals small
    * positive integers removes every signed-shift/overflow edge from
    * the contract. Integer-exact cross-engine by construction. */
  private[graft] def bqSig(v: Column, lo: Int): Column =
    (0 until 32).map(i =>
      when(element_at(v, lo + i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduceLeft(_ + _)
  private def sqlBqSig(v: String, lo: Int): String =
    (0 until 32).map(i =>
      s"(CASE WHEN $v[${lo + i + 1}] > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
      .mkString("(", " + ", ")")

  private[graft] def vecs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", VecOps.norm(col("v")))

  private val sqlVecs =
    s"""SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        ${VecOps.sqlNorm("CAST(embedding AS DOUBLE[])")} AS n FROM embeddings"""

  /** Lloyd (k-means) refinement of the IVF centroid table: assign every
    * vector to its nearest centroid by cosine, recompute each centroid
    * as the mean of its cell. The mean is EXACT across engines: each
    * component sums in integer micro-units (floor(x*1e6) — one
    * deterministic double multiply + floor per element, BIGINT sums are
    * order-independent) with ONE final double division, so the refined
    * centroids — and every cosine against them — stay bit-identical to
    * the DuckDB oracle, which replicates the same iteration count.
    * Cost per round is the same O(N*K) broadcast-assignment the index
    * build already pays; an empty cell simply drops out (both engines
    * agree, K only ever shrinks). */
  private def refineCentroids(e: DataFrame, cents0: DataFrame): DataFrame = {
    var cents = cents0
    for (_ <- 0 until LloydIters) {
      // round 15: constant-bank argmax expression per iteration (see
      // [[collectCosineBank]]) — the former broadcast-join + window
      // materialized and sorted N×K rows per round, and nesting the
      // rounds' plans re-ran every earlier round's assignment inside
      // the next broadcast build; the per-round collect evaluates each
      // round exactly once (K≈√N rows to the driver, the same rows the
      // broadcast shipped). A null vector or norm yields a null cid (a
      // null-cid group below) where the old inner broadcast join dropped
      // the row; corpus vectors are never null.
      val assigned = e.select(
          element_at(graft.functions.NearestCentroids.nearest(
            collectCosineBank(cents), col("v"), 1, col("n")), 1).as("cid"),
          col("v"))
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg((sum(floor(col("x") * lit(1000000.0))).cast("double")
          / (count(lit(1)) * lit(1000000.0))).as("comp"))
      cents = means.groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
          p => p.getField("comp")).as("cv"))
        .withColumn("cn", VecOps.norm(col("cv")))
    }
    cents
  }

  /** The SQL mirror of [[refineCentroids]]: appends `iters` assignment +
    * micro-unit-mean CTE pairs to a seed centroid CTE named `c0`
    * (columns cid, cv, cn over corpus CTE `e`); the refined table is
    * `c$iters`. */
  private def sqlRefine(iters: Int): String =
    (1 to iters).map { it =>
      val prev = s"c${it - 1}"
      s"""a$it AS (SELECT cid, vec_id, v FROM (
           SELECT e.vec_id, e.v, $prev.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY (${VecOps.sqlDot("e.v", s"$prev.cv")} / (e.n * $prev.cn)) DESC,
                 $prev.cid) AS rn
           FROM e, $prev) WHERE rn = 1),
         m$it AS (SELECT cid, i,
             CAST(sum(CAST(floor(v[CAST(i AS INT)] * 1000000.0) AS BIGINT)) AS DOUBLE)
               / (count(*) * 1000000.0) AS comp
           FROM a$it, unnest(range(1, ${Dim + 1})) AS t(i) GROUP BY cid, i),
         cl$it AS (SELECT cid, list(comp ORDER BY i) AS cv FROM m$it GROUP BY cid),
         c$it AS (SELECT cid, cv, ${VecOps.sqlNorm("cv")} AS cn FROM cl$it)"""
    }.mkString(",\n", ",\n", "")

  /** SQL mirror of the PQ codebook refinement loop: assignment +
    * micro-unit-mean CTE pairs from seed `cb0` over sub-vector CTE `ex`
    * (columns vec_id, m, xsub); refined codebook is `cb$iters`. */
  private def sqlPqRefine(iters: Int): String =
    (1 to iters).map { it =>
      val prev = s"cb${it - 1}"
      s"""pa$it AS (SELECT m, code, xsub FROM (
           SELECT ex.vec_id, ex.m, $prev.code, ex.xsub,
             row_number() OVER (PARTITION BY ex.vec_id, ex.m
               ORDER BY ${sqlSubL2("ex.xsub", s"$prev.csub")} ASC, $prev.code ASC) AS ern
           FROM ex JOIN $prev ON ex.m = $prev.m) WHERE ern = 1),
         pm$it AS (SELECT m, code, i,
             CAST(sum(CAST(floor(xsub[CAST(i AS INT)] * 1000000.0) AS BIGINT)) AS DOUBLE)
               / (count(*) * 1000000.0) AS comp
           FROM pa$it, unnest(range(1, ${PqSub + 1})) AS t(i) GROUP BY m, code, i),
         cm$it AS (SELECT m, code, list(comp ORDER BY i) AS csub FROM pm$it GROUP BY m, code),
         cb$it AS (SELECT $prev.m, $prev.code, coalesce(cm$it.csub, $prev.csub) AS csub
           FROM $prev LEFT JOIN cm$it ON cm$it.m = $prev.m AND cm$it.code = $prev.code)"""
    }.mkString(",\n", ",\n", "")

  private def topk(joined: DataFrame): DataFrame = {
    val w = Window.partitionBy("q").orderBy(col("cos").desc, col("vec_id").asc)
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select("q", "vec_id", "cos", "rn")
      .orderBy("q", "rn")
  }

  /** Exact-cosine re-rank of a (q, vec_id) candidate frame: join the
    * vectors back, score against the broadcast query frame `qs`
    * (columns q, qv, qn), rank per query as `brn`. */
  private def cosRerank(e: DataFrame, qs: DataFrame, cand: DataFrame): DataFrame = {
    val wb = Window.partitionBy("q").orderBy(col("cos").desc, col("vec_id").asc)
    cand.join(e.select(col("vec_id"), col("v"), col("n")), "vec_id")
      .join(qs, "q")
      .select(col("q"), col("vec_id"),
        VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos"))
      .withColumn("brn", row_number().over(wb))
  }

  /** Greedy beam walk over an edge list (src as `vec_id`, `nbr`):
    * re-rank the seed candidates to a beam of `width`, then `rounds`
    * rounds of beam ∪ neighbors(beam) (edge EQUI-join) → re-rank →
    * top-`width` per query, with a per-round local checkpoint (each
    * round references the beam twice — unchecked, the plan nests
    * exponentially). Shared by the flat and hierarchical searches.
    *
    * The walk runs under the narrow profile ([[graft.Profiles.narrow]]):
    * beam frames are NQueries × width rows — a few KB — yet every
    * round's exchanges would inherit the SESSION shuffle width, which a
    * cluster sizes to the 100 TB fact tables (DEPLOY.md: 8000), and AQE
    * would split each round's one action into 3-4 sequential
    * query-stage jobs with nothing to re-optimize. The memoized KNN
    * graph is built EAGERLY by its memo cell before any caller reaches
    * here, so the scope never holds a corpus-scale build. */
  private def beamWalk(s: SparkSession, e: DataFrame, qs: DataFrame,
      edges: DataFrame, seed: DataFrame, rounds: Int, width: Int): DataFrame =
    graft.Profiles.narrow(s) {
      var beam = cosRerank(e, qs, seed)
        .filter(col("brn") <= width).select("q", "vec_id")
      for (_ <- 1 to rounds) {
        val expanded = beam
          .union(beam.join(edges, Seq("vec_id"))
            .select(col("q"), col("nbr").as("vec_id")))
          .distinct()
        beam = cosRerank(e, qs, expanded).filter(col("brn") <= width)
          .select("q", "vec_id")
        beam = graft.CacheBook.keep(s, "s")(beam.localCheckpoint(true))
      }
      beam
    }

  /** [[beamWalk]] for ALL sweep widths in ONE keyed loop: the beam
    * frame carries a `w` column, the per-round re-rank windows on
    * (w, q), and the cut is `brn <= w`. Each width's trajectory depends
    * only on its own rows, so the result equals `widths.map(w =>
    * beamWalk(..., w))` row-for-row (same ordering, same ties) — but
    * the sweep pays `rounds` checkpoints instead of |widths|·rounds
    * sequential ones (round 14: s_beam_sweep's wall is round latency,
    * not data). Returns (w, q, vec_id). */
  private def beamWalkSwept(s: SparkSession, e: DataFrame, qs: DataFrame,
      edges: DataFrame, seed: DataFrame, rounds: Int,
      widths: Seq[Int]): DataFrame =
    graft.Profiles.narrow(s) {
      val wq = Window.partitionBy("w", "q")
        .orderBy(col("cos").desc, col("vec_id").asc)
      def rerank(cand: DataFrame): DataFrame =
        cand.join(e.select(col("vec_id"), col("v"), col("n")), "vec_id")
          .join(qs, "q")
          .select(col("w"), col("q"), col("vec_id"),
            VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos"))
          .withColumn("brn", row_number().over(wq))
      val seed0 = cosRerank(e, qs, seed)
      var beam = widths.map(w => seed0.filter(col("brn") <= w)
          .select(lit(w).cast("int").as("w"), col("q"), col("vec_id")))
        .reduce(_ unionByName _)
      for (_ <- 1 to rounds) {
        val expanded = beam
          .union(beam.join(edges, Seq("vec_id"))
            .select(col("w"), col("q"), col("nbr").as("vec_id")))
          .distinct()
        beam = rerank(expanded).filter(col("brn") <= col("w"))
          .select("w", "q", "vec_id")
        beam = graft.CacheBook.keep(s, "s")(beam.localCheckpoint(true))
      }
      beam
    }

  /** ONE shared signature-augmented corpus projection — vecs plus the
    * two 32-bit sign-signature halves (s1, s2) AND the Matryoshka
    * prefix norm (pn) — persisted once per (session, corpus) and read
    * by s_bq_topk, s_mrl_topk and s_ivf_bq's query side. Each of those
    * entries used to persist its OWN full-corpus projection (two extra
    * resident scans of the same base data); one base relation with all
    * three derived columns costs 24 bytes/row over the vectors and
    * follows the buildIvfIndex single-cache discipline. Released with
    * the "s" family scope. */
  private def sigBase(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "s", "sig_base", dir) {
      // EAGER localCheckpoint, not persist (the item-1 plan tax): the
      // BQ/MRL consumers re-planned and re-codegen'd the signature
      // projection behind the InMemoryRelation on every action.
      graft.CacheBook.keep(s, "s")(graft.CacheBook.recordBuildPlan(s, "s", "sig_base")(
        vecs(s, dir)
          .withColumn("s1", bqSig(col("v"), 0))
          .withColumn("s2", bqSig(col("v"), 32))
          .withColumn("pn", sqrt(prefixDot(col("v"), col("v"), MrlDim))))
        .localCheckpoint(true))
    }

  /** Storage of a memoized ANN result (the K*NQueries-row frame each
    * s_* entry memoizes under "ann:<entry>", so the recall evals join
    * two cached 25-row frames instead of re-running the sibling probe
    * pipeline): the build plan is recorded under `name`, then the frame
    * is EAGERLY localCheckpointed, not persisted — a persisted memo
    * keeps its full logical plan, so every CONSUMER re-plans and
    * re-CODEGENS the whole build subtree (Janino compilation of the
    * inlined multi-join lineage measured 10-20 cpu-s per first task on
    * the wedge queries, dwarfing their actual data work). The
    * checkpoint truncates the memo to a LogicalRDD leaf: same rows,
    * same blocks, postcard-sized consumer plans. */
  private def annFrame(s: SparkSession, name: String)(df: DataFrame): DataFrame =
    graft.CacheBook.keep(s, "s")(
      graft.CacheBook.recordBuildPlan(s, "s", name)(df).localCheckpoint(true))

  /** Memoized brute-force cosine top-k — the ground-truth ranking. Five
    * recall queries compare an ANN path against this same baseline, so
    * it materializes once per (session, corpus) (computing ground truth
    * once and reusing it across evals is the standard ANN-benchmark
    * shape); released with the "s" family scope. */
  private def bfTopk(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "s", "bf_topk", dir) {
      val e = vecs(s, dir)
      val q = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn")))
      graft.CacheBook.keep(s, "s")(graft.CacheBook.recordBuildPlan(s, "s", "bf_topk")(
        topk(q.join(e, col("vec_id") =!= col("q"))
          .select(col("q"), col("vec_id"),
            VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos"))))
        .localCheckpoint(true)) // truncated plan for the 5 recall readers
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](
    // exact brute-force top-k: queries broadcast against the full table.
    "s_cosine_topk" -> ((s, dir) => bfTopk(s, dir)),

    // EXPLICIT index build — the build-once half of every s_* scale
    // path, priced as its own entry: IVF assignments (both centroid
    // flavors), the PQ codebook + codes, and the ground-truth ranking
    // all memoize here, so the probe queries that follow measure
    // probe cost, not a hidden rebuild (at 100 TB the index build is
    // a nightly job, not part of query latency — see AnnIndexStore
    // for the persisted artifact this stands for). Returns the IVF
    // cell histogram, which the oracle recomputes exactly.
    "s_index_build" -> ((s, dir) => {
      // the builds are independent and each memoizes under its own
      // cell — fan them out on graft.Par (bounded; its threads inherit
      // the session and local properties) so the build entry's
      // wall-clock is the slowest build, not the sum
      graft.Par.each(Seq[() => Any](
        () => buildIvfIndex(s, dir, refine = false),
        () => buildIvfIndex(s, dir, refine = true),
        () => pqModel(s, dir),
        () => bfTopk(s, dir),
        // the persisted-artifact write too: s_ivf_store_probe then
        // measures the PRODUCTION probe (pointer resolve + pruned cell
        // scan), not the nightly write it stands downstream of
        () => ivfStorePath(s, dir),
        // the standing TOKEN index (8N-row explode + draw + O(8N·K)
        // assignment + partitioned write): s_maxsim_tok then prices
        // the production probe, not a hidden rebuild
        () => tokIndexPath(s, dir),
        // the KNN graph + its edges⋈deg relation (graphEd forces the
        // graph build): s_knn_graph / s_nn_descent / s_graph_rank then
        // price memo-read + their own joins, not a hidden graph build
        () => graphEd(s, dir)))(_())
      val (_, assigned) = buildIvfIndex(s, dir, refine = false)
      assigned.groupBy("cid").agg(count(lit(1)).as("n_vecs")).orderBy("cid")
    }),

    // random-hyperplane LSH with MULTI-PROBE: candidates live in any
    // bucket within hamming distance 1 of the query's NPlanes-bit bucket
    // (the 1+NPlanes most likely buckets). Probing stays a bucket EQUI-join —
    // each query explodes into 9 probe keys, so the quadratic term is
    // still bounded by bucket population, and recall jumps from the
    // single-probe ~0 on weakly-clustered corpora. Bucketed table
    // persisted: the 8x64-term signature projection runs once per row,
    // not once per join side.
    "s_lsh_ann" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_lsh_ann", dir)(
      annFrame(s, "ann:s_lsh_ann") {
      // per-call persist (probe + candidate sides) — family-scoped release
      val e = graft.CacheBook.keep(s, "s")(graft.CacheBook.materialize(
        vecs(s, dir).withColumn("bucket", VecOps.lshBucket(col("v")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
      val probeBuckets = array(
        col("qbucket") +: (0 until VecOps.NPlanes).map(b =>
          col("qbucket").bitwiseXOR(lit(1 << b))): _*)
      val q = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn"),
          col("bucket").as("qbucket"))
        .withColumn("bucket", explode(probeBuckets)))
      topk(q.join(e, Seq("bucket")).filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos")))
    })),

    // int8-quantized cosine top-k: each vector scales to [-127,127] by
    // its max-abs and floors to integers — 4x smaller vectors, and the
    // integer dot products are EXACT in any summation order, so this is
    // the one similarity score with zero float-divergence surface.
    // Quantization runs as ONE codegen projection (Int8Quantize) into a
    // persisted relation consumed by both join sides — the r04 bench's
    // worst non-anomalous entry was this query recomputing an
    // interpreted transform() lambda on each side.
    "s_int8_topk" -> ((s, dir) => {
      val qv = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.Int8Quantize(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("v"))))
      val e = graft.CacheBook.keep(s, "s")(graft.CacheBook.materialize(
        vecs(s, dir).select(col("vec_id"), qv.as("qv"))
          .withColumn("qn", sqrt(VecOps.dot(col("qv"), col("qv"))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
      val q = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("qv").as("qqv"), col("qn").as("qqn")))
      topk(q.join(e, col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          (VecOps.dot(col("qqv"), col("qv")) / (col("qqn") * col("qn"))).as("cos")))
    }),

    // BINARY-quantized two-stage retrieval — the 1-bit scale path: each
    // vector compresses to its 64 sign bits (two nonneg 32-bit halves;
    // 16 bytes vs 512 — a 100 TB float corpus's signature table is
    // ~3 TB and memory-resident on a modest cluster), the coarse pass
    // ranks by hamming distance (TWO xor+bit_count codegen ops per
    // pair instead of 64 mul-adds), and only the RescoreC nearest
    // signatures per query pay the exact float cosine. The candidate
    // frame that crosses the shuffle is (q, vec_id, ham) — vectors
    // never ride through the coarse window; the rescore joins them
    // back. Hamming ties break on vec_id, so the candidate set — and
    // therefore the final ranking — is deterministic cross-engine.
    "s_bq_topk" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_bq_topk", dir)(
      annFrame(s, "ann:s_bq_topk") {
      val e = sigBase(s, dir) // shared sig-augmented base — one cache, not one per entry
      val q = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn"),
          col("s1").as("t1"), col("s2").as("t2")))
      val wc = Window.partitionBy("q").orderBy(col("ham").asc, col("vec_id").asc)
      val cand = q.join(e, col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          (bit_count(col("t1").bitwiseXOR(col("s1")))
            + bit_count(col("t2").bitwiseXOR(col("s2")))).as("ham"))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= RescoreC)
        .select("q", "vec_id")
      topk(cand.join(e.select(col("vec_id"), col("v"), col("n")), "vec_id")
        .join(q.select(col("q"), col("qv"), col("qn")), "q")
        .select(col("q"), col("vec_id"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos")))
    })),

    "s_bq_recall" -> recallOf("s_bq_topk"),

    // MATRYOSHKA (prefix-dim) two-stage retrieval — the adaptive-dim
    // scale path for MRL-trained embeddings: the coarse pass scores
    // cosine over only the FIRST MrlDim dims (a 4x cheaper dot and a
    // 4x smaller coarse working set — at 100 TB the prefix table is
    // the only full scan), the exact full-dim cosine re-ranks the
    // RescoreC survivors. Same slim candidate frame + join-back shape
    // as s_bq_topk; prefix cosines use the same unrolled IEEE chain as
    // every other cosine here, so the coarse cut is bit-exact too.
    "s_mrl_topk" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_mrl_topk", dir)(
      annFrame(s, "ann:s_mrl_topk") {
      val e = sigBase(s, dir) // shared sig-augmented base — one cache, not one per entry
      val q = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn"),
          col("pn").as("qpn")))
      val wc = Window.partitionBy("q").orderBy(col("pcos").desc, col("vec_id").asc)
      val cand = q.join(e, col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          (prefixDot(col("qv"), col("v"), MrlDim) / (col("qpn") * col("pn"))).as("pcos"))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= RescoreC)
        .select("q", "vec_id")
      topk(cand.join(e.select(col("vec_id"), col("v"), col("n")), "vec_id")
        .join(q.select(col("q"), col("qv"), col("qn")), "q")
        .select(col("q"), col("vec_id"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos")))
    })),

    "s_mrl_recall" -> recallOf("s_mrl_topk"),

    // IVF-BOUNDED binary-quantized retrieval — the production
    // composition the flat s_bq_topk signature scan stands in for:
    // hamming runs only over the NProbe probed cells' signatures (the
    // s_ivfpq candidate shape applied to sign bits), so the coarse
    // term is CELL-bounded — N/K × NProbe signatures per query instead
    // of N — and the exact rescore still touches only RescoreC
    // survivors. The per-cell signatures derive once per vector from
    // the persisted IVF assignment (the in-memory analog of storing
    // the 16-byte sigs IN the index cells — AnnIndexStore's cell
    // parquet would carry them as two BIGINT columns); query-side sigs
    // come off the shared sigBase cache. Hamming ties break on vec_id,
    // so the candidate set and final ranking stay deterministic
    // cross-engine.
    "s_ivf_bq" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_ivf_bq", dir)(
      annFrame(s, "ann:s_ivf_bq") {
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val sigCells = assigned.select(col("vec_id"), col("cid"),
        bqSig(col("v"), 0).as("s1"), bqSig(col("v"), 32).as("s2"))
      val e = vecs(s, dir)
      val qsig = broadcast(sigBase(s, dir).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("s1").as("t1"), col("s2").as("t2")))
      val wc = Window.partitionBy("q").orderBy(col("ham").asc, col("vec_id").asc)
      val cand = probeCells(e, cents).select("q", "cid")
        .join(qsig, "q")
        .join(sigCells, "cid")
        .filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          (bit_count(col("t1").bitwiseXOR(col("s1")))
            + bit_count(col("t2").bitwiseXOR(col("s2")))).as("ham"))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= RescoreC)
        .select("q", "vec_id")
      val qs = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn")))
      topk(cand.join(e.select(col("vec_id"), col("v"), col("n")), "vec_id")
        .join(qs, "q")
        .select(col("q"), col("vec_id"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos")))
    })),

    // recall@K of the cell-bounded BQ pass vs brute force — priced next
    // to s_bq_recall so the IVF bound's accuracy cost is a read-off.
    "s_ivf_bq_recall" -> recallOf("s_ivf_bq"),

    // IVF-BOUNDED Matryoshka retrieval — the same cell-bounding applied
    // to the prefix-dim coarse pass (the verdict named the gap for BOTH
    // flat scans): the 16-dim prefix cosine ranks only the NProbe
    // probed cells' vectors, prefix norms ride in from the shared
    // sigBase cache, and the exact full-dim cosine rescores the
    // RescoreC survivors. Same slim (q, vec_id) candidate frame as
    // s_ivf_bq — full vectors join back only for the rescore.
    "s_ivf_mrl" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_ivf_mrl", dir)(
      annFrame(s, "ann:s_ivf_mrl") {
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val pn = sigBase(s, dir).select(col("vec_id"), col("pn"))
      val e = vecs(s, dir)
      val qp = broadcast(sigBase(s, dir).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv2"), col("pn").as("qpn")))
      val wc = Window.partitionBy("q").orderBy(col("pcos").desc, col("vec_id").asc)
      val cand = probeCells(e, cents).select("q", "cid")
        .join(qp, "q")
        .join(assigned.select(col("vec_id"), col("cid"), col("v")), "cid")
        .filter(col("vec_id") =!= col("q"))
        .join(pn, "vec_id")
        .select(col("q"), col("vec_id"),
          (prefixDot(col("qv2"), col("v"), MrlDim) / (col("qpn") * col("pn"))).as("pcos"))
        .withColumn("crn", row_number().over(wc))
        .filter(col("crn") <= RescoreC)
        .select("q", "vec_id")
      val qs = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn")))
      topk(cand.join(e.select(col("vec_id"), col("v"), col("n")), "vec_id")
        .join(qs, "q")
        .select(col("q"), col("vec_id"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos")))
    })),

    "s_ivf_mrl_recall" -> recallOf("s_ivf_mrl"),

    // LATE-INTERACTION retrieval (ColBERT-shape MaxSim): each vector's
    // PqM fixed 8-dim slices act as its per-token embeddings, and a
    // pair scores sum over query tokens of the MAX dot against the
    // doc's tokens — the multi-vector relevance that single-vector
    // cosine can't express (a doc matching each query facet with a
    // DIFFERENT region scores high here, low there). Candidates are
    // cell-bounded by the same IVF probe as s_ivf_ann (late interaction
    // is a RERANKER at scale — the 64-dot MaxSim never touches the full
    // corpus), scoring is ONE codegen projection per candidate pair
    // (greatest() selections over unrolled IEEE dot chains, floored to
    // micro-units and summed as BIGINT — row-local, order-free, exact
    // cross-engine), and only (q, vec_id, ms) crosses the top-K window.
    "s_maxsim" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_maxsim", dir)(
      annFrame(s, "ann:s_maxsim") {
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val e = vecs(s, dir)
      val w = Window.partitionBy("q").orderBy(col("ms").desc, col("vec_id").asc)
      probeCells(e, cents).select("q", "qv", "cid")
        .join(assigned.select(col("vec_id"), col("cid"), col("v")), "cid")
        .filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"), maxSimMicro(col("qv"), col("v")).as("ms"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= K)
        .select(col("q"), col("vec_id"), col("ms").as("maxsim_micro"), col("rn"))
        .orderBy("q", "rn")
    })),

    // PER-TOKEN retrieval + MaxSim rerank — the ColBERT-faithful
    // architecture that CLOSES s_maxsim_recall's measured blind spot:
    // instead of bounding candidates by the single-vector cells (which
    // rank by aligned cosine — exactly the signal a multi-facet match
    // lacks), every corpus TOKEN indexes into its own 8-dim IVF space,
    // each query token probes its nearest token-cells, and any doc
    // with ANY token in ANY probed cell becomes a candidate for the
    // full MaxSim rerank. Candidates are still cell-bounded (8 tokens
    // x NProbe cells x cell population — linear-ish, never corpus-
    // wide), but the recall signal is now per-facet. Token scoring is
    // raw DOT (tokens are slices, not unit vectors — no norm, no
    // zero-norm edge). s_maxsim (the cheap rerank) and this entry form
    // the measured ablation: their two recall evals price the
    // first-stage choice. Since round 13 the token cells are a
    // STANDING AnnIndexStore artifact (built once, priced in
    // s_index_build): this entry is the PRODUCTION probe — pointer
    // resolve, broadcast centroid scoring, partition-PRUNED cell scan
    // (only the ≤ NQ·8·np probed cell directories are read), rerank.
    "s_maxsim_tok" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_maxsim_tok", dir)(
      annFrame(s, "ann:s_maxsim_tok") {
      val e = vecs(s, dir)
      val path = tokIndexPath(s, dir)
      val (cents0, _) = graft.sources.AnnIndexStore.read(s, path)
      val cb = broadcast(cents0.select(col("cid"), col("cv")))
      val wP = Window.partitionBy("q", "t")
        .orderBy(col("pdot").desc, col("cid").asc)
      val probes = broadcast(
        toksOf(e.filter(col("vec_id") < NQueries))
          .withColumnRenamed("vec_id", "q")
          .join(cb)
          .select(col("q"), col("t"), col("cid"),
            subDot(col("tv"), col("cv")).as("pdot"))
          .withColumn("prn", row_number().over(wP))
          // the K the STANDING index was built with (override-aware
          // via nCentroidsTok) — deriving from the corpus count alone
          // would skew the probed fraction under SPARK_GRAFT_NCENTROIDS
          .filter(col("prn") <= nProbeTok(nCentroidsTok(s, dir)))
          .select("q", "cid"))
      // bounded collect (≤ NQ·8·np cids) parameterizes partition pruning
      val cids = probes.select("cid").distinct().collect().map(_.getLong(0))
      val pruned = graft.sources.AnnIndexStore.readCells(s, path, cids.toSeq)
      val cand = probes.join(pruned.select("vec_id", "cid"), "cid")
        .filter(col("vec_id") =!= col("q"))
        .select("q", "vec_id").distinct()
      val qs = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv")))
      val w = Window.partitionBy("q").orderBy(col("ms").desc, col("vec_id").asc)
      cand.join(e.select(col("vec_id"), col("v")), "vec_id")
        .join(qs, "q")
        .select(col("q"), col("vec_id"), maxSimMicro(col("qv"), col("v")).as("ms"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= K)
        .select(col("q"), col("vec_id"), col("ms").as("maxsim_micro"), col("rn"))
        .orderBy("q", "rn")
    })),

    // INCREMENTAL token-index upsert — the s_ivf_upsert convention on
    // the token index, completing its lifecycle (build → store → probe
    // → UPSERT): the standing centroid draw sees only OLD vectors'
    // tokens (K derived from the old token population, probe count
    // from that K), tonight's batch assigns ONLY its own tokens
    // against the standing broadcast centroids (O(delta·8·K); the
    // standing cells are reused, never recomputed), and queries probe
    // the merged cells exactly like s_maxsim_tok. The oracle is the
    // full one-shot recompute over old-drawn centroids — per-token
    // argmax is independent, so the gate itself proves merged ==
    // rebuild.
    "s_tok_upsert" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_tok_upsert", dir)(
      annFrame(s, "ann:s_tok_upsert") {
      val e = vecs(s, dir)
      val (tNew, kOldTok, cents, standing) = tokOldIndex(s, dir)
      val cb = broadcast(cents)
      // standing cells (the memoized nightly artifact) ∪ delta
      val merged = standing
        .unionByName(tokAssign(toksOf(e.filter(col("vec_id") >= tNew)), cb))
      val wP = Window.partitionBy("q", "t")
        .orderBy(col("pdot").desc, col("cid").asc)
      val probes = broadcast(
        toksOf(e.filter(col("vec_id") < NQueries))
          .withColumnRenamed("vec_id", "q")
          .join(cb)
          .select(col("q"), col("t"), col("cid"),
            subDot(col("tv"), col("cv")).as("pdot"))
          .withColumn("prn", row_number().over(wP))
          .filter(col("prn") <= nProbeTok(kOldTok))
          .select("q", "cid"))
      val cand = probes.join(merged.select("vec_id", "cid"), "cid")
        .filter(col("vec_id") =!= col("q"))
        .select("q", "vec_id").distinct()
      val qs = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv")))
      val w = Window.partitionBy("q").orderBy(col("ms").desc, col("vec_id").asc)
      cand.join(e.select(col("vec_id"), col("v")), "vec_id")
        .join(qs, "q")
        .select(col("q"), col("vec_id"), maxSimMicro(col("qv"), col("v")).as("ms"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= K)
        .select(col("q"), col("vec_id"), col("ms").as("maxsim_micro"), col("rn"))
        .orderBy("q", "rn")
    })),

    // upsert recall vs the same brute-force multi-vector truth — the
    // merged index answers to the SAME bar as the from-scratch one
    "s_tok_upsert_recall" -> maxSimRecallOf("s_tok_upsert"),

    // recall@K of the cell-bounded MaxSim rerank vs BRUTE-FORCE MaxSim
    // over the full corpus — the multi-vector ground truth, NOT the
    // cosine one: late interaction's documented blind spot is exactly
    // that a single-vector first stage can miss a multi-facet match
    // whose aligned cosine is low, and this entry PRICES that loss
    // (every other ANN path here has its recall eval; the rerank
    // deserves the same honesty). The brute side pays the 512-mul-add
    // scorer corpus-wide — fine for NQueries ground-truth queries,
    // which is why it lives in the eval, not the retrieval path.
    "s_maxsim_recall" -> maxSimRecallOf("s_maxsim"),

    // per-token retrieval recall vs the same multi-vector truth — read
    // next to s_maxsim_recall, the pair prices the first-stage choice
    "s_maxsim_tok_recall" -> maxSimRecallOf("s_maxsim_tok"),

    // DBSCAN density clustering (Ester et al. 1996 semantics, index-
    // bounded neighborhoods), DEDUP-FIRST (round 14): near-exact
    // replica groups collapse to one representative BEFORE the radius
    // graph — the production ordering (exact/near-dup collapse, then
    // density clustering) that screens the replica pathology the
    // round-13 curvature table measured (10 mutual near-copies per
    // vector put ~100x radius edges and ~10x core-core CC edges on
    // every point; slope 0.64/decade on the sf1e replica corpus).
    //
    // The gate corpus is embeddings ∪ the d_semdedup twin (+0.05 on
    // component 1, cosine ~0.9995), so REAL replica groups exist at
    // every scale and the screen arithmetic is oracle-verified, not
    // prose. Screen: LSH-bucket-bounded pairs at cosine ≥
    // ReplicaTauMicro → connected components → rep = min member id,
    // m = group size. The rep corpus then runs the classic chain —
    // hash-drawn K(N_reps) centroids, argmax assignment, NProbe probed
    // cells, in-radius pairs at DbEpsMicro — with MULTIPLICITY-WEIGHTED
    // degrees: deg(rep) = Σ m(in-radius nbr reps) + (m(rep) − 1), its
    // own co-replicas counting (they sit at ≥ ReplicaTau ≫ eps). Core
    // = deg ≥ DbMinPts; clusters = components over core-core edges;
    // border adopts the SMALLEST adjacent core cluster; members
    // inherit their rep's deg/role/cluster. Candidate volume is
    // reps·NProbe·cell-population — never all-pairs, and never
    // replica-inflated; the replica screen itself is bucket-bounded
    // (expected bucket population N/2^NPlanes).
    "s_dbscan" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_dbscan", dir)(
      annFrame(s, "ann:s_dbscan") {
      val e0 = vecs(s, dir)
      val twin = e0.select((col("vec_id") + 100000L).as("vec_id"), col("label"),
          concat(array(element_at(col("v"), 1) + 0.05),
            slice(col("v"), 2, 63)).as("v"))
        .withColumn("n", VecOps.norm(col("v")))
      // the twin corpus feeds the bucket self-join (both sides), the
      // rep projection and the final expand — materialize once
      val e = graft.CacheBook.keep(s, "s")(e0.unionByName(twin).select("vec_id", "v", "n")
        .localCheckpoint(true))
      // replica screen: BANDED same-bucket candidates (4 bands × 16
      // planes — each band's 2^16 bucket space keeps the in-bucket
      // pair term tiny while a ≥0.99 pair almost surely shares at
      // least one band: P(miss all four) ≈ (1−0.85)^4 even at the
      // twin's per-plane flip rate), DISTINCT, then near-exact verify.
      // The fixed-2^8 single-bucket screen was itself the quadratic
      // term the screen exists to remove (measured: the N²/256
      // in-bucket join dominated the sf1e decade).
      val bk = e.select(col("vec_id"), col("v"), col("n"),
        explode(array((0 until 4).map(bi =>
          struct(lit(bi).as("bi"),
            VecOps.lshBucketAt(col("v"), bi * 16, 16).as("bk"))): _*)).as("band"))
        .select(col("vec_id"), col("v"), col("n"),
          col("band.bi").as("bi"), col("band.bk").as("bk"))
      val rp = bk.as("x").join(bk.as("y"),
          col("x.bi") === col("y.bi") && col("x.bk") === col("y.bk")
            && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
        .distinct()
        .join(e.select(col("vec_id").as("a"), col("v").as("av"), col("n").as("an")), "a")
        .join(e.select(col("vec_id").as("b"), col("v").as("bv"), col("n").as("bn")), "b")
        .filter(floor(VecOps.cosine(col("av"), col("bv"),
            col("an"), col("bn")) * lit(1000000.0)).cast("long")
          >= ReplicaTauMicro)
        .select("a", "b")
      val rlbl = graft.operators.ConnectedComponents.run(rp)
        .select(col("id").as("vec_id"), col("cluster").as("rep"))
      // (vec_id → rep) for EVERY vector; feeds multiplicity + expand —
      // both consumers re-join two checkpoint-backed frames (e and the
      // CC labels), so no checkpoint of its own
      val rmap = e.select(col("vec_id")).join(rlbl, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("rep"), col("vec_id")).as("rep"))
      val mult = rmap.groupBy("rep").agg(count(lit(1)).as("m"))
      // the representative corpus (vec_id, v, n, m) — what DBSCAN sees
      val reps = graft.CacheBook.keep(s, "s")(
        e.join(mult.withColumnRenamed("rep", "vec_id"), "vec_id").localCheckpoint(true))
      val k = kFor(reps.count())
      // ONE reps-grain top-NProbe pass serves BOTH the assignment
      // (rn = 1) and the probe set (rn ≤ NProbe) — the constant-bank
      // expression ranks exactly as the oracle's two CTEs' row_number
      // (cosine desc, cid asc; see [[collectCosineBank]])
      val bank = collectCosineBank(reps
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("n").as("cn")))
      // a null vector or norm gets a null probe array, which posexplode
      // drops — the row the old inner broadcast join dropped too
      val ranked = graft.CacheBook.keep(s, "s")(reps
        .select(col("vec_id"), col("v"), col("n"),
          posexplode(graft.functions.NearestCentroids.nearest(
            bank, col("v"), math.max(1, NProbe), col("n"))).as(Seq("pos", "cid")))
        .select(col("vec_id"), col("v"), col("n"), col("cid"),
          (col("pos") + 1).as("rn"))
        .localCheckpoint(true))
      val assigned = ranked.filter(col("rn") === 1)
        .select("vec_id", "v", "n", "cid")
      val probes = ranked
        .select(col("vec_id").as("src"), col("v").as("qv"), col("n").as("qn"),
          col("cid"))
      // the radius-edge relation feeds THREE consumers (degree mass,
      // core-core edges, border adoption) — persist once, family-scoped
      val pairs = probes.join(assigned, "cid")
        .filter(col("vec_id") =!= col("src"))
        .select(col("src"), col("vec_id").as("nbr"),
          floor(VecOps.cosine(col("qv"), col("v"), col("qn"), col("n"))
            * lit(1000000.0)).cast("long").as("cm"))
        .filter(col("cm") >= DbEpsMicro)
        .select("src", "nbr")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.CacheBook.keep(s, "s")(graft.CacheBook.materialize(pairs))
      val nbrMass = pairs.join(mult.withColumnRenamed("rep", "nbr"), "nbr")
        .groupBy("src").agg(sum("m").as("nm"))
      val deg = reps.select(col("vec_id").as("src"), col("m"))
        .join(nbrMass, Seq("src"), "left")
        .select(col("src"),
          (coalesce(col("nm"), lit(0L)) + col("m") - 1).as("deg"))
      val core = deg.filter(col("deg") >= DbMinPts).select(col("src").as("id"))
      val coreEdges = pairs
        .join(core.withColumnRenamed("id", "src"), "src")
        .join(core.withColumnRenamed("id", "nbr"), "nbr")
        .select("src", "nbr")
      // a core with no core neighbor keeps its own id as the cluster
      val coreLbl = core
        .join(graft.operators.ConnectedComponents.run(coreEdges), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
      val borderLbl = pairs
        .join(coreLbl.withColumnRenamed("id", "nbr"), "nbr")
        .join(core.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .groupBy("src").agg(min("cluster").as("cluster"))
      val repOut = deg
        .join(coreLbl.select(col("id").as("src"), col("cluster").as("ccl")),
          Seq("src"), "left")
        .join(borderLbl.select(col("src"), col("cluster").as("bcl")),
          Seq("src"), "left")
        .select(col("src").as("rep"), col("deg"),
          when(col("ccl").isNotNull, lit("core"))
            .when(col("bcl").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("ccl"), col("bcl"), lit(-1L)).as("cluster"))
      // members inherit their representative's deg/role/cluster
      rmap.join(repOut, "rep")
        .select(col("vec_id"), col("deg"), col("role"), col("cluster"))
        .orderBy("vec_id")
    })),

    // DBSCAN eps TUNING CURVE — the s_probe_sweep discipline on the
    // radius graph (the r12 verdict item: every other cut line here is
    // priced — d_jaccard_bands, s_probe_sweep, x_quality_calib — and
    // the density radius deserves the same audit): core/border/noise
    // population per eps band in ONE pass. The cm-retaining pair
    // relation is built once at the LOOSEST band (same NProbe-cell
    // bound as s_dbscan — never all-pairs), each pair fans out to
    // every band it clears (explode of a ≤4-long list), and role
    // counts are per-band aggregates + one core-neighbor semi join —
    // NO component run (roles don't need labels). Reading the knee of
    // n_core/n_noise across bands IS the eps decision a rollout makes
    // before committing DbEpsMicro.
    "s_dbscan_sweep" -> ((s, dir) => {
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val e = vecs(s, dir)
      // constant-bank top-NProbe expression — see [[collectCosineBank]];
      // a null vector or norm gets a null probe array, which explode
      // drops — the row the old inner broadcast join dropped too
      val probes = e.select(col("vec_id").as("src"), col("v").as("qv"),
        col("n").as("qn"),
        explode(graft.functions.NearestCentroids.nearest(
          collectCosineBank(cents), col("v"), NProbe, col("n"))).as("cid"))
      val bandArr = array(DbSweepBands.map(lit(_)): _*)
      // one row per (pair, band-it-clears); consumed by deg AND the
      // border semi-join — persist once, family-scoped
      val bp = probes.join(assigned, "cid")
        .filter(col("vec_id") =!= col("src"))
        .select(col("src"), col("vec_id").as("nbr"),
          floor(VecOps.cosine(col("qv"), col("v"), col("qn"), col("n"))
            * lit(1000000.0)).cast("long").as("cm"))
        .filter(col("cm") >= DbSweepBands.min)
        .select(col("src"), col("nbr"),
          explode(filter(bandArr, b => col("cm") >= b)).as("eps"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.CacheBook.keep(s, "s")(graft.CacheBook.materialize(bp))
      val core = bp.groupBy("eps", "src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= DbMinPts).select("eps", "src")
      val border = bp
        .join(core.withColumnRenamed("src", "nbr"), Seq("eps", "nbr"), "left_semi")
        .join(core, Seq("eps", "src"), "left_anti")
        .select("eps", "src").distinct()
      val n = vecCount(s, dir) // the memoized scalar — no extra scan
      import s.implicits._
      val bandsDf = DbSweepBands.toDF("eps")
      val nc = core.groupBy("eps").agg(count(lit(1)).as("n_core"))
      val nb = border.groupBy("eps").agg(count(lit(1)).as("n_border"))
      bandsDf.join(nc, Seq("eps"), "left").join(nb, Seq("eps"), "left")
        .select(col("eps").as("eps_micro"),
          coalesce(col("n_core"), lit(0L)).as("n_core"),
          coalesce(col("n_border"), lit(0L)).as("n_border"),
          (lit(n) - coalesce(col("n_core"), lit(0L))
            - coalesce(col("n_border"), lit(0L))).as("n_noise"))
        .orderBy("eps_micro")
    }),

    // PERSONALIZED PageRank (random walk with restart) — per-seed graph
    // relevance over the KNN graph, the "more like THIS" counterpart of
    // s_graph_rank's global centrality (retrieval re-ranking, seed-set
    // expansion, label propagation from a trusted doc). The rank frame
    // is SPARSE — only (q, vec_id) pairs the walk has reached carry
    // rows, so per-seed work is bounded by the expanding neighborhood
    // (≤ deg^iters), never N per seed; same integer-micro trajectory as
    // s_graph_rank (pr div deg contributions, 0.15 restart mass to the
    // seed alone), same memoized edges⋈deg relation, checkpoint every
    // 2 rounds. Output: top-PprK per seed among strictly-positive
    // scores (both engines gate pr > 0 BEFORE ranking, so sparse-vs-
    // dense formulations cannot disagree on tail rows).
    "s_ppr" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_ppr", dir)(
      annFrame(s, "ann:s_ppr") {
      val ed = graphEd(s, dir)
      val restart = vecs(s, dir).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("vec_id"), lit(150000L).as("dpr"))
      var pr = vecs(s, dir).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("vec_id"), lit(1000000L).as("pr"))
      for (i <- 1 to PprIters) {
        val contrib = ed.join(pr, ed("src") === pr("vec_id"))
          .select(pr("q"), ed("nbr"), expr("pr div deg").as("c"))
          .groupBy("q", "nbr").agg(sum("c").as("sv"))
          .select(col("q"), col("nbr").as("vec_id"),
            expr("(850 * sv) div 1000").as("dpr"))
        pr = contrib.unionByName(restart)
          .groupBy("q", "vec_id").agg(sum("dpr").as("pr"))
          .filter(col("pr") > 0)
        if (i % 2 == 0 && i < PprIters) {
          pr = graft.CacheBook.keep(s, "s")(pr.localCheckpoint(true))
        }
      }
      val w = Window.partitionBy("q").orderBy(col("pr").desc, col("vec_id").asc)
      pr.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= PprK)
        .select("q", "vec_id", "pr", "rn")
        .orderBy("q", "rn")
    })),

    // ANN evaluation: recall@K of the LSH index vs the brute-force
    // baseline, per query. Both rankings are bit-exact deterministic, so
    // recall is an exact integer ratio — the oracle recomputes BOTH
    // pipelines in SQL and must agree exactly. (recallOf resolves the
    // sibling queries lazily, after this Map is constructed.)
    "s_ann_recall" -> recallOf("s_lsh_ann"),

    // recall@K of the IVF index vs the same brute-force baseline —
    // together with s_ann_recall this prices BOTH scale paths' accuracy
    // against their cost (probes vs multi-probe buckets) in one exact,
    // oracle-checked number per query.
    "s_ivf_recall" -> recallOf("s_ivf_ann"),

    // NDCG@K — the GRADED retrieval eval recall can't give (recall
    // counts set membership; NDCG reads whether the index returns the
    // right items in the right ORDER): relevance grade = K+1−exact_rank
    // from the brute-force truth, position discount = 1/log2(pos+1) as
    // a FIXED ppm table baked into both engines (the benfordPpm
    // discipline — no in-query log), DCG one integer sum over the
    // K·NQueries join of the two memoized top-K relations, normalized
    // by the closed-form ideal (every grade at its own position) in
    // one integer division. Zero corpus cost beyond the shared builds.
    "s_ndcg" -> ((s, dir) => {
      val grades = bfTopk(s, dir).select(col("q"), col("vec_id"),
        (lit(K + 1) - col("rn")).cast("long").as("grade"))
      val disc = NdcgDiscPpm.zipWithIndex.foldLeft(lit(0L): Column) {
        case (acc, (d, i)) => when(col("rn") === i + 1, d).otherwise(acc) }
      Similarity.queries("s_ivf_ann")(s, dir)
        .select(col("q"), col("vec_id"), disc.as("disc"))
        .join(grades, Seq("q", "vec_id"), "left")
        .select(col("q"),
          (coalesce(col("grade"), lit(0L)) * col("disc")).as("gd"))
        .groupBy("q").agg(sum("gd").as("dcg_scaled"))
        .select(col("q"), col("dcg_scaled"),
          expr(s"CAST((1000000 * dcg_scaled) div $NdcgIdcg AS BIGINT)")
            .as("ndcg_ppm"))
        .orderBy("q")
    }),

    // RECALL@k TUNING CURVE — the sweep discipline on the retrieval
    // cut itself (s_probe_sweep tunes how hard to search; this tunes
    // how much to RETURN): recall of the IVF path at k = 1/3/5 in one
    // pass over the two memoized top-K relations (each truth row fans
    // to every k whose cut covers it; hits need BOTH ranks inside k).
    // Corpus cost is zero beyond the shared builds — the relation is
    // K·NQueries rows — and reading precision-vs-k IS the serving-K
    // decision a retrieval rollout makes.
    "s_recall_curve" -> ((s, dir) => {
      val bf = bfTopk(s, dir).select(col("q"), col("vec_id"),
        col("rn").as("brn"))
      val ann = Similarity.queries("s_ivf_ann")(s, dir)
        .select(col("q"), col("vec_id"), col("rn").as("arn"))
      bf.join(ann, Seq("q", "vec_id"), "left")
        .select(col("brn"), col("arn"),
          explode(array(Seq(1, 3, 5).map(lit(_)): _*)).as("k"))
        .filter(col("brn") <= col("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("arn").isNotNull && col("arn") <= col("k"), 1L)
            .otherwise(0L)).as("hits"))
        .select(col("k"), col("n_truth"), col("hits"),
          expr("CAST((1000000 * hits) div n_truth AS BIGINT)")
            .as("recall_ppm"))
        .orderBy("k")
    }),

    // IVF flavor: centroids are a deterministic K(N)-sample (the
    // kFor(N) lowest by md5(vec_id) — a hash-ordered draw both
    // engines compute identically, K derived from the corpus count by
    // the one pinned formula); every vector is assigned to its nearest
    // centroid; queries probe the NProbe nearest centroid cells and
    // search only those. K ~ sqrt(N) keeps assignment O(N^1.5) with a
    // bounded broadcast and cell population ~sqrt(N) — the measured
    // r12 curvature fix (a modulo sample's centroid set grows linearly
    // and the assignment quadratically — the r03 scale defect).
    "s_ivf_ann" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_ivf_ann", dir)(
      annFrame(s, "ann:s_ivf_ann")(ivfAnn(s, dir, refine = false)))),

    // SIMPLIFIED SILHOUETTE per IVF cell — the clustering-quality audit
    // of the standing index (s_index_health counts cell populations;
    // this reads whether the GEOMETRY is any good): per point, own-
    // centroid vs best-other-centroid cosine distance, s = (b−a)/b ∈
    // [0,1] (a ≤ b is FORCED by the nearest-centroid assignment, so the
    // max(a,b) of the textbook form is just b). Simplified (vs-centroid)
    // silhouette IS the distributed variant — the full pairwise form is
    // O(N²); this is the SAME O(N·K) broadcast pass the assignment
    // already pays, and the memoized buildIvfIndex relations feed it.
    // Per-point scores floor to integer ppm (identical IEEE chains both
    // engines), per-cell means are integer divisions of BIGINT sums.
    "s_silhouette" -> ((s, dir) => {
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val sc = assigned.select(col("vec_id"), col("v"), col("n"), col("cid"))
        .join(broadcast(cents.select(col("cid").as("cid2"),
          col("cv"), col("cn"))))
        .select(col("vec_id"), col("cid"), col("cid2"),
          VecOps.cosine(col("v"), col("cv"), col("n"), col("cn")).as("ccos"))
      sc.groupBy("vec_id", "cid")
        .agg(max(when(col("cid2") === col("cid"), col("ccos"))).as("owncos"),
          max(when(col("cid2") =!= col("cid"), col("ccos"))).as("othcos"))
        .select(col("cid"),
          when(lit(1.0) - col("othcos") <= 0.0, lit(0L))
            .otherwise(floor(lit(1000000.0)
              * ((lit(1.0) - col("othcos")) - (lit(1.0) - col("owncos")))
              / (lit(1.0) - col("othcos"))).cast("long")).as("s_ppm"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_points"),
          expr("CAST(sum(s_ppm) div count(*) AS BIGINT)").as("mean_sil_ppm"),
          min("s_ppm").as("min_sil_ppm"))
        .orderBy("cid")
    }),

    // DUNN INDEX (centroid-diameter variant) — the separation half of
    // the index-geometry audit (s_silhouette reads per-point fit; Dunn
    // reads the worst-case ratio: nearest centroid pair vs fattest
    // cell): sep = min over centroid pairs of cosine distance — a K×K
    // comparison, and K=√N makes that O(N) work, bounded and tiny next
    // to the assignment — and diam = 2·max point-to-own-centroid
    // distance off the SAME memoized assignment relation. Both floor
    // to ppm BEFORE the min/max (floor is monotone, so floor-then-min
    // equals min-then-floor, and the selected values are integers both
    // engines agree on); the final ratio is one integer division of
    // two one-row scalars.
    "s_dunn" -> ((s, dir) => {
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val c1 = cents.select(col("cid").as("i"), col("cv").as("vi"),
        col("cn").as("ni"))
      val c2 = cents.select(col("cid").as("j"), col("cv").as("vj"),
        col("cn").as("nj"))
      val sep = c1.join(broadcast(c2), col("i") < col("j"))
        .select(floor((lit(1.0) - VecOps.cosine(col("vi"), col("vj"),
          col("ni"), col("nj"))) * lit(1000000.0)).cast("long").as("d"))
        .agg(min("d").as("min_sep_ppm"))
      val diam = assigned.join(broadcast(cents), "cid")
        .select(floor((lit(1.0) - VecOps.cosine(col("v"), col("cv"),
          col("n"), col("cn"))) * lit(2000000.0)).cast("long").as("dd"))
        .agg(max("dd").as("max_diam_ppm"))
      sep.crossJoin(diam)
        .withColumn("dunn_ppm",
          expr("CAST((1000000 * min_sep_ppm) div max_diam_ppm AS BIGINT)"))
    }),

    // the SAME IVF index with the codebook Lloyd-refined — shipped as a
    // sibling query because the choice is a measured TRADE, not an
    // upgrade: on this corpus (near-uniform synthetic embeddings, no
    // cluster structure) balancing the cells LOWERS recall@{NProbe}
    // at equal candidate cost (10/25 -> 6/25 at sf0.01, numpy sweep over
    // iters x nprobe), while on naturally-clustered data it is the
    // standard production choice. Both variants answer to oracles; the
    // two recall evals price them side by side.
    "s_ivf_kmeans" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_ivf_kmeans", dir)(
      annFrame(s, "ann:s_ivf_kmeans")(ivfAnn(s, dir, refine = true)))),

    "s_ivf_kmeans_recall" -> recallOf("s_ivf_kmeans"),

    // INCREMENTAL index maintenance — the nightly-embedding-ingest path
    // that completes the standing-index lifecycle (build → store →
    // health → probe → UPSERT): the last 20% of vec_ids play the new
    // batch. The standing index predates the batch, so its hash-ordered
    // centroid draw sees only OLD vectors; upserting assigns ONLY the
    // delta against the standing K-row broadcast centroids (O(delta·K);
    // the standing assignment — in production the AnnIndexStore
    // artifact — is reused, never recomputed) and unions the cells.
    // Queries then probe the merged index exactly like s_ivf_ann.
    // IvfUpsertSpec proves merged == from-scratch rebuild against the
    // same centroids (per-vector argmax is independent), so nightly
    // upserts never drift from a rebuild.
    "s_ivf_upsert" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_ivf_upsert", dir)(
      annFrame(s, "ann:s_ivf_upsert") {
      val (tNew, seed) = oldSeed(s, dir)
      queryIvf(s, dir, seed, upsertAssign(vecs(s, dir), seed, tNew))
    })),

    "s_ivf_upsert_recall" -> recallOf("s_ivf_upsert"),

    // PROBE-COUNT tuning curve — the d_jaccard_bands of the vector
    // index: recall@K per query at nprobe = 1..4 in ONE pass. The
    // candidate relation is scored once at the widest setting; each
    // candidate then fans out to every sweep point that would include
    // it (nprobe >= its cell's probe rank — an explode of a <=4-int
    // sequence, not four probe pipelines), and per-(nprobe, q) windows
    // rank the fanned frame. This is the query a capacity review runs
    // to set the probes knob: the marginal recall of each extra probe
    // against its candidate volume, priced on the standing index.
    "s_probe_sweep" -> ((s, dir) => {
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val e = vecs(s, dir)
      val qRaw = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn"))
      val wProbe = Window.partitionBy("q").orderBy(col("pcos").desc, col("cid").asc)
      val ranked = broadcast(qRaw.join(cents)
        .select(col("q"), col("qv"), col("qn"), col("cid"),
          VecOps.cosine(col("qv"), col("cv"), col("qn"), col("cn")).as("pcos"))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= 4))
      val cand = ranked.join(assigned, "cid")
        .filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("prn"), col("vec_id"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos"))
        .withColumn("nprobe", explode(sequence(col("prn"), lit(4))))
      val wb = Window.partitionBy("nprobe", "q")
        .orderBy(col("cos").desc, col("vec_id").asc)
      val ann = cand.withColumn("rn", row_number().over(wb))
        .filter(col("rn") <= K)
        .select(col("nprobe"), col("q"), col("vec_id"), lit(1).as("hit"))
      val bfp = bfTopk(s, dir).select("q", "vec_id")
        .withColumn("nprobe", explode(sequence(lit(1), lit(4))))
      bfp.join(ann, Seq("nprobe", "q", "vec_id"), "left")
        .groupBy("nprobe", "q")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("int").as("hits"))
        .select(col("nprobe"), col("q"), col("hits"),
          (col("hits") / lit(K.toDouble)).as("recall"))
        .orderBy("nprobe", "q")
    }),

    // FILTERED ANN — the vector-DB "filtered search" mode: top-K among
    // candidates satisfying a metadata predicate (label % 3 == 0),
    // via POST-filtering the probed IVF cells. The label rides in the
    // cell relation itself (see buildIvfIndex) so the predicate prunes
    // candidates inside the probe join — no corpus-side metadata join.
    // Post-filter is the right default when the predicate keeps a
    // meaningful fraction (here ~1/3); a highly selective predicate
    // starves the probed cells and wants either more probes or a
    // pre-filtered per-label index — s_filtered_recall prices exactly
    // that starvation against the filtered brute force.
    "s_filtered_ann" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_filtered_ann", dir)(
      annFrame(s, "ann:s_filtered_ann") {
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val e = vecs(s, dir)
      val probes = probeCells(e, broadcast(cents))
      topk(probes.join(assigned.filter(col("label") % 3 === 0), "cid")
        .filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos")))
    })),

    // recall vs the FILTERED brute force (the unfiltered baseline would
    // undercount: ground truth under a predicate is the best matching
    // rows, not the best rows that happen to match)
    "s_filtered_recall" -> ((s, dir) => {
      val e = vecs(s, dir)
      val qs = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn")))
      val bf = topk(e.filter(col("label") % 3 === 0).join(qs)
        .filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos")))
        .select("q", "vec_id")
      val ann = Similarity.queries("s_filtered_ann")(s, dir)
        .select(col("q"), col("vec_id"), lit(1).as("hit"))
      bf.join(ann, Seq("q", "vec_id"), "left")
        .groupBy("q")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("int").as("hits"))
        .select(col("q"), col("hits"), (col("hits") / lit(K.toDouble)).as("recall"))
        .orderBy("q")
    }),

    // RANGE (radius) search — the other vector-DB retrieval mode: ALL
    // neighbors with cosine ≥ τ, not a fixed top-K ("find every
    // near-duplicate / every match above the relevance bar"). Same
    // sub-linear IVF probe as s_ivf_ann — the radius predicate is a
    // row-local filter on the probed cells, so cost is identical to a
    // top-K probe while the result size floats with the data. The
    // threshold compares in floored MICRO-units so the boundary
    // decision is integer-exact cross-engine (a cos within 1e-16 of τ
    // must land on the same side in both engines). τ sits above the
    // corpus's p99 cosine — selective, as a dedup/match radius is.
    "s_range_search" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_range_search", dir)(
      annFrame(s, "ann:s_range_search") {
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val probes = probeCells(vecs(s, dir), broadcast(cents))
      probes.join(assigned, "cid")
        .filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos"))
        .filter(floor(col("cos") * lit(1000000.0)).cast("long") >= RangeTauMicro)
        .orderBy("q", "vec_id")
    })),

    // recall of the IVF range search vs the RADIUS-filtered brute
    // force (ground truth under a radius is every in-radius row). A
    // query with an empty true result set counts recall 1.0 — there
    // was nothing to miss; per-query true/found counts ship alongside
    // so the gate pins the exact sets, not just the ratio.
    "s_range_recall" -> ((s, dir) => {
      val e = vecs(s, dir)
      val qs = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn")))
      val bf = qs.join(e, col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos"))
        .filter(floor(col("cos") * lit(1000000.0)).cast("long") >= RangeTauMicro)
        .select("q", "vec_id")
      val ann = Similarity.queries("s_range_search")(s, dir)
        .select(col("q"), col("vec_id"), lit(1).as("hit"))
      val truth = bf.join(ann, Seq("q", "vec_id"), "left")
        .groupBy("q")
        .agg(count(lit(1)).as("n_true"), count(col("hit")).as("hits"))
      qs.select("q").join(truth, Seq("q"), "left")
        .select(col("q"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          when(coalesce(col("n_true"), lit(0L)) === 0, lit(1.0))
            .otherwise(coalesce(col("hits"), lit(0L)) / coalesce(col("n_true"), lit(0L)))
            .as("recall"))
        .orderBy("q")
    }),

    // TRIANGLE count over the KNN graph — the local-clustering signal
    // (how cliquish is each vector's neighborhood) that separates a
    // corpus with real near-duplicate clusters from uniform noise;
    // the graph sibling of d_cluster's global view. Edges
    // canonicalize to undirected u<w pairs, wedges come from ONE
    // self-equi-join on the shared endpoint (a<b<c by construction —
    // each triangle forms exactly one wedge+closure, no /3 fixup),
    // and a second equi-join closes them. On a KnnK-bounded graph the
    // wedge relation is O(N·KnnK²) — degree-bounded, never quadratic
    // in N; the canonical edge list persists because three join
    // branches read it.
    "s_triangle_count" -> ((s, dir) =>
      // knnUnd (round 14 OPT): the canonical edge list is the shared
      // named memo — three join branches read its checkpointed blocks
      graft.operators.TriangleCount.perNode(knnUnd(s, dir)).orderBy("vec_id")),

    // COMMUNITY detection by synchronous label propagation (Raghavan
    // et al. 2007) over the KNN graph — the soft-clustering sibling
    // of ConnectedComponents' hard reachability: labels start as own
    // ids and each round every node adopts its neighborhood's
    // MAJORITY label (count-desc, min-label tie-break — fully
    // deterministic, so bounded-round synchronous LPA has one exact
    // answer both engines reproduce). Per round: one edge equi-join +
    // one (node,label) count + one per-node argmax window — O(iters ·
    // edges) like PageRank, never quadratic; the bidirectional edge
    // relation persists across rounds and each round's labels
    // localCheckpoint (the next round joins them once, but lineage
    // would still stack). Output pairs each node with its community
    // and the community's size.
    "s_label_prop" -> ((s, dir) => {
      val lab = lpaLabels(s, dir)
      lab.join(lab.groupBy("lbl").agg(count(lit(1)).as("csize")), "lbl")
        .select(col("vec_id"), col("lbl").as("community"), col("csize"))
        .orderBy("vec_id")
    }),

    // COMMUNITY-QUALITY audit: Newman MODULARITY of the LPA partition
    // (Q = Σ_c [e_c/m − (d_c/2m)²] — the standard goodness score that
    // says whether s_label_prop's communities beat a random wiring
    // with the same degree sequence). Shares the LPA trajectory with
    // s_label_prop through the named lpaLabels memo (the loop runs
    // once per session, whichever entry touches it first). Per
    // community: intra edges e_c from ONE canonical-edge double label
    // join, degree mass d_c from the endpoint expansion, both linear
    // in |edges|; the per-term ppm arithmetic floors in DECIMAL(38,0)
    // (d_c² overflows BIGINT past m ≈ 2e9 edges) identically on both
    // engines, and the global Q is a window sum over the
    // |communities|-row relation — never the graph.
    "s_modularity" -> ((s, dir) => {
      // knnUnd (round 14 OPT): shared canonical-edge memo — this entry
      // reads it for e_in and the degree mass, never builds its own
      val und = knnUnd(s, dir)
      val lab = lpaLabels(s, dir)
      val m = und.agg(count(lit(1)).as("m"))
      val ein = und
        .join(lab.select(col("vec_id").as("u"), col("lbl").as("lu")), "u")
        .join(lab.select(col("vec_id").as("w"), col("lbl").as("lw")), "w")
        .filter(col("lu") === col("lw"))
        .groupBy(col("lu").as("community")).agg(count(lit(1)).as("e_in"))
      val dsum = und.select(col("u").as("vec_id"))
        .unionByName(und.select(col("w").as("vec_id")))
        .join(lab, "vec_id")
        .groupBy(col("lbl").as("community")).agg(count(lit(1)).as("d_sum"))
      lab.groupBy(col("lbl").as("community")).agg(count(lit(1)).as("csize"))
        .join(ein, Seq("community"), "left")
        .join(dsum, Seq("community"), "left")
        .na.fill(0L, Seq("e_in", "d_sum"))
        .crossJoin(broadcast(m))
        .select(col("community"), col("csize"), col("e_in"), col("d_sum"),
          expr("""CAST((1000000 * e_in) div m
            - (CAST(1000000 AS DECIMAL(38,0)) * d_sum * d_sum)
              div (CAST(4 AS DECIMAL(38,0)) * m * m) AS BIGINT)""")
            .as("contrib_ppm"))
        .withColumn("q_ppm", sum("contrib_ppm")
          .over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .orderBy("community")
    }),

    // LINK PREDICTION over the KNN graph — the graph-completion /
    // recommendation primitive (which unlinked pairs LOOK linked):
    // candidate pairs are the 2-hop wedges (one bidirectional-edge
    // self-join on the shared midpoint — O(Σ deg²), degree-bounded by
    // the KNN K, never all-pairs), existing edges anti-join away, and
    // each survivor scores by common-neighbor count + neighborhood
    // Jaccard in integer ppm (|Γa∩Γb| div |Γa∪Γb|). Top-20 by
    // (common, jaccard, pair) is a TakeOrdered — (a,b) is unique per
    // candidate, so the cut is a total order, never planner-tied.
    "s_link_pred" -> ((s, dir) => {
      // shared relations (round 14 OPT): the undirected graph, the
      // degree table and the wedge aggregate are named memos this entry
      // splits with s_adamic_adar — see wedgeAgg for the equivalence
      val und = knnUnd(s, dir)
      val deg = knnUndDeg(s, dir)
      val cand = wedgeAgg(s, dir).select("a", "b", "common")
      cand.join(und,
          cand("a") === und("u") && cand("b") === und("w"), "left_anti")
        .join(deg.select(col("src").as("a"), col("deg").as("dega")), "a")
        .join(deg.select(col("src").as("b"), col("deg").as("degb")), "b")
        .select(col("a"), col("b"), col("common"),
          expr("""CAST((1000000 * common) div (dega + degb - common)
            AS BIGINT)""").as("jaccard_ppm"))
        .orderBy(col("common").desc, col("jaccard_ppm").desc,
          col("a"), col("b"))
        .limit(20)
    }),

    // ADAMIC–ADAR link scoring — the degree-aware upgrade of
    // s_link_pred's common-neighbor Jaccard (a shared RARE neighbor is
    // stronger evidence than a shared hub): AA(a,b) = Σ 1/ln(deg z)
    // over the common neighbors, with 1/ln(d) as a FIXED ppm table
    // (d = 2..64, hubs clamp at 64 — the standard practical cap) so no
    // in-query log can drift cross-engine; the weight attaches to the
    // wedge relation by one codegen element_at against the broadcast-
    // literal table. Wedge work is degree-bounded (O(N·deg²) on the
    // KnnK graph), candidates anti-join the existing edges, top-20 by
    // TakeOrdered with total tie-break.
    "s_adamic_adar" -> ((s, dir) => {
      // shared wedge aggregate (round 14 OPT) — built once, also read
      // by s_link_pred; this entry is the anti-join + top-20 readout
      val und = knnUnd(s, dir)
      val aa = wedgeAgg(s, dir)
      aa.join(und, aa("a") === und("u") && aa("b") === und("w"), "left_anti")
        .orderBy(col("aa_ppm").desc, col("common").desc, col("a"), col("b"))
        .limit(20)
    }),

    // SEED-DISTANCE labeling — multi-source BFS from the query seeds
    // over the KNN graph: the proximity-to-trusted-set signal a
    // curation pipeline ranks by (docs within h hops of a vetted seed
    // corpus) and the graph-health eccentricity profile. Synchronous
    // frontier expansion is deterministic; per round one frontier
    // semi-join + one visited anti-join over the memoized graph —
    // O(rounds · edges), early-exit when a round finds nothing, each
    // layer checkpointed once and the visited set a FLAT union of
    // cached layers (see SeedBfs for the quadratic trap this avoids).
    // Unreached nodes label -1 so the output stays total; the oracle
    // unrolls the expansion rounds.
    "s_seed_dist" -> ((s, dir) => {
      val und = graft.operators.TriangleCount
        .canonical(knnGraph(s, dir).select("src", "nbr"))
      val d = graft.operators.SeedBfs.run(und, col("vec_id") < NQueries,
        BfsRounds, "s")
      d.join(d.groupBy("dist").agg(count(lit(1)).as("n_at_dist")), "dist")
        .select(col("vec_id"), col("dist"), col("n_at_dist"))
        .orderBy("vec_id")
    }),

    // CONTRASTIVE TRAINING-PAIR mining — the negative-sampling op an
    // embedding-training pipeline runs over its corpus: per query,
    // HARD negatives are the top-scoring IVF probe candidates BELOW
    // the positive threshold (RangeTauMicro — at-or-above is a
    // near-dup, not a negative), and RANDOM negatives are
    // hash-indexed draws from the id space (md5 % N — deterministic,
    // retry-stable), both exact-cosine-scored in integer micro-units
    // and positives filtered by the same integer band on both paths.
    // Scale shape: hard candidates are IVF-cell-bounded (the same
    // equi-join probe s_ivf_ann prices, never brute force), random
    // draws are a constant per query, and the query frame broadcasts
    // — nothing here scans the corpus beyond the probed cells plus
    // RandNegK point lookups.
    "s_negatives" -> ((s, dir) => {
      val e = vecs(s, dir)
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val micro = (q: Column, v: Column, qn: Column, n: Column) =>
        floor(VecOps.cosine(q, v, qn, n) * lit(1000000.0)).cast("long")
      val wk = Window.partitionBy("q").orderBy(col("cos_micro").desc, col("cand").asc)
      val hard = probeCells(e, cents).join(assigned, "cid")
        .filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id").as("cand"),
          micro(col("qv"), col("v"), col("qn"), col("n")).as("cos_micro"))
        .filter(col("cos_micro") < RangeTauMicro)
        .withColumn("rank", row_number().over(wk))
        .filter(col("rank") <= HardNegK)
        .withColumn("kind", lit("hard"))
      val qs = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn")))
      val rand = qs.join(broadcast(e.agg(count(lit(1)).as("nvec"))))
        .select(col("q"), col("qv"), col("qn"),
          explode(sequence(lit(0), lit(RandNegK - 1))).as("j"), col("nvec"))
        .select(col("q"), col("qv"), col("qn"),
          (Determinism.md5Idx(concat(lit("rng#"), col("q").cast("string"),
            lit("#"), col("j").cast("string"))) % col("nvec")).as("cand"))
        .filter(col("cand") =!= col("q"))
        .join(e.select(col("vec_id").as("cand"), col("v"), col("n")), "cand")
        .select(col("q"), col("cand"),
          micro(col("qv"), col("v"), col("qn"), col("n")).as("cos_micro"))
        .filter(col("cos_micro") < RangeTauMicro)
        .withColumn("rank", row_number().over(wk))
        .withColumn("kind", lit("random"))
      hard.unionByName(rand)
        .select(col("q"), col("cand"), col("kind"),
          col("cos_micro"), col("rank").cast("int").as("rank"))
        .orderBy("q", "kind", "rank")
    }),

    // ONION-LAYER decomposition by synchronous k-core peeling — the
    // graph-centrality profile of the KNN graph: each round removes
    // every node whose alive-degree < KcoreK at once, and a node's
    // peel_layer is the round that removed it (0 = survived — the
    // k-core; this KnnK=3 graph peels fully, so the layer histogram
    // IS the output's structure). Deterministic by synchronicity; the
    // loop is O(rounds · edges) — two semi-joins + a degree count per
    // round over the memoized graph, early-exit at fixpoint, per-round
    // localCheckpoint. The oracle unrolls KcoreRounds peel stages;
    // rounds past the fixpoint peel nothing on both sides, so the
    // bound is slack, not semantics. Output pairs each node with its
    // layer and the layer's population.
    "s_kcore_peel" -> ((s, dir) => {
      val und = graft.operators.TriangleCount
        .canonical(knnGraph(s, dir).select("src", "nbr"))
      val lay = graft.operators.KcorePeel.run(und, KcoreK, KcoreRounds, "s")
      lay.join(lay.groupBy("peel_layer").agg(count(lit(1)).as("layer_size")),
          "peel_layer")
        .select(col("vec_id"), col("peel_layer"), col("layer_size"))
        .orderBy("vec_id")
    }),

    // KNN-DISTANCE novelty / outlier scoring — the density-based OOD
    // screen of embedding curation (Sun et al. 2022 flavor: a point
    // whose similarity to even its OWN nearest neighbors is low sits
    // in a sparse region — mislabeled, off-distribution, or noise).
    // Score = the memoized KNN graph's WORST retained-neighbor cosine
    // per node in integer micro-units; the outlier flag compares
    // against the corpus 5th percentile of that score, computed once
    // and broadcast back (the q_outliers fence idiom — no global
    // window, no sort). Cost on top of the standing graph: one
    // per-node aggregate + one scalar broadcast.
    "s_knn_outlier" -> ((s, dir) => {
      // the per-node score relation feeds both fence passes + the flag
      // join: materialize it once off the standing graph memo
      // (memoInput, released with the "s" family scope). min(cos) is
      // clamped into [-1, 1] before micro-scaling so a float cosine a
      // hair past -1 can't floor to -1000001 and leave the fence
      // helper's tight-bucket offset domain.
      val kd = graft.operators.BoundedPercentile.memoInput(
        knnGraph(s, dir).groupBy("src").agg(
          count(lit(1)).as("n_nbrs"),
          floor(greatest(least(min(col("cos")), lit(1.0)), lit(-1.0))
            * lit(1000000.0)).cast("long").as("kth_cos_micro")),
        "s")
      // bounded two-pass exact p05 (BoundedPercentile): cosines span
      // [-1e6, 1e6] micro-units, so the offset shifts the domain
      // nonnegative for the div-bucketing and is subtracted back
      // exactly; no percentile() buffer of the per-node score multiset
      val thr = graft.operators.BoundedPercentile.fences(kd,
        Seq.empty, "kth_cos_micro",
        Seq(graft.operators.BoundedPercentile.Spec("thr", 1, 20)),
        width = 1L << 12, offset = 1000000L, scope = "s")
      kd.join(broadcast(thr))
        .select(col("src").as("vec_id"), col("n_nbrs"), col("kth_cos_micro"),
          (col("kth_cos_micro") <= col("thr")).as("is_outlier"))
        .orderBy("vec_id")
    }),

    // EMBEDDING DRIFT per label — the embedding-space shift monitor an
    // encoder upgrade or data-composition change is audited with: the
    // corpus splits into two deterministic md5 halves (standing in for
    // two snapshots), per-(label, dim) centroid means are computed over
    // the int8-QUANTIZED vectors (the s_int8_topk contract — integer
    // sums are exact in any order, so the centroids carry zero
    // float-summation surface), and each label reports its L1 centroid
    // shift plus the single worst-drifting dimension. Scale shape: one
    // posexplode to (label, half, dim) cells, one |labels|·dims
    // aggregate, everything after that is cell-sized.
    "s_embed_drift" -> ((s, dir) => {
      val qv = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.Int8Quantize(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("v"))))
      val cells = vecs(s, dir).select(col("label"), qv.as("qv"),
          (Determinism.md5Idx(concat(lit("dr#"), col("vec_id").cast("string")))
            % 2).cast("int").as("half"))
        .select(col("label"), col("half"), posexplode(col("qv")))
        .toDF("label", "half", "dim", "qval")
        // an all-zero (or NaN-poisoned) vector quantizes to NaN per
        // component; pin it to 0 EXPLICITLY on both engines — Spark's
        // silent NaN→0 long cast vs DuckDB's cast error would
        // otherwise diverge on the first degenerate embedding.
        .withColumn("q0l",
          when(isnan(col("qval")), 0L).otherwise(col("qval").cast("long")))
      val byDim = cells.groupBy("label", "dim").agg(
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("half") === 0, col("q0l")).otherwise(0L)).as("s0"),
          sum(when(col("half") === 1, col("q0l")).otherwise(0L)).as("s1"))
        .select(col("label"), col("dim"), col("c0"), col("c1"),
          // DECIMAL(38,0) before the 1e6 multiply: the per-(label,
          // half, dim) sums are corpus-sized, and plain-long (1e6·s)
          // wraps past ~7e10 vectors per label-half while the DuckDB
          // mirror's HUGEINT sums sail on — a silent divergence, not
          // an error.
          abs(expr("(1000000 * CAST(s1 AS DECIMAL(38,0))) div c1")
            - expr("(1000000 * CAST(s0 AS DECIMAL(38,0))) div c0"))
            .as("dmicro"))
      // top dim folded into the ONE label aggregate via struct-max
      // (dmicro desc, dim asc tie-break as (dmicro, -dim) max) — a
      // window + self-join here would re-run the corpus explode twice.
      byDim.groupBy("label").agg(max("c0").as("n0"), max("c1").as("n1"),
          sum("dmicro").as("l1_drift_micro"),
          max(struct(col("dmicro"), (-col("dim")).as("nd"))).as("top"))
        .select(col("label"), col("n0"), col("n1"), col("l1_drift_micro"),
          (-col("top.nd")).cast("int").as("top_dim"),
          col("top.dmicro").as("top_drift_micro"))
        .orderBy("label")
    }),

    // CORESET selection by k-center greedy (Gonzalez farthest-point)
    // — the diversity-first data-selection primitive (seed sets for
    // active learning, eval-set picking, diverse fine-tuning
    // subsets): each round adds the point LEAST similar to everything
    // already selected. Each round is one corpus scan against a
    // broadcast ≤CoreK-row center table → per-point max-similarity in
    // floored micro-units → global argmin as a TakeOrdered(1) (never
    // a full sort), so the whole selection is CoreK scans whatever
    // the corpus size; the greedy trajectory incl. tie-breaks is
    // integer-exact cross-engine, and the seed is the same
    // hash-ordered deterministic draw the IVF centroids use. The
    // maxsim_micro column is the coverage radius curve — the quality
    // certificate (greedy is 2-approx for the k-center radius).
    "s_coreset" -> ((s, dir) => {
      val e = vecs(s, dir)
      var sel = e.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(1)
        .select(col("vec_id"), lit(1).cast("int").as("round"),
          lit(-1L).as("maxsim_micro"))
      for (t <- 2 to CoreK) {
        val sv = broadcast(sel.select("vec_id").join(e, "vec_id")
          .select(col("vec_id").as("c"), col("v").as("cv"), col("n").as("cn")))
        val pick = e.join(sv, col("vec_id") =!= col("c"))
          .groupBy("vec_id")
          .agg(max(floor(VecOps.cosine(col("v"), col("cv"), col("n"), col("cn"))
            * lit(1000000.0)).cast("long")).as("ms"))
          .join(sel.select("vec_id"), Seq("vec_id"), "left_anti")
          .orderBy(col("ms").asc, col("vec_id").asc).limit(1)
          .select(col("vec_id"), lit(t).cast("int").as("round"),
            col("ms").as("maxsim_micro"))
        sel = sel.unionByName(pick)
        // bound plan depth: the next round reads sel twice (center
        // attach + anti-join) — uncheckpointed the plan nests per round
        sel = graft.CacheBook.keep(s, "s")(sel.localCheckpoint(true))
      }
      sel.orderBy("round")
    })
  ) ++ Map[String, (SparkSession, String) => DataFrame](
    // eta-expansion through a lambda: pqAnnBody/ivfpqAnnBody are vals
    // declared below this map (object init order would capture null
    // otherwise)
    "s_pq_ann" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_pq_ann", dir)(
      annFrame(s, "ann:s_pq_ann")(pqAnnBody(s, dir)))),
    "s_pq_recall" -> recallOf("s_pq_ann"),

    // PQ DISTORTION audit — the reconstruction-error half of the PQ
    // eval pair (s_pq_recall prices retrieval accuracy; this prices
    // the QUANTIZER itself, per subspace — the readout that says which
    // subspace's codebook is underfit and whether more Lloyd rounds or
    // more codes would pay): per (vector, subspace) squared L2 to THE
    // deployed codeword (the memoized pqModel codebook — not a
    // recompute), floored to integer micro PER ROW (a fixed-order IEEE
    // chain, so distributed summation order can't perturb the sums),
    // then one map-side-combined aggregate to PqM rows.
    "s_pq_distortion" -> ((s, dir) => {
      val (codes, _, cb) = pqModel(s, dir)
      val e = vecs(s, dir)
      val exSubs = (0 until PqM).map(m =>
        struct(lit(m).as("m"), slice(col("v"), m * PqSub + 1, PqSub).as("xsub")))
      e.select(col("vec_id"), explode(array(exSubs: _*)).as("x"))
        .select(col("vec_id"), col("x.m").as("m"), col("x.xsub").as("xsub"))
        .join(codes, Seq("vec_id", "m"))
        .join(broadcast(cb), Seq("m", "code"))
        .select(col("m"),
          floor(subL2(col("xsub"), col("csub")) * 1000000.0)
            .cast("long").as("d2"))
        .groupBy("m")
        .agg(count(lit(1)).as("n"), sum("d2").as("sum_d2_micro"))
        .select(col("m"), col("n"), col("sum_d2_micro"),
          expr("sum_d2_micro div n").as("mean_d2_micro"))
        .orderBy("m")
    }),

    // IVF-PQ composition — the full production ANN shape: the IVF
    // probe bounds the CANDIDATE SET (sub-linear: only the probed
    // cells' vectors are scored) and PQ bounds the SCORING COST (8
    // codes + a broadcast integer LUT per candidate instead of a
    // 64-dim float dot). Candidates come from the same unrefined IVF
    // index s_ivf_ann prices; scores from the same Lloyd-refined
    // codebook s_pq_ann prices; the recall query prices the composed
    // loss against brute force.
    "s_ivfpq_ann" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_ivfpq_ann", dir)(
      annFrame(s, "ann:s_ivfpq_ann")(ivfpqAnnBody(s, dir)))),
    "s_ivfpq_recall" -> recallOf("s_ivfpq_ann"),

    // the persisted-artifact probe — what a 100 TB query session
    // actually runs: the index is a standing parquet artifact
    // (AnnIndexStore, cells PARTITIONED BY cid), the probe computes its
    // NProbe cells from the K-row centroid file, and the cell scan is
    // PRUNED to those directories (static partition filter from the
    // <= NProbe*NQueries collected cell ids — a scalar pull, same class
    // as the centroid broadcast). Writes the index once per session
    // (memoized tmp-dir artifact); results identical to s_ivf_ann
    // (doubles round-trip parquet bit-exactly).
    "s_ivf_store_probe" -> ((s, dir) => {
      val path = ivfStorePath(s, dir)
      val (cents, _) = graft.sources.AnnIndexStore.read(s, path)
      val probes = probeCells(vecs(s, dir), broadcast(cents))
      val cids = probes.select("cid").distinct().collect().map(_.getLong(0))
      val pruned = graft.sources.AnnIndexStore.readCells(s, path, cids.toSeq)
      topk(probes.join(pruned, "cid")
        .filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos")))
    }),

    // Standing-INDEX HEALTH — the nightly check an index-maintenance
    // loop gates compaction/rebuild on: per-cell population and mean
    // centroid fit (integer micro-units) straight off the persisted
    // artifact, with hot/cold balance flags against the uniform share
    // (hot = over 2x, cold = under 1/2x — a hot cell makes every probe
    // of it scan-heavy, a drifted fit means the quantizer no longer
    // matches the data and recall decays silently). One pruned
    // cells-scan + one broadcast centroid join + one aggregation —
    // O(index size), no corpus rescan, so the check is cheap enough to
    // run every night at any scale. The oracle recomputes the store
    // content from the deterministic assignment.
    "s_index_health" -> ((s, dir) => {
      val path = ivfStorePath(s, dir)
      val (cents, cells) = graft.sources.AnnIndexStore.read(s, path)
      // fit in shifted micro-units, (cos + 1)·1e6 ∈ [0, 2e6]: keeping
      // the summed score non-negative sidesteps the truncate-vs-floor
      // integer-division split between engines on negative sums
      val fit = cells.join(broadcast(cents), "cid")
        .select(col("cid"),
          floor((VecOps.cosine(col("v"), col("cv"), col("n"), col("cn")) + lit(1.0))
            * lit(1000000.0)).cast("long").as("cm"))
      // ONE scan of the cells: the grand total derives from the per-cell
      // aggregate (≤ NCentroids rows) via an all-rows window, not a
      // second evaluation of the fit subtree
      fit.groupBy("cid")
        .agg(count(lit(1)).as("n_vecs"), sum("cm").as("sm"))
        .withColumn("t", sum("n_vecs").over(Window.partitionBy()))
        .select(col("cid"), col("n_vecs"),
          expr("sm div n_vecs").as("fit_micro"),
          (col("n_vecs") * lit(nCentroids(s, dir)) > col("t") * 2).as("hot"),
          (col("n_vecs") * lit(nCentroids(s, dir)) * 2 < col("t")).as("cold"))
        .orderBy("cid")
    }),

    // KNN-GRAPH build — the all-vectors neighbor-list primitive that
    // SemDeDup-style pruning, cluster-based curation, and graph ANN
    // all start from: EVERY vector (not just the NQueries probes)
    // gets its top-KnnK in-cell neighbors. Candidates are bounded by
    // the IVF cells (each vector probes its NProbe nearest cells; the
    // probe side is corpus-sized so this is a cid EQUI-JOIN, never a
    // broadcast of queries), so candidate volume is N * NProbe *
    // cell-population — K(N) already grows ~sqrt(N) by derivation
    // (same note as the IVF build) keeping per-cell work bounded; the
    // quadratic all-pairs term never appears. A (src,nbr) pair can't
    // duplicate across probed cells (a vector is ASSIGNED to exactly
    // one cell), so the top-k window needs no pre-distinct.
    "s_knn_graph" -> ((s, dir) => knnGraph(s, dir).orderBy("src", "rn")),

    // GRAPH-ANN REFINEMENT — one NN-descent round (Dong et al. 2011)
    // over the memoized KNN graph: "a neighbor of my neighbor is
    // likely my neighbor". Candidates per vector are its current
    // neighbors ∪ forward 2-hop neighbors ∪ reverse neighbors —
    // bounded by KnnK + KnnK² + reverse-degree, NEVER all-pairs and
    // never cell-population-bound, which is why this is the standard
    // recall booster on weakly-clustered corpora where IVF cells
    // can't isolate true neighbors. One round = two self-equi-joins
    // of the KnnK*N edge list + two vector-attach joins + a per-src
    // top-K window; iterating = re-running on the refined graph
    // (each round is this same job shape). Exact cosine re-rank, so
    // refined >= seed recall per construction (the seed edges are in
    // the candidate set).
    "s_nn_descent" -> ((s, dir) =>
      descentRound(vecs(s, dir), knnGraph(s, dir).select("src", "nbr"))
        .orderBy("src", "rn")),

    // ITERATED NN-descent to (near-)convergence — the loop over the
    // one-round refinement above, each round the SAME job shape on the
    // refined graph (self-equi-joins + vector-attach + per-src top-K)
    // with ConnectedComponents' checkpoint discipline bounding plan
    // depth. Output is the recall-vs-round CURVE for the probe
    // vectors against the memoized brute-force ground truth (the same
    // baseline every other recall entry prices): recall is monotone
    // non-decreasing per construction — a true top-KnnK member can
    // only be displaced by a higher-cosine candidate, which is itself
    // a true member — and the oracle recomputes the full trajectory.
    "s_nn_descent_k" -> ((s, dir) => {
      val e = vecs(s, dir)
      val bfK = bfTopk(s, dir).filter(col("rn") <= KnnK)
        .select(col("q"), col("vec_id").as("nbr"))
      def recallAt(iter: Int, gr: DataFrame): DataFrame =
        bfK.join(gr.filter(col("src") < NQueries)
            .select(col("src").as("q"), col("nbr"), lit(1).as("hit")),
          Seq("q", "nbr"), "left")
          .groupBy("q")
          .agg(count(col("hit")).cast("int").as("hits"))
          .select(lit(iter).as("iter"), col("q"), col("hits"),
            (col("hits") / lit(KnnK.toDouble)).as("recall"))
      var g = knnGraph(s, dir).select("src", "nbr")
      val curves = collection.mutable.ArrayBuffer(recallAt(0, g))
      for (r <- 1 to DescentRounds) {
        g = descentRound(e, g).select("src", "nbr")
        // compact lineage every round (each round's plan nests the
        // previous graph twice in the 2-hop self-join — unchecked the
        // plan grows exponentially in rounds); blocks release with "s"
        g = graft.CacheBook.keep(s, "s")(g.localCheckpoint(true))
        curves += recallAt(r, g)
      }
      curves.reduce(_ unionByName _).orderBy("iter", "q")
    }),

    // GRAPH-ANN SEARCH — the QUERY path of graph-based ANN (the
    // single-layer HNSW shape): greedy beam search over the memoized
    // KNN graph. Deterministic entry points (the SearchSeeds lowest
    // md5-ordered ids — the same hash-draw as the IVF centroid seed),
    // then SearchRounds expansion rounds: candidates = beam ∪
    // neighbors(beam) via an edge EQUI-join, exact-cosine re-rank,
    // keep top-SearchBeam per query (monotone — the beam is in its own
    // candidate set); the answer is the final beam's top-K excluding
    // the query itself. Per-round work is NQueries × beam × KnnK —
    // INDEPENDENT of corpus size once the graph stands, which is the
    // point of graph ANN at scale (IVF probes scan whole cells; the
    // walk touches only edges). Navigability on this weakly-clustered
    // corpus is priced by s_graph_search_recall against brute force.
    "s_graph_search" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_graph_search", dir)(
      annFrame(s, "ann:s_graph_search") {
      val e = vecs(s, dir)
      val gexp = knnGraph(s, dir).select(col("src").as("vec_id"), col("nbr"))
      val qs = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn")))
      val seeds = broadcast(e
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(SearchSeeds).select("vec_id"))
      // NQueries × SearchSeeds pair-up: 1-row-class broadcast frames,
      // the scalar-subquery join shape (not a data cross join)
      val beam = beamWalk(s, e, qs, gexp,
        qs.select("q").join(seeds), SearchRounds, SearchBeam)
      topk(cosRerank(e, qs, beam.filter(col("vec_id") =!= col("q")))
        .select("q", "vec_id", "cos"))
    })),

    // recall@K of the graph walk vs the same brute-force baseline —
    // prices the navigable-graph trade next to the IVF/LSH/PQ paths.
    "s_graph_search_recall" -> recallOf("s_graph_search"),

    // BEAM-WIDTH tuning curve — the sweep discipline on the graph
    // walk's one knob (s_probe_sweep tunes the IVF path, this the
    // navigable-graph path): the SAME deterministic walk at beam
    // 4/8/16, each answer's recall@K against the memoized brute
    // truth, one row per width. Per-walk work is NQueries × beam ×
    // KnnK per round — corpus-independent once the graph stands — so
    // the sweep costs three beam walks, not three index builds.
    // Reading recall-vs-beam IS the ef_search decision an HNSW
    // deployment makes.
    "s_beam_sweep" -> ((s, dir) => {
      val e = vecs(s, dir)
      val gexp = knnGraph(s, dir).select(col("src").as("vec_id"), col("nbr"))
      val qs = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn")))
      val seeds = broadcast(e
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(SearchSeeds).select("vec_id"))
      val bf = bfTopk(s, dir).select("q", "vec_id")
      // all three widths walk as ONE keyed loop (beamWalkSwept: same
      // trajectories, rounds checkpoints instead of 3x rounds)
      val beams = beamWalkSwept(s, e, qs, gexp,
        qs.select("q").join(seeds), SearchRounds, SweepBeams)
      SweepBeams.map { w =>
        val beam = beams.filter(col("w") === w).select("q", "vec_id")
        topk(cosRerank(e, qs, beam.filter(col("vec_id") =!= col("q")))
          .select("q", "vec_id", "cos"))
          .select("q", "vec_id")
          .join(bf, Seq("q", "vec_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(w).cast("int").as("beam"), col("hits"),
            expr(s"CAST((1000000 * hits) div ${K.toLong * NQueries} AS BIGINT)")
              .as("recall_ppm"))
      }.reduce(_ unionByName _).orderBy("beam")
    }),

    // HIERARCHICAL graph search — the full HNSW descent shape on top
    // of the same standing graph: a sparse layer 1 (each vector
    // promoted by a deterministic md5 draw, ~1/8 — the geometric level
    // assignment of HNSW at fanout 8) is walked FIRST with a narrow
    // beam over the subgraph the layer-0 KNN edges induce on promoted
    // nodes; the layer-1 beam then SEEDS the layer-0 walk. Entry
    // points thus adapt to the query (s_graph_search's are fixed),
    // which is what bounds layer-0 rounds as the corpus grows — the
    // upper layer shrinks the distance-to-target before the expensive
    // wide-beam walk starts. All walk work stays NQueries × beam ×
    // KnnK per round, corpus-independent; the layer-1 subgraph derives
    // from the MEMOIZED layer-0 graph by two semi-joins (no second
    // graph build). Recall priced by s_hnsw_search_recall next to the flat
    // walk — same rounds, better-seeded.
    "s_hnsw_search" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_hnsw_search", dir)(
      annFrame(s, "ann:s_hnsw_search") {
      val e = vecs(s, dir)
      val g0 = knnGraph(s, dir).select(col("src").as("vec_id"), col("nbr"))
      val prom = e.filter(md5(col("vec_id").cast("string")) < lit(HnswPromote))
      val g1 = g0.join(prom.select("vec_id"), "vec_id")
        .join(prom.select(col("vec_id").as("nbr")), "nbr")
        .select("vec_id", "nbr")
      val qs = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn")))
      val seeds1 = broadcast(prom
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(SearchSeeds).select("vec_id"))
      val entries = beamWalk(s, e, qs, g1,
        qs.select("q").join(seeds1), HnswRounds1, HnswBeam1)
      val beam = beamWalk(s, e, qs, g0, entries, SearchRounds, SearchBeam)
      topk(cosRerank(e, qs, beam.filter(col("vec_id") =!= col("q")))
        .select("q", "vec_id", "cos"))
    })),

    "s_hnsw_search_recall" -> recallOf("s_hnsw_search"),

    // INCREMENTAL graph-index upsert — the graph-ANN sibling of
    // s_ivf_upsert (IVF got its nightly-delta path in r11; the graph
    // family's standing artifact had none): the standing KNN graph is
    // built over the OLD corpus only (the same pre-batch boundary and
    // centroid draw as oldSeed — at a deployment it is last night's
    // persisted edge list), and tonight's batch inserts WITHOUT a
    // rebuild by the classic navigable-graph insert (Malkov & Yashunin's
    // HNSW insert, single-layer form): each new vector beam-searches
    // the standing graph for its KnnK nearest residents, links
    // BIDIRECTIONALLY, and every touched node re-prunes to its KnnK
    // best by cosine (the shrink-connections step) — so a new near-dup
    // displaces a resident's weakest edge and becomes reachable. The
    // entry then runs the standard fixed-seed search over the UPSERTED
    // graph; recall (s_graph_upsert_recall) is priced against brute
    // force over the FULL corpus, so unreachable new vectors show up
    // as lost recall — the metric a nightly insert actually watches.
    // Scale shape: the insert walk is per-new-vector independent
    // (rounds x beam x KnnK edge lookups, corpus-independent — in
    // production the delta shards into bounded sub-batches), the merge
    // + prune touches only base edges ∪ 2x|delta|xKnnK new edges, and
    // the base graph builds cell-bounded like knnGraph. The delta
    // query frame broadcasts like the NQueries frame (bounded by the
    // nightly window, not the corpus).
    "s_graph_upsert" -> ((s, dir) => graft.CacheBook.memo(s, "s", "ann:s_graph_upsert", dir)(
      annFrame(s, "ann:s_graph_upsert") {
      val e = vecs(s, dir)
      val (tNew, _) = oldSeed(s, dir)
      val eOld = e.filter(col("vec_id") < tNew)
      val gBase = knnBase(s, dir)
      val seeds = broadcast(eOld
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(SearchSeeds).select("vec_id"))
      // 1) insert walk: the delta plays the query side, re-ranked
      // against the OLD corpus only (a new vector cannot route through
      // tonight's other arrivals — matches the sequential-insert
      // semantics a streaming writer would produce)
      val qNew = broadcast(e.filter(col("vec_id") >= tNew)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn")))
      val found = beamWalk(s, eOld, qNew,
        gBase.select(col("src").as("vec_id"), col("nbr")),
        qNew.select("q").join(seeds), SearchRounds, SearchBeam)
      val newOut = cosRerank(eOld, qNew, found)
        .filter(col("brn") <= KnnK)
        .select(col("q").as("src"), col("vec_id").as("nbr"), col("cos"))
      // 2) merge + prune: base ∪ new-out ∪ reverse(new-out), top-KnnK
      // per src by (cos desc, nbr) — the three edge sets are disjoint
      // by id-domain (old→old / new→old / old→new), so no distinct
      val wp = Window.partitionBy("src").orderBy(col("cos").desc, col("nbr").asc)
      val gUp = gBase.select("src", "nbr", "cos")
        .unionByName(newOut)
        .unionByName(newOut.select(col("nbr").as("src"),
          col("src").as("nbr"), col("cos")))
        .withColumn("rn", row_number().over(wp))
        .filter(col("rn") <= KnnK)
        .select(col("src").as("vec_id"), col("nbr"))
      // 3) the standard fixed-seed search, now over the upserted graph
      // and re-ranked against the FULL corpus (new nodes may enter)
      val qs = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn")))
      val beam = beamWalk(s, e, qs, gUp,
        qs.select("q").join(seeds), SearchRounds, SearchBeam)
      topk(cosRerank(e, qs, beam.filter(col("vec_id") =!= col("q")))
        .select("q", "vec_id", "cos"))
    })),

    "s_graph_upsert_recall" -> recallOf("s_graph_upsert"),

    // MMR — maximal-marginal-relevance diversified re-rank (Carbonell &
    // Goldstein 1998), the standard result-diversification step between
    // retrieval and consumption (RAG context assembly, dedup-aware
    // sampling): greedily pick MmrK results from the top-MmrPool
    // candidate pool, each round's winner maximizing
    // 0.7*relevance - 0.3*max-similarity-to-already-picked. All scores
    // are integer micro-units (floor(cos*1e6), weights 7/3 over 10) so
    // the greedy trajectory — including every tie-break — is
    // bit-identical cross-engine. Scale shape: the pool is
    // top-MmrPool-per-query (in production the ANN result feeds it), so
    // the pairwise-similarity relation is NQueries x MmrPool² —
    // CONSTANT in corpus size; the greedy loop unrolls into MmrK-1
    // join+argmax rounds over those bounded frames with per-round
    // checkpoints (each round references the selected set twice).
    "s_mmr" -> ((s, dir) => {
      val e = vecs(s, dir)
      val qs = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn")))
      // candidate pool: top-MmrPool by exact cosine, ranked on the
      // MICRO-unit score (identical rank keys in both engines)
      val wPool = Window.partitionBy("q").orderBy(col("relm").desc, col("vec_id").asc)
      val pool = graft.CacheBook.keep(s, "s")(qs.join(e, col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          floor(VecOps.cosine(col("qv"), col("v"), col("qn"), col("n"))
            * lit(1000000.0)).cast("long").as("relm"))
        .withColumn("prn", row_number().over(wPool))
        .filter(col("prn") <= MmrPool)
        .select("q", "vec_id", "relm")
        // eager CHECKPOINT (round 14 OPT): every greedy round's three
        // relations re-planned the corpus cosine subtree behind a
        // persist; the NQueries*MmrPool-row leaf truncates it
        .localCheckpoint(true))
      // within-pool pairwise similarities: equi-join on q, MmrPool² rows
      // per query, corpus-independent — every greedy round reads this
      val pv = pool.join(e.select(col("vec_id"), col("v"), col("n")), "vec_id")
      val pairs = graft.CacheBook.keep(s, "s")(pv.select(col("q"), col("vec_id").as("a"),
          col("v").as("av"), col("n").as("an"))
        .join(pv.select(col("q"), col("vec_id").as("b"),
          col("v").as("bv"), col("n").as("bn")), "q")
        .filter(col("a") =!= col("b"))
        .select(col("q"), col("a"), col("b"),
          floor(VecOps.cosine(col("av"), col("bv"), col("an"), col("bn"))
            * lit(1000000.0)).cast("long").as("simm"))
        .localCheckpoint(true))
      val wSel = Window.partitionBy("q").orderBy(col("mmr").desc, col("vec_id").asc)
      // the greedy loop runs over <=NQueries*MmrPool-row relations, so
      // it runs under the narrow profile (one job per round instead of
      // 3-4 AQE query-stage jobs of session-width shuffles over ~250
      // rows). Its inputs are materialized checkpoints above, so nothing
      // corpus-scale plans at the narrow width.
      val ranked = graft.Profiles.narrow(s) {
        // round 1: pure relevance (no redundancy term yet)
        var sel = pool
          .withColumn("mmr", lit(7L) * col("relm"))
          .withColumn("srn", row_number().over(wSel))
          .filter(col("srn") === 1)
          .select(col("q"), col("vec_id"), lit(1).cast("int").as("rank"), col("mmr"))
        for (t <- 2 to MmrK) {
          val red = pairs
            .join(sel.select(col("q"), col("vec_id").as("b")), Seq("q", "b"))
            .groupBy(col("q"), col("a")).agg(max(col("simm")).as("redm"))
          val cand = pool.join(sel.select("q", "vec_id"), Seq("q", "vec_id"), "left_anti")
          val pick = cand.join(red,
              cand("q") === red("q") && cand("vec_id") === red("a"))
            .select(cand("q"), cand("vec_id"),
              (lit(7L) * col("relm") - lit(3L) * col("redm")).as("mmr"))
            .withColumn("srn", row_number().over(wSel))
            .filter(col("srn") === 1)
            .select(col("q"), col("vec_id"), lit(t).cast("int").as("rank"), col("mmr"))
          sel = sel.unionByName(pick)
          // bound plan depth: next round references sel in the anti-join
          // AND the redundancy join — unchecked the plan grows ~3^rounds
          sel = graft.CacheBook.keep(s, "s")(sel.localCheckpoint(true))
        }
        sel
      }
      ranked.select(col("q"), col("rank"), col("vec_id"), col("mmr").as("mmr_micro"))
        .orderBy("q", "rank")
    }),

    // GRAPH CENTRALITY over the KNN graph — power-iteration PageRank,
    // the iterated-graph-computation primitive (CC is the other one)
    // behind graph-based quality propagation / hub detection in
    // curation. RankIters fixed iterations, each ONE edge-join + ONE
    // aggregation over the N*KnnK-row memoized edge list — work is
    // O(iters * edges), never quadratic. All arithmetic in integer
    // micro-units with floor division (both engines floor on
    // non-negative longs), so the fixpoint trajectory — not just the
    // final ranking — is bit-identical cross-engine. Dangling mass is
    // dropped (standard simplification; documented, deterministic).
    "s_graph_rank" -> ((s, dir) => {
      // edges⋈deg memoizes persisted (one deg aggregation per session,
      // not one per iteration — unpersisted it would re-aggregate in
      // every iteration's copy of the subtree) and releases with the
      // "s" family scope like every similarity memo. Built by
      // s_index_build's fan-out, so this query prices iteration cost.
      val ed = graphEd(s, dir)
      val ids = vecs(s, dir).select("vec_id")
      var pr = ids.withColumn("pr", lit(1000000L))
      for (i <- 1 to RankIters) {
        val contrib = ed.join(pr, ed("src") === pr("vec_id"))
          .select(col("nbr"), expr("pr div deg").as("c"))
          .groupBy("nbr").agg(sum("c").as("sv"))
        pr = ids.join(contrib, ids("vec_id") === contrib("nbr"), "left")
          .select(ids("vec_id"),
            expr("150000 + (850 * coalesce(sv, CAST(0 AS BIGINT))) div 1000")
              .as("pr"))
        // compact lineage every 2 rounds (ConnectedComponents' round-
        // compaction discipline): plan depth stays bounded however many
        // iterations a workload configures; blocks release with "s".
        if (i % 2 == 0 && i < RankIters) {
          pr = graft.CacheBook.keep(s, "s")(pr.localCheckpoint(true))
        }
      }
      pr.orderBy("vec_id")
    }),

    // HYBRID retrieval with reciprocal-rank fusion — the modern
    // lexical+vector search shape: the query entity's distinct-word
    // overlap ranking over `documents` (doc_id aligns with vec_id by
    // construction) fuses with the memoized brute-force cosine ranking
    // as sum of 1/(60+rank), in integer nano-units so the fusion — and
    // its tie-breaks — are exact cross-engine. A doc missing from one
    // list contributes only its other term (the standard top-K RRF,
    // which is what makes this scale: each side ships only its top-K,
    // never a full ranking). Scale shape: the query side is NQueries
    // docs' words (broadcast); at 100 TB the lexical side would cap
    // posting-list fan-out by dropping high-df query terms — the same
    // df gate x_top_terms already prices.
    "s_hybrid_rrf" -> ((s, dir) => {
      // lexical top-K memoizes like the vector side already does (the
      // r7 driver retry proved the explode→distinct→overlap→window
      // pipeline was re-running per call): K*NQueries rows persisted
      // once per (session, corpus), released with the "s" scope.
      val lex = graft.CacheBook.memo(s, "s", "ann:s_lex_topk", dir)(annFrame(s, "ann:s_lex_topk") {
        val dw = Tables.load(s, dir, "documents")
          .select(col("doc_id").as("id"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0).distinct()
        val qw = broadcast(dw.filter(col("id") < NQueries)
          .select(col("id").as("q"), col("w")))
        val overlap = qw.join(dw, "w").filter(col("id") =!= col("q"))
          .groupBy("q", "id").agg(count(lit(1)).as("ov"))
        val wl = Window.partitionBy("q").orderBy(col("ov").desc, col("id").asc)
        overlap.withColumn("lex_rn", row_number().over(wl))
          .filter(col("lex_rn") <= K).select("q", "id", "lex_rn")
      })
      val vec = bfTopk(s, dir)
        .select(col("q"), col("vec_id").as("id"), col("rn").as("vec_rn"))
      val fused = lex.join(vec, Seq("q", "id"), "full")
        .select(col("q"), col("id"),
          (coalesce(expr("1000000000 div (60 + lex_rn)"), lit(0))
            + coalesce(expr("1000000000 div (60 + vec_rn)"), lit(0)))
            .cast("long").as("rrf"))
      val wf = Window.partitionBy("q").orderBy(col("rrf").desc, col("id").asc)
      fused.withColumn("rank", row_number().over(wf)).filter(col("rank") <= K)
        .select(col("q"), col("rank"), col("id"), col("rrf"))
        .orderBy("q", "rank")
    }),

    // BM25 lexical retrieval — the classic sparse-retrieval ranking
    // (k1=1.2, b=0.75) with the log-IDF replaced by its rational core
    // (N - df + 0.5)/(df + 0.5): the same "rarer term weighs more"
    // monotone signal, but every op is IEEE +,-,*,/ — correctly
    // rounded, hence bit-identical cross-engine (log is NOT: libm
    // results differ in ulps between JVMs and C runtimes). Each
    // (query, doc, term) contribution floors to integer micro-units,
    // so the per-doc sum is order-free and the ranking + tie-breaks
    // are exact. Scale shape: the query-term relation (NQueries docs'
    // distinct words) broadcasts twice — once against the
    // vocabulary-sized df table (result stays query-sized), once
    // against the corpus-sized tf relation (the posting-list probe);
    // doc length joins on doc id. At 100 TB the standard df-ceiling
    // gate (drop query terms with df over a cap — x_top_terms prices
    // exactly that skew) bounds posting-list fan-out.
    "s_bm25" -> ((s, dir) => {
      // ONE derived relation (tf) feeds everything: doc length is
      // sum(tf) per doc, df is its per-term row count, query terms are
      // its id<NQueries slice (already distinct per (id, w)), and the
      // posting-list probe joins it. NOT persisted: the explode+agg is
      // cheaper to recompute than to cache-roundtrip (A/B-measured —
      // cached columnar ser/deser cost ~2x the recompute CPU here),
      // and within the final action Catalyst's ReusedExchange dedups
      // the identical tf shuffle across its three consumers anyway.
      val words = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val tf = words.groupBy("id", "w").agg(count(lit(1)).as("tf"))
        // doc length rides ON the tf relation (window sum over the
        // doc partition — one vocab-sized shuffle) so the candidate
        // relation — the biggest thing this query moves — is produced
        // by ONE broadcast join and shuffled once, by the final
        // per-(q, id) aggregation; a dl equi-join after the probe
        // would shuffle the candidates a second time
        .withColumn("dl", sum("tf").over(Window.partitionBy("id")))
      val dfr = tf.groupBy("w").agg(count(lit(1)).as("df"))
      // corpus scalars stay IN the plan as a broadcast 1-row frame
      // (no driver pull, no extra action): avgdl via the oracle's
      // exact op sequence CAST(sum AS DOUBLE) / count
      val stats = broadcast(
        tf.groupBy("id").agg(first("dl").as("dl"))
          .agg(count(lit(1)).as("n"), sum("dl").as("sdl"))
          .select(col("n"), (col("sdl").cast("double") / col("n")).as("avgdl")))
      val qdf = broadcast(tf.filter(col("id") < NQueries)
        .select(col("id").as("q"), col("w")).join(dfr, "w"))
      val idf = (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
      val den = col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))
      val contrib = floor(((idf * (col("tf") * lit(2.2))) / den) * lit(1000000.0))
      val scored = qdf.join(tf, "w").filter(col("id") =!= col("q"))
        // 1-row broadcast stats frame: BroadcastNestedLoopJoin of a
        // single row — the scalar-subquery shape, not a data cross join
        .join(stats)
        .select(col("q"), col("id"), contrib.as("c"))
        .groupBy("q", "id").agg(sum("c").as("score_u"))
      val wb = Window.partitionBy("q").orderBy(col("score_u").desc, col("id").asc)
      scored.withColumn("rank", row_number().over(wb).cast("int"))
        .filter(col("rank") <= K)
        .select(col("q"), col("rank"), col("id"), col("score_u"),
          (col("score_u") / 1000000.0).as("bm25"))
        .orderBy("q", "rank")
    }),

    // Positional PHRASE search — the exact-match retrieval mode BM25's
    // bag-of-words can't express: find every document containing the
    // query phrase as CONSECUTIVE tokens. Inverted-index shape via the
    // intersect-by-offset trick: the phrase relation (q, j, w) is
    // NQueries x PhraseLen rows and BROADCASTS against the positional
    // posting list (one corpus scan, (id, pos, w)); each posting hit
    // votes for anchor = pos - j, and an anchor that collects all
    // PhraseLen distinct offsets is a phrase occurrence. ONE broadcast
    // join + one map-side-combined aggregation — no corpus self-join
    // per phrase term and no LIKE scan; fan-out is bounded by
    // NQueries x df(term) (the same df-ceiling gate as s_bm25 applies
    // for stopword-only phrases at 100 TB). Duplicate words inside a
    // phrase are handled by construction (each offset j checks
    // independently at its own position).
    "s_phrase" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val toks = split(col("text"), " ")
      val qp = d.filter(col("doc_id") < NQueries)
        .select(col("doc_id").as("q"), posexplode(slice(toks, 1, PhraseLen)))
        .select(col("q"), col("pos").as("j"), col("col").as("w"))
      phraseSearch(d, qp).orderBy("q", "id")
    })
  )

  /** Intersect-by-offset phrase match: `qp` = (q, j, w) phrase terms
    * (tiny — broadcasts), matched against one positional posting scan
    * of `d`; each posting hit votes anchor = pos − j and an anchor
    * holding all PhraseLen distinct offsets is an occurrence.
    * Duplicate words inside a phrase are correct by construction
    * (each offset checks independently at its own position) —
    * PhraseSpec holds that plus multi-occurrence counting. */
  private[graft] def phraseSearch(d: DataFrame, qp: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val posts = d.select(col("doc_id").as("id"), posexplode(toks))
      .select(col("id"), col("pos"), col("col").as("w"))
    val anchored = broadcast(qp).join(posts, "w")
      .select(col("q"), col("id"), (col("pos") - col("j")).as("anchor"), col("j"))
    anchored.groupBy("q", "id", "anchor")
      .agg(countDistinct("j").as("nj"))
      .filter(col("nj") === PhraseLen)
      .groupBy("q", "id")
      .agg(count(lit(1)).cast("int").as("n_hits"),
        min("anchor").cast("int").as("first_pos"))
  }

  /** The recall join/agg tail shared by every recall eval: hits =
    * |bf ∩ ann| per query, exact integer ratio over K. */
  private def recallAgainst(bf: DataFrame, s: SparkSession, dir: String,
      annName: String): DataFrame = {
    val ann = Similarity.queries(annName)(s, dir)
      .select(col("q"), col("vec_id"), lit(1).as("hit"))
    bf.join(ann, Seq("q", "vec_id"), "left")
      .groupBy("q")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("int").as("hits"))
      .select(col("q"), col("hits"), (col("hits") / lit(K.toDouble)).as("recall"))
      .orderBy("q")
  }

  /** recall@K of a MaxSim retrieval path vs BRUTE-FORCE MaxSim over
    * the full corpus — the multi-vector ground truth (the cosine bf is
    * the wrong truth for a MaxSim ranking). The brute side pays the
    * 512-mul-add scorer corpus-wide — fine for NQueries ground-truth
    * queries, which is why it lives in the evals, not the retrieval
    * paths; memoized so the two recall entries share one build. */
  private def maxSimRecallOf(annName: String): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val bf = graft.CacheBook.memo(s, "s", "ann:maxsim_bf", dir)(annFrame(s, "ann:maxsim_bf") {
        val e = vecs(s, dir)
        val qs = broadcast(e.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("q"), col("v").as("qv")))
        val wb = Window.partitionBy("q").orderBy(col("ms").desc, col("vec_id").asc)
        qs.join(e, col("vec_id") =!= col("q"))
          .select(col("q"), col("vec_id"),
            maxSimMicro(col("qv"), col("v")).as("ms"))
          .withColumn("rn", row_number().over(wb))
          .filter(col("rn") <= K)
          .select("q", "vec_id")
      })
      recallAgainst(bf, s, dir, annName)
    }

  /** recall@K of a sibling ANN query vs the brute-force cosine
    * baseline — exact integer ratio, both rankings deterministic. */
  private def recallOf(annName: String): (SparkSession, String) => DataFrame =
    (s, dir) => recallAgainst(bfTopk(s, dir).select("q", "vec_id"), s, dir, annName)

  /** Write the (unrefined) IVF index as a standing AnnIndexStore
    * artifact once per (session, corpus) — the temp-dir stand-in for
    * the nightly build's output location. Released with the "s" scope
    * (artifact deleted, next call rewrites). */
  /** WIDTH ANCHOR for the corpus×K assignment passes (the d_edit_dup
    * item-15 class, found at decade scale in the third round-14
    * session): the tokens×K / vectors×K join + dot + partial
    * WindowGroupLimit evaluate MAP-SIDE at the input's partitioning —
    * scan-inherited, 2 partitions on a single-file gate corpus — so
    * the O(N·K) assignment serialized on 2 tasks (98 cpu-s in one
    * 100 s stage at sf1e; s_index_build 107 → 46 s, s_tok_upsert
    * 78 → 10 s decade walls with the anchor). The keyed repartition
    * satisfies the assignment window's clustering requirement exactly
    * (no second exchange survives) and costs one narrow-row shuffle.
    * Env-tunable: a cluster sizes it to cores like every width knob
    * here (DEPLOY.md); the local default is the session parallelism.
    * Local trade, measured both ways: at 32 SMT threads the spread
    * dense loop holds sibling hyperthreads, inflating the CPU-TIME
    * channel ~2-3x at FLAT sf0.1 wall (the budgets price it); at 8
    * threads (the driver's scaling run) it is neutral-to-better. */
  private[graft] def assignWidth(s: SparkSession): Int =
    sys.env.get("SPARK_GRAFT_ASSIGN_PARTITIONS").flatMap(_.toIntOption)
      .getOrElse(s.sparkContext.defaultParallelism)

  /** Collect a (cid, cv, cn) centroid relation into a constant
    * [[graft.functions.CentroidBank]] — the same K≈√N rows the old
    * plans collected to the driver for their broadcast join, now riding
    * the assignment expression instead (see [[graft.functions
    * .NearestCentroids]]: no N×K row explosion, no window sort; scores
    * and tie-breaks bit-identical by construction). */
  private def collectCosineBank(cents: DataFrame): graft.functions.CentroidBank =
    graft.functions.NearestCentroids.cosineBank(
      cents.select("cid", "cv", "cn").collect().toSeq.map(r =>
        (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))))

  /** Per-token view of a vector frame: each vector's PqM fixed 8-dim
    * slices as rows (vec_id, t, tv) — the multi-vector reading shared
    * by the token index build, its delta upsert, and the probe side. */
  private def toksOf(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("v"),
      explode(array((1 to PqM).map(lit(_)): _*)).as("t"))
      .select(col("vec_id"), col("t"),
        slice(col("v"), (col("t") - 1) * PqSub + 1, lit(PqSub)).as("tv"))

  /** Deterministic token-centroid draw over (vec_id, t) keys from a
    * token frame; cid = draw rank so tie-breaks agree cross-engine. */
  private def tokCentroids(toks: DataFrame, k: Int): DataFrame =
    toks
      .withColumn("dk", md5(concat(col("vec_id").cast("string"), lit("#"),
        col("t").cast("string"))))
      .orderBy(col("dk"), col("vec_id"), col("t"))
      .limit(k)
      .withColumn("cid",
        row_number().over(Window.orderBy(col("dk"), col("vec_id"), col("t"))))
      .select(col("cid").cast("long").as("cid"), col("tv").as("cv"))

  /** Assign a token frame to a standing token-centroid table — argmax
    * raw DOT (tokens are slices, not unit vectors — no norm, no
    * zero-norm edge), cid-asc tie-break. Per-token independent, so
    * batch upserts equal a one-shot assignment of the union (the
    * AnnIndexStore.assign property, restated for the dot metric). */
  private def tokAssign(toks: DataFrame, cents: DataFrame): DataFrame = {
    // round 15: the K-row centroid table (the same rows the old plan
    // broadcast) rides a constant bank inside ONE argmax expression —
    // the former join + row_number window materialized and SORTED the
    // full tokens×K relation just to keep one row per token (a
    // struct-max hash aggregate was A/B-measured 6x slower still:
    // ObjectHashAggregate loses whole-stage codegen). Raw-dot scores
    // accumulate in subDot's exact IEEE order; ties break cid-asc as
    // the window did — assignment identical row for row.
    val bank = graft.functions.NearestCentroids.dotBank(
      cents.select("cid", "cv").collect().toSeq.map(r =>
        (r.getLong(0), r.getSeq[Double](1).toArray)))
    // width anchor — see [[assignWidth]]. A null token slice yields a
    // null cid (the row is kept) where the old inner broadcast join
    // dropped it; token slices of corpus vectors are never null.
    toks.repartition(assignWidth(toks.sparkSession), col("vec_id"), col("t"))
      .select(col("vec_id"),
        sqrt(subDot(col("tv"), col("tv"))).as("n"), col("tv").as("v"),
        element_at(graft.functions.NearestCentroids.nearest(
          bank, col("tv"), 1), 1).as("cid"))
  }

  /** The OLD-token standing index — last night's artifact in the
    * nightly-delta convention, shared by s_tok_upsert (batch upsert)
    * and st_tok_ingest (streaming probe-on-ingest): (tNew boundary,
    * the old-population-derived K, the K-row centroid table, the
    * standing cells = old tokens assigned). Both relations persist +
    * materialize once per (session, corpus); released with "s". */
  private[graft] def tokOldIndex(s: SparkSession,
      dir: String): (Long, Int, DataFrame, DataFrame) =
    graft.CacheBook.memo(s, "s", "tok_old", dir) {
      val e = vecs(s, dir)
      val (tNew, _) = oldSeed(s, dir)
      val oldToks = toksOf(e.filter(col("vec_id") < tNew))
      // K derives from the OLD token population (the count the
      // nightly build saw), override-aware like every draw site
      val kOldTok = centroidOverride.map { k => overrideWarned; k }
        .getOrElse(kFor(PqM.toLong * e.filter(col("vec_id") < tNew).count()))
      // EAGER localCheckpoints, not persists (the item-1 plan tax):
      // behind a persist every consumer of the standing cells
      // (s_tok_upsert's merge, st_tok_ingest's stream-static join)
      // re-planned and re-codegen'd the toksOf-explode + assignment
      // subtree per action; the checkpoint truncates both relations
      // to LogicalRDD leaves. Build shape stays auditable via the
      // recorded build plan (PlanShapeSpec discipline).
      val cents = graft.CacheBook.keep(s, "s")(
        graft.CacheBook.recordBuildPlan(s, "s", "tok_old")(
          tokCentroids(oldToks, kOldTok)).localCheckpoint(true))
      val standing = graft.CacheBook.keep(s, "s")(
        graft.CacheBook.recordBuildPlan(s, "s", "tok_old:cells")(
          tokAssign(oldToks, cents)).localCheckpoint(true))
      (tNew, kOldTok, cents, standing)
    }

  /** STANDING token-level MaxSim index (the r12 "missing #2"): token
    * centroids + cid-partitioned token cells persisted through
    * AnnIndexStore, built once per (session, corpus) — every other
    * winning index family already had the build-once/persist/upsert
    * lifecycle, and the r12 ablation proved per-token retrieval IS the
    * late-interaction architecture that reaches full recall, so it
    * gets the same standing artifact: s_maxsim_tok probes the STORE
    * (pointer resolve + partition-pruned cell scan), the 8N-row
    * explode + draw + O(8N·K) assignment run in the nightly build
    * (priced in s_index_build), and s_tok_upsert extends it with a
    * delta batch. Cells carry (vec_id, v = the 8-dim token slice,
    * n = its norm, cid), so in-cell scoring needs no corpus join. */
  private def tokIndexPath(s: SparkSession, dir: String): String =
    graft.CacheBook.memo(s, "s", "tok_index", dir, deleteStore(s)) {
      val toks = toksOf(vecs(s, dir))
      val cents = tokCentroids(toks, nCentroidsTok(s, dir))
        .withColumn("cn", sqrt(subDot(col("cv"), col("cv"))))
      val cells = tokAssign(toks, cents.select("cid", "cv"))
      val path = java.nio.file.Files.createTempDirectory("graft-tok-store").toString
      graft.sources.AnnIndexStore.write(path, cents, cells)
      path
    }

  private def ivfStorePath(s: SparkSession, dir: String): String =
    graft.CacheBook.memo(s, "s", "ivf_store", dir, deleteStore(s)) {
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val path = java.nio.file.Files.createTempDirectory("graft-ivf-store").toString
      graft.sources.AnnIndexStore.write(path, cents, assigned)
      path
    }

  /** Release of a memoized store artifact: Hadoop delete, not java.io —
    * the store path is a filesystem URI in production (hdfs://, s3a://). */
  private def deleteStore(s: SparkSession)(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Build-once half of the IVF index: (centroid table (cid, cv, cn),
    * cell-assigned vector table (vec_id, v, n, cid)). Persist both with
    * [[graft.sources.AnnIndexStore]] and the index becomes a standing
    * artifact — the nightly build runs once, every query session
    * reloads the cells (cid-partitioned on storage, so a probe reads
    * only its cells' directories) and calls [[queryIvf]].
    *
    * Memoized per (session, corpus, refine) and released with the "s"
    * family scope: s_ivf_ann, s_ivf_recall and s_ivfpq_ann all consume
    * the same assignment — in one session the O(N*K) build runs once,
    * not three times. */
  def buildIvfIndex(s: SparkSession, dir: String,
      refine: Boolean = false): (DataFrame, DataFrame) =
    graft.CacheBook.memo(s, "s", s"ivf:$refine", dir) {
      val e = vecs(s, dir)
      val seed = e
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(nCentroids(s, dir))
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("n").as("cn"))
      // checkpoint the K-row centroid table too: for refine=true its
      // lineage is the whole Lloyd loop over the corpus, and every
      // consumer that broadcasts cents would otherwise re-run it.
      // EAGER localCheckpoints, not persists (the item-1 plan tax):
      // behind a persist every IVF probe (s_ivf_ann, s_filtered_ann,
      // the sweep/upsert/health entries) re-planned and re-codegen'd
      // the corpus×K assignment subtree per action.
      val cents0 = graft.CacheBook.keep(s, "s")(
        graft.CacheBook.recordBuildPlan(s, "s", s"ivf:$refine")(
          if (refine) refineCentroids(e, seed) else seed).localCheckpoint(true))
      val cents = broadcast(cents0)
      // constant-bank argmax expression (see [[collectCosineBank]]):
      // the old plan joined the broadcast K rows and window-sorted the
      // full N×K relation to keep one row per vector
      val bank = collectCosineBank(cents0)
      val assigned = graft.CacheBook.keep(s, "s")(
        graft.CacheBook.recordBuildPlan(s, "s", s"ivf:$refine:cells")(
        e.repartition(assignWidth(s), col("vec_id"))
        // label rides in the cell relation (and thus the persisted
        // cells parquet): the in-memory analog of storing filterable
        // metadata IN the index files, which is what lets filtered
        // search prune candidates without a corpus-side join
        .select(col("vec_id"), col("label"), col("v"), col("n"),
          element_at(graft.functions.NearestCentroids.nearest(
            bank, col("v"), 1, col("n")), 1).as("cid")))
        .localCheckpoint(true))
      (cents, assigned)
    }

  /** Query-many half: probe the NProbe nearest cells per query, exact
    * search within. `cents`/`assigned` may be freshly built or reloaded
    * from [[graft.sources.AnnIndexStore]] — results are identical
    * (round-trip ScalaTest). */
  def queryIvf(s: SparkSession, dir: String, cents0: DataFrame,
      assigned: DataFrame): DataFrame = {
      val e = vecs(s, dir)
      val probes = probeCells(e, broadcast(cents0))
      topk(probes.join(assigned, "cid")
        .filter(col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos")))
  }

  /** The nightly-delta convention shared by s_ivf_upsert and the
    * streaming probe-on-ingest (st_ann_ingest): new batch = last 20%
    * of vec_ids, standing centroid draw sees only pre-batch vectors.
    * The K-row seed is persisted + counted ONCE per (session, corpus)
    * — its lineage is a full-corpus md5 sort that every broadcast
    * consumer (probe, old assignment, delta assignment) would
    * otherwise re-run (the buildIvfIndex cents0 discipline). */
  private[graft] def oldSeed(s: SparkSession, dir: String): (Long, DataFrame) =
    graft.CacheBook.memo(s, "s", "old_seed", dir) {
      val e = vecs(s, dir)
      val tNew = e.agg(max("vec_id")).head().getLong(0) * 4 / 5
      // the standing index predates the batch, so its K derives from
      // the OLD population (the count the nightly build saw)
      val kOld = centroidOverride.map { k => overrideWarned; k }
        .getOrElse(kFor(e.filter(col("vec_id") < tNew).count()))
      // eager localCheckpoint, not persist: the K-row seed's lineage is
      // a full-corpus md5 sort, re-planned per consumer behind a persist
      val seed = graft.CacheBook.keep(s, "s")(
        graft.CacheBook.recordBuildPlan(s, "s", "old_seed")(
          e.filter(col("vec_id") < tNew)
            .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
            .limit(kOld)
            .select(col("vec_id").as("cid"), col("v").as("cv"), col("n").as("cn")))
          .localCheckpoint(true))
      (tNew, seed)
    }

  /** Assign a vector frame to a standing centroid table (argmax cosine,
    * cid tie-break) — the per-vector-independent kernel shared by the
    * delta upsert and the rebuild-equivalence spec. */
  private[graft] def assignTo(part: DataFrame, cents: DataFrame): DataFrame = {
    // constant-bank argmax expression — see [[collectCosineBank]]
    val bank = collectCosineBank(cents)
    // width anchor — see [[assignWidth]]
    part.repartition(assignWidth(part.sparkSession), col("vec_id"))
      .select(col("vec_id"), col("label"), col("v"), col("n"),
        element_at(graft.functions.NearestCentroids.nearest(
          bank, col("v"), 1, col("n")), 1).as("cid"))
  }

  /** The upsert itself: standing assignment (old vectors, in production
    * the stored artifact) ∪ delta assignment (new batch only). */
  private[graft] def upsertAssign(e: DataFrame, cents: DataFrame,
      tNew: Long): DataFrame =
    assignTo(e.filter(col("vec_id") < tNew), cents)
      .unionByName(assignTo(e.filter(col("vec_id") >= tNew), cents))

  /** NProbe nearest cells per query, with the query vector along for
    * the ride — the probe half shared by [[queryIvf]] (in-cell exact
    * cosine needs qv/qn) and the IVF-PQ body (cell ids only). */
  private def probeCells(e: DataFrame, cents: DataFrame): DataFrame = {
      val qRaw = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn"))
      // constant-bank top-NProbe expression — see [[collectCosineBank]]
      broadcast(qRaw.select(col("q"), col("qv"), col("qn"),
        explode(graft.functions.NearestCentroids.nearest(
          collectCosineBank(cents), col("qv"), NProbe, col("qn"))).as("cid")))
  }

  /** Shared IVF body: fixed-K hash-ordered centroid draw, optionally
    * Lloyd-refined ([[refineCentroids]]); assignment, probing, and the
    * in-cell exact search are identical either way. */
  private def ivfAnn(s: SparkSession, dir: String, refine: Boolean): DataFrame = {
      val (cents, assigned) = buildIvfIndex(s, dir, refine)
      queryIvf(s, dir, cents, assigned)
  }

  // Product quantization (ADC flavor): codebooks per 8-dim subspace
  // seeded by the same md5-ordered FIXED draw as IVF, then
  // Lloyd-refined (measured: refinement lifts PQ recall on the gate
  // corpus — unlike IVF above, quantization error benefits from
  // centered codebooks even on unclustered data). Every vector encodes
  // to PqM codes by nearest sub-centroid (L2); queries score candidates
  // through a broadcast lookup table of per-(subspace, code) dot
  // contributions. The LUT dots are quantized to integer micro-units
  // BEFORE summing — real PQ implementations quantize their LUTs, and
  // integer sums are order-independent, which makes the score exact
  // under any aggregation order (and vs the oracle). Encoding is
  // O(N * M * Ksub) against a constant broadcast; scoring is a linear
  // scan of the code table (compose with IVF cells for sub-linear
  // search — this query prices the PQ term alone).

  /** PQ model pieces — (per-vector codes, per-query integer micro
    * LUT, refined codebook) — shared by s_pq_ann (full code-table
    * scan), s_ivfpq_ann (scoring restricted to the IVF-probed cells)
    * and s_pq_distortion (reconstruction-error audit of THE deployed
    * codebook). Memoized per (session, corpus), released with the "s"
    * family scope: the Lloyd loop + encoding is the expensive half of
    * every PQ query. */
  private def pqModel(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) =
    graft.CacheBook.memo(s, "s", "pq_model", dir) {
      val (codes, lut, cb) = pqModelBody(s, dir)
      // EAGER localCheckpoints, not persists (the item-1 plan tax):
      // the codes/LUT lineage is the whole Lloyd loop + encoding, and
      // behind a persist every PQ consumer (s_pq_ann's code-table
      // scan, s_ivfpq_ann, s_pq_distortion) re-planned and re-codegen'd
      // it per action — s_pq_ann priced 6.8 cpu-s for a 0.96 s probe.
      val codesP = graft.CacheBook.keep(s, "s")(
        graft.CacheBook.recordBuildPlan(s, "s", "pq_model")(codes).localCheckpoint(true))
      val lutP = graft.CacheBook.keep(s, "s")(
        graft.CacheBook.recordBuildPlan(s, "s", "pq_model:lut")(lut).localCheckpoint(true))
      // cb is local data (PqM*PqKsub rows, see pqLloyd) that the two
      // persisted relations already embody — no third persist
      (codesP, lutP, cb)
    }

  /** Nearest code of every sub-vector of `ex` (vec_id, m, xsub) under
    * `codebook` (m, code, csub). Round 15: per-subspace L2 argmin as the
    * constant-bank expression (one bank per m — the same PqM*PqKsub rows
    * the old plan broadcast; squared distances accumulate in subL2's
    * exact IEEE order, ties break code-asc as the window did). The
    * former join + window materialized and sorted 8N×Ksub rows per
    * encode pass — and the Lloyd rounds nested those plans. */
  private def pqEncode(ex: DataFrame, codebook: DataFrame): DataFrame = {
    val bank = graft.functions.NearestCentroids.l2Banks(
      codebook.select("m", "code", "csub").collect().toSeq.map(r =>
        (r.getInt(0), r.getInt(1).toLong, r.getSeq[Double](2).toArray)))
    ex.select(col("vec_id"), col("m"),
      element_at(graft.functions.NearestCentroids.nearest(
        bank, col("xsub"), 1, lit(1.0), col("m")), 1)
        .cast("int").as("code"),
      col("xsub"))
  }

  /** `iters` Lloyd rounds of the PQ codebook `cb` (m, code, csub) over
    * the sub-vectors `ex` (vec_id, m, xsub), same exact-mean contract as
    * the IVF path (micro-unit BIGINT sums, one double division): assign
    * every sub-vector to its nearest code by L2, recompute each
    * sub-centroid as its cell's mean. A code that no sub-vector picks
    * (two trainers sharing a sub-vector: ties go to the lower code)
    * keeps its previous centroid, as in standard Lloyd, so every bank
    * keeps all its codes and the next encode never sees a ragged
    * codebook. Each round's codebook is collected (PqM*PqKsub rows) and
    * returned as local data, so a later action over it re-runs no
    * earlier Lloyd pass. */
  private[graft] def pqLloyd(ex: DataFrame, cb0: DataFrame, iters: Int): DataFrame = {
    val spark = ex.sparkSession
    val schema = cb0.select("m", "code", "csub").schema
    def local(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)
    val refined = (0 until iters).foldLeft(cb0.select("m", "code", "csub").collect().toSeq) {
      (cb, _) =>
        val fresh = pqEncode(ex, local(cb))
          .select(col("m"), col("code"), posexplode(col("xsub")).as(Seq("pos", "x")))
          .groupBy("m", "code", "pos")
          .agg((sum(floor(col("x") * lit(1000000.0))).cast("double")
            / (count(lit(1)) * lit(1000000.0))).as("comp"))
          .groupBy("m", "code")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
            p => p.getField("comp")).as("csub"))
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.get(2)).toMap
        cb.map(r => fresh.get((r.getInt(0), r.getInt(1)))
          .fold(r)(csub => Row(r.get(0), r.get(1), csub)))
    }
    broadcast(local(refined))
  }

  private def pqModelBody(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
      val e = vecs(s, dir)
      val wDraw = Window.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      val trainers = e
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(PqKsub)
        .withColumn("code", row_number().over(wDraw) - 1)
      // codebook: (m, code, csub) — PqM * PqKsub rows, broadcast
      val subStructs = (0 until PqM).map(m =>
        struct(lit(m).as("m"), slice(col("v"), m * PqSub + 1, PqSub).as("csub")))
      val cb0 = broadcast(trainers
        .select(col("code"), explode(array(subStructs: _*)).as("x"))
        .select(col("code"), col("x.m").as("m"), col("x.csub").as("csub")))
      val exSubs = (0 until PqM).map(m =>
        struct(lit(m).as("m"), slice(col("v"), m * PqSub + 1, PqSub).as("xsub")))
      val ex = e.select(col("vec_id"), explode(array(exSubs: _*)).as("x"))
        .select(col("vec_id"), col("x.m").as("m"), col("x.xsub").as("xsub"))
      // the hash-draw seed gives the plan shape; Lloyd rounds give it the
      // actual data distribution
      val cb = pqLloyd(ex, cb0, LloydIters)
      // encode: nearest sub-centroid per (vector, subspace)
      val codes = pqEncode(ex, cb).select("vec_id", "m", "code")
      // ADC lookup table: per (query, subspace, code) integer micro-dot
      val lut = broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q"), explode(array(exSubs: _*)).as("x"))
        .select(col("q"), col("x.m").as("m"), col("x.xsub").as("qsub"))
        .join(cb, "m")
        .select(col("q"), col("m"), col("code"),
          floor(subDot(col("qsub"), col("csub")) * 1000000.0).as("micro")))
      (codes, lut, cb)
  }

  /** top-K per query by the integer-exact ADC score. */
  private def adcTopk(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy("q").orderBy(col("adc").desc, col("vec_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= K)
        .select("q", "vec_id", "adc", "rn")
        .orderBy("q", "rn")
  }

  private val pqAnnBody: (SparkSession, String) => DataFrame = ((s, dir) => {
      val (codes, lut, _) = pqModel(s, dir)
      adcTopk(codes.join(lut, Seq("m", "code"))
        .filter(col("vec_id") =!= col("q"))
        .groupBy("q", "vec_id")
        .agg(sum(col("micro")).cast("double").as("adc")))
    })

  /** IVF-PQ: candidates from the probed IVF cells, scores from the PQ
    * codes — candidate volume bounded by the probe, per-candidate cost
    * bounded by the code length. */
  /** KNN-graph build body (see the s_knn_graph entry comment): every
    * vector probes its NProbe nearest cells via a cid equi-join and
    * keeps its top-KnnK in-cell cosine neighbors. Unordered — the
    * memo layer persists it and consumers (the gate entry, the
    * PageRank edge list) impose their own order. */
  private val knnGraphBody: (SparkSession, String) => DataFrame = ((s, dir) => {
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val e = vecs(s, dir)
      // constant-bank top-NProbe expression — see [[collectCosineBank]]
      val probes = e.select(col("vec_id").as("src"), col("v").as("qv"),
        col("n").as("qn"),
        explode(graft.functions.NearestCentroids.nearest(
          collectCosineBank(cents), col("v"), NProbe, col("n"))).as("cid"))
      val wk = Window.partitionBy("src").orderBy(col("cos").desc, col("nbr").asc)
      probes.join(assigned, "cid")
        .filter(col("vec_id") =!= col("src"))
        .select(col("src"), col("vec_id").as("nbr"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos"))
        .withColumn("rn", row_number().over(wk))
        .filter(col("rn") <= KnnK)
        .select("src", "nbr", "cos", "rn")
    })

  /** One NN-descent round (Dong et al. 2011) over edge list `g`
    * (src, nbr): candidates = current ∪ forward-2-hop ∪ reverse,
    * exact-cosine re-rank, top-KnnK per src. Bounded by KnnK + KnnK² +
    * reverse-degree — never all-pairs. Shared by the one-round gate
    * entry (s_nn_descent) and the iterated curve (s_nn_descent_k). */
  private def descentRound(e: DataFrame, g: DataFrame): DataFrame = {
    val fwd2 = g.as("a").join(g.as("b"), col("a.nbr") === col("b.src"))
      .select(col("a.src").as("src"), col("b.nbr").as("cand"))
    val cands = g.select(col("src"), col("nbr").as("cand"))
      .union(fwd2)
      .union(g.select(col("nbr").as("src"), col("src").as("cand")))
      .filter(col("src") =!= col("cand"))
      .distinct()
    val scored = cands
      .join(e.select(col("vec_id").as("src"), col("v").as("qv"),
        col("n").as("qn")), "src")
      .join(e.select(col("vec_id").as("cand"), col("v"), col("n")), "cand")
      .select(col("src"), col("cand").as("nbr"),
        VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos"))
    val wd = Window.partitionBy("src").orderBy(col("cos").desc, col("nbr").asc)
    scored.withColumn("rn", row_number().over(wd).cast("int"))
      .filter(col("rn") <= KnnK)
      .select("src", "nbr", "cos", "rn")
  }

  /** Memoized KNN-graph accessor — shared by s_knn_graph, s_nn_descent,
    * and s_graph_rank, and fanned into s_index_build's build list so the
    * graph consumers price probe-only cost, not a hidden build. */
  private def knnGraph(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "s", "ann:s_knn_graph", dir)(
      annFrame(s, "ann:s_knn_graph")(knnGraphBody(s, dir)))

  /** Memoized STANDING graph for the upsert path: the knnGraphBody
    * shape restricted to the pre-batch corpus, with the cells drawn
    * from the same standing old-seeded centroid table s_ivf_upsert and
    * st_ann_ingest probe (oldSeed) — one coherent "last night's index"
    * artifact family. Kept separate from [[knnGraph]] because the two
    * relations answer different questions: knnGraph is the full-corpus
    * graph the search entries walk; this is the graph that EXISTED
    * before tonight's batch, which the upsert extends. */
  private def knnBase(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "s", "ann:s_knn_base", dir)(annFrame(s, "ann:s_knn_base") {
      val (tNew, seed) = oldSeed(s, dir)
      val eOld = vecs(s, dir).filter(col("vec_id") < tNew)
      // constant-bank top-NProbe expression — see [[collectCosineBank]]
      val probes = eOld.select(col("vec_id").as("src"), col("v").as("qv"),
        col("n").as("qn"),
        explode(graft.functions.NearestCentroids.nearest(
          collectCosineBank(seed), col("v"), NProbe, col("n"))).as("cid"))
      val assignedOld = assignTo(eOld, seed)
      val wk = Window.partitionBy("src").orderBy(col("cos").desc, col("nbr").asc)
      probes.join(assignedOld, "cid")
        .filter(col("vec_id") =!= col("src"))
        .select(col("src"), col("vec_id").as("nbr"),
          VecOps.cosine(col("qv"), col("v"), col("qn"), col("n")).as("cos"))
        .withColumn("rn", row_number().over(wk))
        .filter(col("rn") <= KnnK)
        .select("src", "nbr", "cos")
    })

  /** Memoized edges⋈deg relation behind s_graph_rank: one deg
    * aggregation per session, persisted, released with the "s" scope.
    * Built in s_index_build's fan-out (it forces [[knnGraph]] too), so
    * the rank query's cost is RankIters join+agg rounds, nothing else. */
  private def graphEd(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "s", "ann:s_graph_ed", dir)(annFrame(s, "ann:s_graph_ed") {
      val edges = knnGraph(s, dir).select("src", "nbr")
      edges.join(edges.groupBy("src").agg(count(lit(1)).as("deg")), "src")
    })

  /** Memoized canonical UNDIRECTED KNN edge list (u < w) — round 14
    * OPT: s_triangle_count, s_modularity, s_link_pred and
    * s_adamic_adar each built and persisted their own copy of the SAME
    * relation (four resident duplicates, four canonical projections);
    * one checkpointed memo per (session, corpus) serves all four. */
  private def knnUnd(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "s", "ann:s_knn_und", dir)(
      annFrame(s, "ann:s_knn_und")(graft.operators.TriangleCount
      .canonical(knnGraph(s, dir).select("src", "nbr"))))

  /** Memoized per-node degree over [[knnUnd]] — s_link_pred's jaccard
    * denominators and the Adamic–Adar wedge weights read the same
    * relation. Identical to grouping the bidirectional edge expansion:
    * each undirected edge contributes one u- and one w-appearance. */
  private def knnUndDeg(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "s", "ann:s_knn_und_deg", dir)(annFrame(s, "ann:s_knn_und_deg") {
      val und = knnUnd(s, dir)
      und.select(col("u").as("src"))
        .unionByName(und.select(col("w").as("src")))
        .groupBy("src").agg(count(lit(1)).as("deg"))
    })

  /** Memoized 2-hop wedge aggregate (a, b, common, aa_ppm), a < b —
    * round 14 OPT: s_link_pred and s_adamic_adar each ran the SAME
    * bidirectional-edge self-join on the shared midpoint (the entries'
    * entire cost, ~18 cpu-s apiece with the graph standing) and then
    * aggregated it two slightly different ways; ONE aggregate carries
    * both readouts (common = plain wedge count — the deg lookup is an
    * inner join on a key set that contains every midpoint, so it
    * preserves wedge rows exactly; aa_ppm = the degree-weighted sum).
    * Wedge work stays degree-bounded (O(N·deg²) on the KnnK graph). */
  private def wedgeAgg(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "s", "ann:s_wedge_agg", dir)(annFrame(s, "ann:s_wedge_agg") {
      val und = knnUnd(s, dir)
      val ed = und.select(col("u").as("src"), col("w").as("nbr"))
        .unionByName(und.select(col("w").as("src"), col("u").as("nbr")))
      val deg = knnUndDeg(s, dir)
      ed.as("e1").join(ed.as("e2"),
          col("e1.nbr") === col("e2.src") && col("e1.src") < col("e2.nbr"))
        .select(col("e1.src").as("a"), col("e1.nbr").as("z"),
          col("e2.nbr").as("b"))
        .join(deg.select(col("src").as("z"), col("deg")), "z")
        // wedge centers have deg >= 2, so index d-1 into the d=2.. table
        .withColumn("w", element_at(lit(AdamicPpm),
          (least(col("deg"), lit(64L)) - 1).cast("int")))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("common"), sum("w").as("aa_ppm"))
    })

  /** Memoized LPA community labels — the LabelProp trajectory runs
    * once per session; s_label_prop reads the communities and
    * s_modularity scores the same partition (two consumers of one
    * loop, the stars_labels discipline). */
  private def lpaLabels(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "s", "ann:s_lpa_labels", dir)(annFrame(s, "ann:s_lpa_labels") {
      val und = graft.operators.TriangleCount
        .canonical(knnGraph(s, dir).select("src", "nbr"))
      graft.operators.LabelProp.run(und, LpaIters, "s")
    })

  private val ivfpqAnnBody: (SparkSession, String) => DataFrame = ((s, dir) => {
      val (cents, assigned) = buildIvfIndex(s, dir, refine = false)
      val cand = probeCells(vecs(s, dir), cents).select("q", "cid")
        .join(assigned.select("vec_id", "cid"), "cid")
        .filter(col("vec_id") =!= col("q"))
        .select("q", "vec_id")
      val (codes, lut, _) = pqModel(s, dir)
      adcTopk(cand.join(codes, "vec_id")
        .join(lut, Seq("q", "m", "code"))
        .groupBy("q", "vec_id")
        .agg(sum(col("micro")).cast("double").as("adc")))
    })

  /** SQL mirror of [[ivfAnn]]: seed draw named `c0`, optionally chained
    * through [[sqlRefine]], then assignment/probe/search. */
  private def sqlIvf(refine: Boolean): String = {
    val chain = if (refine) s"${sqlRefine(LloydIters)}," else ","
    val last = if (refine) s"c$LloydIters" else "c0"
    sqlTopk(
      s"""WITH e AS ($sqlVecs),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")})
         $chain
         cents AS (SELECT cid, cv, cn FROM $last),
         assigned AS MATERIALIZED (
           SELECT vec_id, v, n, cid FROM (
             SELECT e.vec_id, e.v, e.n, cents.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "cents.cv")} / (e.n * cents.cn)) DESC,
                   cents.cid) AS arn
             FROM e, cents) WHERE arn = 1),
         probes AS MATERIALIZED (
           SELECT q, qv, qn, cid FROM (
             SELECT e.vec_id AS q, e.v AS qv, e.n AS qn, cents.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "cents.cv")} / (e.n * cents.cn)) DESC,
                   cents.cid) AS prn
             FROM e, cents WHERE e.vec_id < $NQueries) WHERE prn <= $NProbe)
         SELECT probes.q, assigned.vec_id,
           (${VecOps.sqlDot("probes.qv", "assigned.v")} / (probes.qn * assigned.n)) AS cos
         FROM probes JOIN assigned USING (cid)
         WHERE assigned.vec_id <> probes.q""")
  }

  private val sqlTopk = (from: String) =>
    s"""SELECT q, vec_id, cos, rn FROM (
          SELECT q, vec_id, cos,
            CAST(row_number() OVER (PARTITION BY q ORDER BY cos DESC, vec_id) AS INT) AS rn
          FROM ($from))
        WHERE rn <= $K ORDER BY q, rn"""

  /** SQL mirror of s_filtered_ann: the unrefined IVF probe with the
    * label predicate applied to the cell relation (which carries label,
    * like the Spark-side assigned). */
  private def sqlFilteredAnn: String = sqlTopk(
    s"""WITH e AS ($sqlVecs),
       c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
       assigned AS MATERIALIZED (SELECT vec_id, label, v, n, cid FROM (
           SELECT e.vec_id, e.label, e.v, e.n, c0.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                 c0.cid) AS arn
           FROM e, c0) WHERE arn = 1),
       probes AS MATERIALIZED (SELECT q, qv, qn, cid FROM (
           SELECT e.vec_id AS q, e.v AS qv, e.n AS qn, c0.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                 c0.cid) AS prn
           FROM e, c0 WHERE e.vec_id < $NQueries) WHERE prn <= $NProbe)
       SELECT probes.q, assigned.vec_id,
         (${VecOps.sqlDot("probes.qv", "assigned.v")} / (probes.qn * assigned.n)) AS cos
       FROM probes JOIN assigned USING (cid)
       WHERE assigned.vec_id <> probes.q AND assigned.label % 3 = 0""")

  /** SQL mirror of s_silhouette: the unrefined IVF assignment CTEs,
    * then per-point own-vs-best-other centroid cosine distance floored
    * to ppm and averaged per cell in integer arithmetic. */
  private def sqlSilhouette: String =
    s"""WITH e AS ($sqlVecs),
       c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
       assigned AS MATERIALIZED (SELECT vec_id, v, n, cid FROM (
           SELECT e.vec_id, e.v, e.n, c0.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                 c0.cid) AS arn
           FROM e, c0) WHERE arn = 1),
       sc AS (SELECT a.vec_id, a.cid, c0.cid AS cid2,
           (${VecOps.sqlDot("a.v", "c0.cv")} / (a.n * c0.cn)) AS ccos
         FROM assigned a, c0),
       per AS (SELECT vec_id, cid,
           max(CASE WHEN cid2 = cid THEN ccos END) AS owncos,
           max(CASE WHEN cid2 <> cid THEN ccos END) AS othcos
         FROM sc GROUP BY vec_id, cid),
       sil AS (SELECT cid,
           CASE WHEN 1.0 - othcos <= 0.0 THEN 0
             ELSE CAST(floor(1000000.0
               * ((1.0 - othcos) - (1.0 - owncos)) / (1.0 - othcos))
               AS BIGINT) END AS s_ppm
         FROM per)
       SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
         CAST(sum(s_ppm) // count(*) AS BIGINT) AS mean_sil_ppm,
         CAST(min(s_ppm) AS BIGINT) AS min_sil_ppm
       FROM sil GROUP BY cid ORDER BY cid"""

  /** SQL mirror of s_dunn: the same assignment CTEs, centroid-pair
    * separation min and twice-radius diameter max floored to ppm, one
    * integer ratio. */
  private def sqlDunn: String =
    s"""WITH e AS ($sqlVecs),
       c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
       assigned AS MATERIALIZED (SELECT vec_id, v, n, cid FROM (
           SELECT e.vec_id, e.v, e.n, c0.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                 c0.cid) AS arn
           FROM e, c0) WHERE arn = 1),
       sep AS (SELECT min(CAST(floor((1.0
             - (${VecOps.sqlDot("a.cv", "b.cv")} / (a.cn * b.cn)))
             * 1000000.0) AS BIGINT)) AS min_sep_ppm
         FROM c0 a JOIN c0 b ON a.cid < b.cid),
       diam AS (SELECT max(CAST(floor((1.0
             - (${VecOps.sqlDot("assigned.v", "c0.cv")}
               / (assigned.n * c0.cn)))
             * 2000000.0) AS BIGINT)) AS max_diam_ppm
         FROM assigned JOIN c0 USING (cid))
       SELECT min_sep_ppm, max_diam_ppm,
         CAST((1000000 * min_sep_ppm) // max_diam_ppm AS BIGINT)
           AS dunn_ppm
       FROM sep, diam"""

  /** SQL mirror of s_range_search: the unrefined IVF probe with the
    * micro-unit radius predicate in place of the top-K window. */
  private def sqlRangeSearch: String =
    s"""WITH e AS ($sqlVecs),
       c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
       assigned AS MATERIALIZED (SELECT vec_id, v, n, cid FROM (
           SELECT e.vec_id, e.v, e.n, c0.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                 c0.cid) AS arn
           FROM e, c0) WHERE arn = 1),
       probes AS MATERIALIZED (SELECT q, qv, qn, cid FROM (
           SELECT e.vec_id AS q, e.v AS qv, e.n AS qn, c0.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                 c0.cid) AS prn
           FROM e, c0 WHERE e.vec_id < $NQueries) WHERE prn <= $NProbe),
       scored AS (SELECT probes.q, assigned.vec_id,
           (${VecOps.sqlDot("probes.qv", "assigned.v")} / (probes.qn * assigned.n)) AS cos
         FROM probes JOIN assigned USING (cid)
         WHERE assigned.vec_id <> probes.q)
       SELECT q, vec_id, cos FROM scored
       WHERE CAST(floor(cos * 1000000.0) AS BIGINT) >= $RangeTauMicro
       ORDER BY q, vec_id"""

  /** SQL mirror of s_coreset: CoreK−1 chained greedy rounds (centers →
    * per-point max-sim → argmin pick → accumulated selection), each
    * MATERIALIZED — the next round reads its predecessor twice. */
  private def sqlCoreset: String = {
    val rounds = (2 to CoreK).map { t =>
      val prev = s"sel${t - 1}"
      s"""cs$t AS (SELECT e.vec_id AS c, e.v AS cv, e.n AS cn
           FROM e JOIN $prev ON $prev.vec_id = e.vec_id),
         ms$t AS (SELECT x.vec_id,
             max(CAST(floor((${VecOps.sqlDot("x.v", "c.cv")} / (x.n * c.cn))
               * 1000000.0) AS BIGINT)) AS ms
           FROM e x JOIN cs$t c ON x.vec_id <> c.c
           WHERE x.vec_id NOT IN (SELECT vec_id FROM $prev)
           GROUP BY x.vec_id),
         pick$t AS (SELECT vec_id, $t AS round, ms FROM ms$t
           ORDER BY ms, vec_id LIMIT 1),
         sel$t AS MATERIALIZED (SELECT * FROM $prev
           UNION ALL SELECT * FROM pick$t)"""
    }.mkString(",\n")
    s"""WITH e AS ($sqlVecs),
       sel1 AS MATERIALIZED (SELECT vec_id, 1 AS round, CAST(-1 AS BIGINT) AS ms
         FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
       $rounds
       SELECT vec_id, CAST(round AS INT) AS round, ms AS maxsim_micro
       FROM sel$CoreK ORDER BY round"""
  }

  /** Shared LPA CTE chain (bidirectional canonical edges + LpaIters
    * chained majority-vote rounds, each MATERIALIZED — the next
    * round's count join reads its predecessor). Yields `und`, `ed`
    * and the final label relation `l&#36;LpaIters`; sqlLabelProp reads
    * the communities, the modularity oracle scores the SAME chain —
    * one SQL copy of the trajectory, like the Spark lpaLabels memo. */
  private def sqlLpaChain: String = {
    val rounds = (1 to LpaIters).map { t =>
      val prev = s"l${t - 1}"
      s"""c$t AS (SELECT ed.src, l.lbl, count(*) AS c
           FROM ed JOIN $prev l ON l.vec_id = ed.nbr
           GROUP BY ed.src, l.lbl),
         l$t AS MATERIALIZED (SELECT src AS vec_id, lbl FROM (
             SELECT src, lbl, row_number() OVER (PARTITION BY src
               ORDER BY c DESC, lbl) AS rn FROM c$t) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""und AS MATERIALIZED (SELECT DISTINCT least(src, nbr) AS u,
           greatest(src, nbr) AS w FROM knn),
       ed AS MATERIALIZED (SELECT u AS src, w AS nbr FROM und
         UNION ALL SELECT w AS src, u AS nbr FROM und),
       l0 AS (SELECT vec_id, vec_id AS lbl FROM e),
       $rounds"""
  }

  /** SQL mirror of s_label_prop over the shared [[sqlLpaChain]]. */
  private def sqlLabelProp: String =
    s"""WITH $sqlKnnCtes,
       $sqlLpaChain
       SELECT l.vec_id, l.lbl AS community, cs.csize
       FROM l$LpaIters l JOIN (SELECT lbl, count(*) AS csize
         FROM l$LpaIters GROUP BY lbl) cs ON cs.lbl = l.lbl
       ORDER BY l.vec_id"""

  /** SQL mirror of s_modularity: per-community intra-edge and degree
    * mass over the same LPA chain, ppm terms floored in HUGEINT. */
  private def sqlModularity: String =
    s"""WITH $sqlKnnCtes,
       $sqlLpaChain,
       mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM und),
       lab AS (SELECT vec_id, lbl FROM l$LpaIters),
       ein AS (SELECT lu.lbl AS community, count(*) AS e_in
         FROM und JOIN lab lu ON lu.vec_id = und.u
         JOIN lab lw ON lw.vec_id = und.w
         WHERE lu.lbl = lw.lbl GROUP BY 1),
       dsum AS (SELECT lab.lbl AS community, count(*) AS d_sum
         FROM (SELECT u AS vec_id FROM und
           UNION ALL SELECT w FROM und) ep
         JOIN lab ON lab.vec_id = ep.vec_id GROUP BY 1),
       base AS (SELECT cs.community, CAST(cs.csize AS BIGINT) AS csize,
           CAST(coalesce(e_in, 0) AS BIGINT) AS e_in,
           CAST(coalesce(d_sum, 0) AS BIGINT) AS d_sum, m
         FROM (SELECT lbl AS community, count(*) AS csize
           FROM lab GROUP BY 1) cs
         LEFT JOIN ein USING (community)
         LEFT JOIN dsum USING (community), mm),
       ctb AS (SELECT community, csize, e_in, d_sum,
           CAST((1000000 * e_in) // m
             - (1000000 * CAST(d_sum AS HUGEINT) * d_sum) // (4 * m * m)
             AS BIGINT) AS contrib_ppm
         FROM base)
       SELECT community, csize, e_in, d_sum, contrib_ppm,
         CAST(sum(contrib_ppm) OVER () AS BIGINT) AS q_ppm
       FROM ctb ORDER BY community"""

  /** SQL mirror of s_link_pred: 2-hop wedge candidates minus existing
    * edges, scored by common-neighbor count + neighborhood Jaccard. */
  /** s_adamic_adar's 1/ln(d) in ppm for d = 2..64 (index d−1 in the
    * 1-based lookups; degrees above 64 clamp). ONE table feeds both
    * engines — no in-query log. */
  private[graft] val AdamicPpm: Array[Long] =
    (2 to 64).map(d => math.floor(1e6 / math.log(d)).toLong).toArray

  /** SQL mirror of s_adamic_adar over the shared knn CTEs. */
  private def sqlAdamicAdar: String = {
    val arr = AdamicPpm.mkString("[", ", ", "]")
    s"""WITH $sqlKnnCtes,
       und AS MATERIALIZED (SELECT DISTINCT least(src, nbr) AS u,
           greatest(src, nbr) AS w FROM knn),
       ed AS (SELECT u AS src, w AS nbr FROM und
         UNION ALL SELECT w AS src, u AS nbr FROM und),
       deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
       wedge AS (SELECT e1.src AS a, e1.nbr AS z, e2.nbr AS b
         FROM ed e1 JOIN ed e2
           ON e1.nbr = e2.src AND e1.src < e2.nbr),
       aa AS (SELECT a, b, count(*) AS common,
           sum(($arr)[CAST(least(deg, 64) - 1 AS INT)]) AS aa_ppm
         FROM wedge JOIN deg ON deg.src = wedge.z
         GROUP BY a, b),
       nonedge AS (SELECT a, b, common, aa_ppm FROM aa
         WHERE NOT EXISTS (SELECT 1 FROM und
           WHERE und.u = aa.a AND und.w = aa.b))
       SELECT a, b, CAST(common AS BIGINT) AS common,
         CAST(aa_ppm AS BIGINT) AS aa_ppm
       FROM nonedge
       ORDER BY aa_ppm DESC, common DESC, a, b LIMIT 20"""
  }

  private def sqlLinkPred: String =
    s"""WITH $sqlKnnCtes,
       und AS MATERIALIZED (SELECT DISTINCT least(src, nbr) AS u,
           greatest(src, nbr) AS w FROM knn),
       ed AS (SELECT u AS src, w AS nbr FROM und
         UNION ALL SELECT w AS src, u AS nbr FROM und),
       deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
       cand AS (SELECT e1.src AS a, e2.nbr AS b, count(*) AS common
         FROM ed e1 JOIN ed e2
           ON e1.nbr = e2.src AND e1.src < e2.nbr
         GROUP BY 1, 2),
       nonedge AS (SELECT a, b, common FROM cand
         WHERE NOT EXISTS (SELECT 1 FROM und
           WHERE und.u = cand.a AND und.w = cand.b))
       SELECT a, b, CAST(common AS BIGINT) AS common,
         CAST((1000000 * common) // (da.deg + db.deg - common)
           AS BIGINT) AS jaccard_ppm
       FROM nonedge JOIN deg da ON da.src = a
       JOIN deg db ON db.src = b
       ORDER BY common DESC, jaccard_ppm DESC, a, b LIMIT 20"""

  /** The PQ oracle CTE block (trainers → refined codebook → codes →
    * query LUT) over a corpus CTE named `e` — shared verbatim by
    * s_pq_ann and s_ivfpq_ann. */
  private val sqlPqCtes =
    s"""trainers AS (
           SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
           FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $PqKsub),
         ms AS (SELECT unnest(range(0, $PqM)) AS m),
         cb0 AS (SELECT trainers.code, ms.m,
             trainers.v[ms.m * $PqSub + 1 : ms.m * $PqSub + $PqSub] AS csub
           FROM trainers, ms),
         ex AS (SELECT e.vec_id, ms.m,
             e.v[ms.m * $PqSub + 1 : ms.m * $PqSub + $PqSub] AS xsub
           FROM e, ms)
         ${sqlPqRefine(LloydIters)},
         cb AS (SELECT m, code, csub FROM cb$LloydIters),
         codes AS (SELECT vec_id, m, code FROM (
             SELECT ex.vec_id, ex.m, cb.code,
               row_number() OVER (PARTITION BY ex.vec_id, ex.m
                 ORDER BY ${sqlSubL2("ex.xsub", "cb.csub")} ASC, cb.code ASC) AS ern
             FROM ex JOIN cb ON ex.m = cb.m) WHERE ern = 1),
         lut AS (SELECT qs.vec_id AS q, qs.m, cb.code,
             CAST(floor((${sqlSubDot("qs.xsub", "cb.csub")}) * 1000000.0) AS BIGINT) AS micro
           FROM (SELECT * FROM ex WHERE vec_id < $NQueries) qs JOIN cb ON qs.m = cb.m)"""

  private val sqlAdcTopk =
    s"""SELECT q, vec_id, adc, rn FROM (
           SELECT q, vec_id, adc,
             CAST(row_number() OVER (PARTITION BY q ORDER BY adc DESC, vec_id) AS INT) AS rn
           FROM scored) WHERE rn <= $K ORDER BY q, rn"""

  private val oracleBase: Map[String, String] = Map(
    "s_cosine_topk" -> sqlTopk(
      s"""SELECT qs.vec_id AS q, e.vec_id,
           (${VecOps.sqlDot("qs.v", "e.v")} / (qs.n * e.n)) AS cos
         FROM ($sqlVecs) qs JOIN ($sqlVecs) e ON e.vec_id <> qs.vec_id
         WHERE qs.vec_id < $NQueries"""),

    // multi-probe = hamming(bucket, qbucket) <= 1; the oracle states it
    // as a bit_count predicate (the Spark side's 9 exploded probe keys
    // select exactly these buckets)
    "s_lsh_ann" -> sqlTopk(
      s"""SELECT qs.vec_id AS q, e.vec_id,
           (${VecOps.sqlDot("qs.v", "e.v")} / (qs.n * e.n)) AS cos
         FROM (SELECT *, ${VecOps.sqlLshBucket("v")} AS bucket FROM ($sqlVecs)) qs
         JOIN (SELECT *, ${VecOps.sqlLshBucket("v")} AS bucket FROM ($sqlVecs)) e
           ON bit_count(xor(CAST(e.bucket AS BIGINT), CAST(qs.bucket AS BIGINT))) <= 1
             AND e.vec_id <> qs.vec_id
         WHERE qs.vec_id < $NQueries"""),

    "s_int8_topk" -> sqlTopk(
      s"""SELECT qs.vec_id AS q, e.vec_id,
           (${VecOps.sqlDot("qs.qv", "e.qv")} / (qs.qn * e.qn)) AS cos
         FROM (SELECT vec_id, qv, ${VecOps.sqlNorm("qv")} AS qn FROM (
             SELECT vec_id,
               list_transform(v, x -> CAST(floor(x * 127.0 /
                 list_aggregate(list_transform(v, y -> abs(y)), 'max')) AS DOUBLE)) AS qv
             FROM ($sqlVecs))) qs
         JOIN (SELECT vec_id, qv, ${VecOps.sqlNorm("qv")} AS qn FROM (
             SELECT vec_id,
               list_transform(v, x -> CAST(floor(x * 127.0 /
                 list_aggregate(list_transform(v, y -> abs(y)), 'max')) AS DOUBLE)) AS qv
             FROM ($sqlVecs))) e
           ON e.vec_id <> qs.vec_id
         WHERE qs.vec_id < $NQueries"""),

    // binary quantization: sign-bit halves + hamming coarse rank, exact
    // rescore of the RescoreC survivors (the Spark pipeline verbatim)
    "s_bq_topk" -> sqlTopk(
      s"""WITH b AS (SELECT vec_id, v, n,
             ${sqlBqSig("v", 0)} AS s1, ${sqlBqSig("v", 32)} AS s2
           FROM ($sqlVecs)),
         cand AS (SELECT q, vec_id FROM (
             SELECT qs.vec_id AS q, e.vec_id,
               row_number() OVER (PARTITION BY qs.vec_id
                 ORDER BY (bit_count(xor(qs.s1, e.s1))
                   + bit_count(xor(qs.s2, e.s2))) ASC, e.vec_id ASC) AS crn
             FROM b qs JOIN b e ON e.vec_id <> qs.vec_id
             WHERE qs.vec_id < $NQueries) WHERE crn <= $RescoreC)
         SELECT c.q, e.vec_id,
           (${VecOps.sqlDot("qs.v", "e.v")} / (qs.n * e.n)) AS cos
         FROM cand c JOIN b e ON e.vec_id = c.vec_id
           JOIN b qs ON qs.vec_id = c.q"""),

    // IVF-bounded BQ: the s_ivfpq probe/assignment CTEs generate the
    // cell-bounded candidate set; hamming over sign signatures ranks
    // it; exact cosine rescores the RescoreC survivors
    "s_ivf_bq" -> sqlTopk(
      s"""WITH e AS ($sqlVecs),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
         assigned AS MATERIALIZED (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS arn
             FROM e, c0) WHERE arn = 1),
         probes AS MATERIALIZED (SELECT q, cid FROM (
             SELECT e.vec_id AS q, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS prn
             FROM e, c0 WHERE e.vec_id < $NQueries) WHERE prn <= $NProbe),
         b AS (SELECT vec_id, ${sqlBqSig("v", 0)} AS s1, ${sqlBqSig("v", 32)} AS s2
           FROM e),
         cand AS (SELECT q, vec_id FROM (
             SELECT p.q, a.vec_id,
               row_number() OVER (PARTITION BY p.q
                 ORDER BY (bit_count(xor(qb.s1, eb.s1))
                   + bit_count(xor(qb.s2, eb.s2))) ASC, a.vec_id ASC) AS crn
             FROM probes p JOIN assigned a USING (cid)
               JOIN b eb ON eb.vec_id = a.vec_id
               JOIN b qb ON qb.vec_id = p.q
             WHERE a.vec_id <> p.q) WHERE crn <= $RescoreC)
         SELECT c.q, e.vec_id,
           (${VecOps.sqlDot("qs.v", "e.v")} / (qs.n * e.n)) AS cos
         FROM cand c JOIN e ON e.vec_id = c.vec_id
           JOIN e qs ON qs.vec_id = c.q"""),

    // IVF-bounded Matryoshka: the s_ivf_bq probe/assignment CTEs with
    // the prefix-dim cosine as the coarse rank
    "s_ivf_mrl" -> sqlTopk(
      s"""WITH e AS ($sqlVecs),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
         assigned AS MATERIALIZED (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS arn
             FROM e, c0) WHERE arn = 1),
         probes AS MATERIALIZED (SELECT q, cid FROM (
             SELECT e.vec_id AS q, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS prn
             FROM e, c0 WHERE e.vec_id < $NQueries) WHERE prn <= $NProbe),
         b AS (SELECT vec_id, v,
             sqrt(${sqlPrefixDot("v", "v", MrlDim)}) AS pn FROM e),
         cand AS (SELECT q, vec_id FROM (
             SELECT p.q, a.vec_id,
               row_number() OVER (PARTITION BY p.q
                 ORDER BY (${sqlPrefixDot("qb.v", "eb.v", MrlDim)}
                   / (qb.pn * eb.pn)) DESC, a.vec_id ASC) AS crn
             FROM probes p JOIN assigned a USING (cid)
               JOIN b eb ON eb.vec_id = a.vec_id
               JOIN b qb ON qb.vec_id = p.q
             WHERE a.vec_id <> p.q) WHERE crn <= $RescoreC)
         SELECT c.q, e.vec_id,
           (${VecOps.sqlDot("qs.v", "e.v")} / (qs.n * e.n)) AS cos
         FROM cand c JOIN e ON e.vec_id = c.vec_id
           JOIN e qs ON qs.vec_id = c.q"""),

    // late-interaction MaxSim over the probed cells: the same
    // probe/assignment CTEs, scored by the unrolled greatest()-of-dots
    // micro-unit sum (row-local BIGINT adds — no aggregate, no HUGEINT)
    "s_maxsim" ->
      s"""WITH e AS ($sqlVecs),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
         assigned AS MATERIALIZED (SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS arn
             FROM e, c0) WHERE arn = 1),
         probes AS MATERIALIZED (SELECT q, qv, cid FROM (
             SELECT e.vec_id AS q, e.v AS qv, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS prn
             FROM e, c0 WHERE e.vec_id < $NQueries) WHERE prn <= $NProbe),
         scored AS (SELECT p.q, a.vec_id, ${sqlMaxSim("p.qv", "a.v")} AS ms
           FROM probes p JOIN assigned a USING (cid) WHERE a.vec_id <> p.q)
         SELECT q, vec_id, ms AS maxsim_micro, CAST(rn AS INT) AS rn FROM (
           SELECT q, vec_id, ms, row_number() OVER (PARTITION BY q
             ORDER BY ms DESC, vec_id ASC) AS rn FROM scored)
         WHERE rn <= $K ORDER BY q, rn""",

    // DBSCAN: the corpus-wide probe/radius chain, core gating, then
    // transitive closure over core-core edges (recursive CTE — min
    // reachable id == what the engine's min-label propagation converges
    // to), border adoption as min adjacent core cluster
    // eps tuning curve: the s_dbscan CTE prefix with cm retained at the
    // loosest band, pairs fanned to every band they clear, role counts
    // per band (no component run — roles don't need labels)
    "s_dbscan_sweep" ->
      s"""WITH e AS ($sqlVecs),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
         assigned AS MATERIALIZED (SELECT vec_id, v, n, cid FROM (
             SELECT e.vec_id, e.v, e.n, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS arn
             FROM e, c0) WHERE arn = 1),
         probes AS MATERIALIZED (SELECT src, qv, qn, cid FROM (
             SELECT e.vec_id AS src, e.v AS qv, e.n AS qn, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS prn
             FROM e, c0) WHERE prn <= $NProbe),
         prs AS MATERIALIZED (SELECT src, nbr, cm FROM (
             SELECT p.src, a.vec_id AS nbr,
               CAST(floor((${VecOps.sqlDot("p.qv", "a.v")} / (p.qn * a.n))
                 * 1000000.0) AS BIGINT) AS cm
             FROM probes p JOIN assigned a USING (cid)
             WHERE a.vec_id <> p.src)
           WHERE cm >= ${DbSweepBands.min}),
         bands AS (SELECT CAST(unnest([${DbSweepBands.mkString(", ")}]) AS BIGINT) AS eps),
         bp AS MATERIALIZED (SELECT b.eps, prs.src, prs.nbr
           FROM prs JOIN bands b ON prs.cm >= b.eps),
         core AS MATERIALIZED (SELECT eps, src FROM (
             SELECT eps, src, count(*) AS deg FROM bp GROUP BY eps, src)
           WHERE deg >= $DbMinPts),
         border AS (SELECT DISTINCT bp.eps, bp.src FROM bp
           JOIN core c ON c.eps = bp.eps AND c.src = bp.nbr
           WHERE NOT EXISTS (SELECT 1 FROM core cx
             WHERE cx.eps = bp.eps AND cx.src = bp.src)),
         tot AS (SELECT count(*) AS nn FROM e)
         SELECT b.eps AS eps_micro,
           CAST(coalesce(nc.c, 0) AS BIGINT) AS n_core,
           CAST(coalesce(nb.c, 0) AS BIGINT) AS n_border,
           CAST(tot.nn - coalesce(nc.c, 0) - coalesce(nb.c, 0) AS BIGINT) AS n_noise
         FROM bands b CROSS JOIN tot
         LEFT JOIN (SELECT eps, count(*) AS c FROM core GROUP BY eps) nc
           ON nc.eps = b.eps
         LEFT JOIN (SELECT eps, count(*) AS c FROM border GROUP BY eps) nb
           ON nb.eps = b.eps
         ORDER BY eps_micro""",

    // dedup-first: twin corpus -> bucket-bounded replica closure ->
    // rep corpus with multiplicity -> the classic probe/radius/CC
    // chain with multiplicity-weighted degrees -> expand to members
    "s_dbscan" ->
      s"""WITH RECURSIVE e0 AS ($sqlVecs),
         e AS MATERIALIZED (
           SELECT vec_id, v, ${VecOps.sqlNorm("v")} AS n FROM (
             SELECT vec_id, v FROM e0
             UNION ALL SELECT vec_id + 100000, [v[1] + 0.05] || v[2:64] FROM e0)),
         bk AS MATERIALIZED (${(0 until 4).map(bi =>
           s"""SELECT vec_id, $bi AS bi,
               ${VecOps.sqlLshBucketAt("v", bi * 16, 16)} AS bk FROM e""")
           .mkString(" UNION ALL ")}),
         rcand AS MATERIALIZED (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
           FROM bk x JOIN bk y
           ON x.bi = y.bi AND x.bk = y.bk AND x.vec_id < y.vec_id),
         rpx AS MATERIALIZED (SELECT c.a, c.b
           FROM rcand c JOIN e ea ON ea.vec_id = c.a
             JOIN e eb ON eb.vec_id = c.b
           WHERE CAST(floor((${VecOps.sqlDot("ea.v", "eb.v")} / (ea.n * eb.n))
             * 1000000.0) AS BIGINT) >= $ReplicaTauMicro),
         rbi AS MATERIALIZED (SELECT a AS src, b AS dst FROM rpx
           UNION SELECT b, a FROM rpx),
         rr AS (SELECT src, dst FROM rbi
           UNION SELECT rr.src, rbi.dst FROM rr JOIN rbi ON rr.dst = rbi.src),
         rreach AS (SELECT src, dst FROM rr
           UNION SELECT DISTINCT src, src FROM rbi),
         rlbl AS (SELECT src AS id, min(dst) AS rep FROM rreach GROUP BY src),
         rmap AS MATERIALIZED (SELECT e.vec_id, coalesce(r.rep, e.vec_id) AS rep
           FROM e LEFT JOIN rlbl r ON r.id = e.vec_id),
         mult AS MATERIALIZED (SELECT rep, count(*) AS m FROM rmap GROUP BY rep),
         reps AS MATERIALIZED (SELECT e.vec_id, e.v, e.n, mult.m
           FROM e JOIN mult ON mult.rep = e.vec_id),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM reps
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("reps")}),
         assigned AS MATERIALIZED (SELECT vec_id, v, n, cid FROM (
             SELECT reps.vec_id, reps.v, reps.n, c0.cid,
               row_number() OVER (PARTITION BY reps.vec_id
                 ORDER BY (${VecOps.sqlDot("reps.v", "c0.cv")} / (reps.n * c0.cn)) DESC,
                   c0.cid) AS arn
             FROM reps, c0) WHERE arn = 1),
         probes AS MATERIALIZED (SELECT src, qv, qn, cid FROM (
             SELECT reps.vec_id AS src, reps.v AS qv, reps.n AS qn, c0.cid,
               row_number() OVER (PARTITION BY reps.vec_id
                 ORDER BY (${VecOps.sqlDot("reps.v", "c0.cv")} / (reps.n * c0.cn)) DESC,
                   c0.cid) AS prn
             FROM reps, c0) WHERE prn <= $NProbe),
         prs AS MATERIALIZED (SELECT p.src, a.vec_id AS nbr
           FROM probes p JOIN assigned a USING (cid)
           WHERE a.vec_id <> p.src
             AND CAST(floor((${VecOps.sqlDot("p.qv", "a.v")} / (p.qn * a.n))
               * 1000000.0) AS BIGINT) >= $DbEpsMicro),
         deg AS MATERIALIZED (SELECT r.vec_id AS src,
             coalesce(nb.s, 0) + r.m - 1 AS deg
           FROM reps r LEFT JOIN (SELECT prs.src, sum(m.m) AS s FROM prs
             JOIN mult m ON m.rep = prs.nbr GROUP BY prs.src) nb
           ON nb.src = r.vec_id),
         core AS (SELECT src AS id FROM deg WHERE deg >= $DbMinPts),
         ce AS MATERIALIZED (SELECT prs.src, prs.nbr FROM prs
           JOIN core ca ON ca.id = prs.src JOIN core cb ON cb.id = prs.nbr),
         bi AS MATERIALIZED (SELECT src, nbr AS dst FROM ce UNION SELECT nbr, src FROM ce),
         cr AS (SELECT src, dst FROM bi
           UNION SELECT cr.src, bi.dst FROM cr JOIN bi ON cr.dst = bi.src),
         reach AS (SELECT src, dst FROM cr UNION SELECT DISTINCT src, src FROM bi),
         ccl AS (SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src),
         corelbl AS (SELECT core.id, coalesce(ccl.cluster, core.id) AS cluster
           FROM core LEFT JOIN ccl USING (id)),
         borderlbl AS (SELECT prs.src, min(cl.cluster) AS cluster
           FROM prs JOIN corelbl cl ON cl.id = prs.nbr
           WHERE prs.src NOT IN (SELECT id FROM core)
           GROUP BY prs.src)
         SELECT rm.vec_id, CAST(deg.deg AS BIGINT) AS deg,
           CASE WHEN c.cluster IS NOT NULL THEN 'core'
                WHEN b.cluster IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(coalesce(c.cluster, b.cluster, -1) AS BIGINT) AS cluster
         FROM rmap rm JOIN deg ON deg.src = rm.rep
           LEFT JOIN corelbl c ON c.id = rm.rep
           LEFT JOIN borderlbl b ON b.src = rm.rep
         ORDER BY rm.vec_id""",


    // Matryoshka: prefix-dim coarse cosine, exact full-dim rescore
    "s_mrl_topk" -> sqlTopk(
      s"""WITH b AS (SELECT vec_id, v, n,
             sqrt(${sqlPrefixDot("v", "v", MrlDim)}) AS pn
           FROM ($sqlVecs)),
         cand AS (SELECT q, vec_id FROM (
             SELECT qs.vec_id AS q, e.vec_id,
               row_number() OVER (PARTITION BY qs.vec_id
                 ORDER BY (${sqlPrefixDot("qs.v", "e.v", MrlDim)}
                   / (qs.pn * e.pn)) DESC, e.vec_id ASC) AS crn
             FROM b qs JOIN b e ON e.vec_id <> qs.vec_id
             WHERE qs.vec_id < $NQueries) WHERE crn <= $RescoreC)
         SELECT c.q, e.vec_id,
           (${VecOps.sqlDot("qs.v", "e.v")} / (qs.n * e.n)) AS cos
         FROM cand c JOIN b e ON e.vec_id = c.vec_id
           JOIN b qs ON qs.vec_id = c.q"""),

    "s_ivf_ann" -> sqlIvf(refine = false),
    "s_ivf_kmeans" -> sqlIvf(refine = true),
    "s_silhouette" -> sqlSilhouette,
    "s_dunn" -> sqlDunn,

    // upsert: the centroid draw sees only pre-batch vectors; assignment
    // covers the full corpus (old standing + delta in one argmax — the
    // per-vector independence the Spark-side union relies on)
    "s_ivf_upsert" -> sqlTopk(
      s"""WITH e AS ($sqlVecs),
         t AS (SELECT max(vec_id) * 4 // 5 AS tnew FROM e),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
           WHERE vec_id < (SELECT tnew FROM t)
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT ${sqlK("e WHERE vec_id < (SELECT tnew FROM t)")}),
         assigned AS (
           SELECT vec_id, v, n, cid FROM (
             SELECT e.vec_id, e.v, e.n, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS arn
             FROM e, c0) WHERE arn = 1),
         probes AS (
           SELECT q, qv, qn, cid FROM (
             SELECT e.vec_id AS q, e.v AS qv, e.n AS qn, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS prn
             FROM e, c0 WHERE e.vec_id < $NQueries) WHERE prn <= $NProbe)
         SELECT probes.q, assigned.vec_id,
           (${VecOps.sqlDot("probes.qv", "assigned.v")} / (probes.qn * assigned.n)) AS cos
         FROM probes JOIN assigned USING (cid)
         WHERE assigned.vec_id <> probes.q"""),

    // the store probe round-trips the same unrefined index through
    // parquet (doubles are bit-exact through parquet), so its oracle is
    // the s_ivf_ann pipeline verbatim
    "s_ivf_store_probe" -> sqlIvf(refine = false),

    // the build entry answers for the unrefined IVF assignment's cell
    // histogram (the refined variant and the PQ model it also builds
    // are held by s_ivf_kmeans / s_pq_ann's own oracles)
    "s_index_build" ->
      s"""WITH e AS ($sqlVecs),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
         assigned AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS arn
             FROM e, c0) WHERE arn = 1)
         SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM assigned
         GROUP BY cid ORDER BY cid""",

    // the store holds the UNREFINED assignment; health stats recompute
    // it and the per-vector centroid fit in the same integer micro form
    "s_index_health" ->
      s"""WITH e AS ($sqlVecs),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
         assigned AS (SELECT vec_id, v, n, cid FROM (
           SELECT e.vec_id, e.v, e.n, c0.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                 c0.cid) AS arn
           FROM e, c0) WHERE arn = 1),
         fit AS (SELECT a.cid,
             CAST(floor(((${VecOps.sqlDot("a.v", "c.cv")} / (a.n * c.cn)) + 1.0)
               * 1000000.0) AS BIGINT) AS cm
           FROM assigned a JOIN c0 c USING (cid)),
         tot AS (SELECT count(*) AS t FROM fit)
         SELECT cid, count(*) AS n_vecs,
           CAST(sum(cm) // count(*) AS BIGINT) AS fit_micro,
           (count(*) * ${sqlK("e")} > 2 * t) AS hot,
           (count(*) * ${sqlK("e")} * 2 < t) AS cold
         FROM fit, tot GROUP BY cid, t ORDER BY cid""",

    "s_pq_ann" ->
      s"""WITH e AS ($sqlVecs),
         $sqlPqCtes,
         scored AS (SELECT lut.q, codes.vec_id, CAST(sum(lut.micro) AS DOUBLE) AS adc
           FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.code
           WHERE codes.vec_id <> lut.q GROUP BY lut.q, codes.vec_id)
         $sqlAdcTopk""",

    // IVF-PQ: the probe/assignment CTEs of s_ivf_ann (unrefined seed)
    // generate the candidate set; the PQ CTEs of s_pq_ann score it
    "s_ivfpq_ann" ->
      s"""WITH e AS ($sqlVecs),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
         assigned AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS arn
             FROM e, c0) WHERE arn = 1),
         probes AS (
           SELECT q, cid FROM (
             SELECT e.vec_id AS q, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS prn
             FROM e, c0 WHERE e.vec_id < $NQueries) WHERE prn <= $NProbe),
         cand AS (SELECT probes.q, assigned.vec_id
           FROM probes JOIN assigned USING (cid)
           WHERE assigned.vec_id <> probes.q),
         $sqlPqCtes,
         scored AS (SELECT cand.q, cand.vec_id, CAST(sum(lut.micro) AS DOUBLE) AS adc
           FROM cand JOIN codes ON codes.vec_id = cand.vec_id
           JOIN lut ON lut.q = cand.q AND lut.m = codes.m AND lut.code = codes.code
           GROUP BY cand.q, cand.vec_id)
         $sqlAdcTopk"""
  )

  /** SQL mirror of s_ndcg: the same grade/discount literals over the
    * bf and IVF top-K CTEs. */
  private def sqlNdcg: String = {
    val disc = NdcgDiscPpm.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
    s"""WITH bf AS (${oracleBase("s_cosine_topk")}),
       ann AS (${oracleBase("s_ivf_ann")}),
       j AS (SELECT ann.q,
           (CASE ann.rn $disc ELSE 0 END)
             * coalesce(${K + 1} - bf.rn, 0) AS gd
         FROM ann LEFT JOIN bf ON bf.q = ann.q AND bf.vec_id = ann.vec_id)
       SELECT q, CAST(sum(gd) AS BIGINT) AS dcg_scaled,
         CAST((1000000 * sum(gd)) // $NdcgIdcg AS BIGINT) AS ndcg_ppm
       FROM j GROUP BY q ORDER BY q"""
  }

  private def sqlRecall(annName: String) =
    s"""WITH bf AS (${oracleBase("s_cosine_topk")}),
       ann AS (${oracleBase(annName)})
       SELECT bf.q, CAST(count(ann.vec_id) AS INT) AS hits,
         (count(ann.vec_id) / ${K}.0) AS recall
       FROM bf LEFT JOIN ann ON ann.q = bf.q AND ann.vec_id = bf.vec_id
       GROUP BY bf.q ORDER BY bf.q"""

  /** SQL mirror of s_seed_dist: BfsRounds unrolled frontier-expansion
    * stages; each stage MATERIALIZEs the newly-discovered layer and
    * the running visited set the next stage anti-joins. Stages past
    * exhaustion discover nothing, matching the Spark early exit. */
  private def sqlSeedDist: String = {
    val rounds = (1 to BfsRounds).map { t =>
      val pv = s"v${t - 1}"; val pf = s"f${t - 1}"
      s"""f$t AS MATERIALIZED (SELECT DISTINCT ed.nbr AS vec_id
           FROM ed JOIN $pf f ON f.vec_id = ed.src
           WHERE NOT EXISTS (SELECT 1 FROM $pv v WHERE v.vec_id = ed.nbr)),
         v$t AS MATERIALIZED (SELECT vec_id, dist FROM $pv
           UNION ALL SELECT vec_id, $t AS dist FROM f$t)"""
    }.mkString(",\n")
    s"""WITH $sqlKnnCtes,
       und AS MATERIALIZED (SELECT DISTINCT least(src, nbr) AS u,
           greatest(src, nbr) AS w FROM knn),
       ed AS MATERIALIZED (SELECT u AS src, w AS nbr FROM und
         UNION ALL SELECT w AS src, u AS nbr FROM und),
       nodes AS (SELECT DISTINCT src AS vec_id FROM ed),
       f0 AS (SELECT vec_id FROM nodes WHERE vec_id < $NQueries),
       v0 AS (SELECT vec_id, 0 AS dist FROM f0),
       $rounds,
       lay AS (SELECT vec_id, dist FROM v$BfsRounds
         UNION ALL SELECT n.vec_id, -1 AS dist FROM nodes n
           WHERE NOT EXISTS (SELECT 1 FROM v$BfsRounds v
             WHERE v.vec_id = n.vec_id))
       SELECT l.vec_id, CAST(l.dist AS INT) AS dist, c.n_at_dist
       FROM lay l JOIN (SELECT dist, CAST(count(*) AS BIGINT) AS n_at_dist
         FROM lay GROUP BY dist) c ON c.dist = l.dist
       ORDER BY l.vec_id"""
  }

  /** SQL mirror of s_negatives: the unrefined-IVF probe CTEs feed the
    * hard band, the md5-indexed draws feed the random band, both
    * exact-cosine-scored in the same integer micro-units. */
  private def sqlNegatives: String =
    s"""WITH e AS ($sqlVecs),
       c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
       assigned AS (
         SELECT vec_id, v, n, cid FROM (
           SELECT e.vec_id, e.v, e.n, c0.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                 c0.cid) AS arn
           FROM e, c0) WHERE arn = 1),
       probes AS (
         SELECT q, qv, qn, cid FROM (
           SELECT e.vec_id AS q, e.v AS qv, e.n AS qn, c0.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                 c0.cid) AS prn
           FROM e, c0 WHERE e.vec_id < $NQueries) WHERE prn <= $NProbe),
       hard0 AS (SELECT probes.q, assigned.vec_id AS cand,
           CAST(floor((${VecOps.sqlDot("probes.qv", "assigned.v")}
             / (probes.qn * assigned.n)) * 1000000.0) AS BIGINT) AS cos_micro
         FROM probes JOIN assigned USING (cid)
         WHERE assigned.vec_id <> probes.q),
       hard AS (SELECT q, cand, 'hard' AS kind, cos_micro, rank FROM (
           SELECT q, cand, cos_micro, CAST(row_number() OVER (PARTITION BY q
             ORDER BY cos_micro DESC, cand) AS INT) AS rank
           FROM hard0 WHERE cos_micro < $RangeTauMicro)
         WHERE rank <= $HardNegK),
       qs AS (SELECT vec_id AS q, v AS qv, n AS qn FROM e
         WHERE vec_id < $NQueries),
       nv AS (SELECT count(*) AS nvec FROM e),
       js AS (SELECT unnest(range(0, $RandNegK)) AS j),
       rnd0 AS (SELECT qs.q, qs.qv, qs.qn,
           (${Determinism.sqlMd5Idx(
             "'rng#' || CAST(qs.q AS VARCHAR) || '#' || CAST(js.j AS VARCHAR)")}
             % nv.nvec) AS cand
         FROM qs, js, nv),
       rnd1 AS (SELECT r.q, r.cand,
           CAST(floor((${VecOps.sqlDot("r.qv", "e.v")}
             / (r.qn * e.n)) * 1000000.0) AS BIGINT) AS cos_micro
         FROM rnd0 r JOIN e ON e.vec_id = r.cand
         WHERE r.cand <> r.q),
       rnd AS (SELECT q, cand, 'random' AS kind, cos_micro,
           CAST(row_number() OVER (PARTITION BY q
             ORDER BY cos_micro DESC, cand) AS INT) AS rank
         FROM rnd1 WHERE cos_micro < $RangeTauMicro)
       SELECT q, cand, kind, cos_micro, rank FROM hard
       UNION ALL SELECT q, cand, kind, cos_micro, rank FROM rnd
       ORDER BY q, kind, rank"""

  /** SQL mirror of s_kcore_peel: KcoreRounds unrolled synchronous peel
    * stages over the bidirectional knn edge list — each stage computes
    * alive-degrees (both endpoints gated on the previous alive set),
    * drops the sub-KcoreK nodes into layer t, and MATERIALIZEs the
    * survivor set the next stage reads. Stages past the fixpoint peel
    * nothing, matching the Spark side's early exit. */
  private def sqlKcorePeel: String = {
    val rounds = (1 to KcoreRounds).map { t =>
      val prev = s"a${t - 1}"
      s"""dg$t AS (SELECT ed.src, count(*) AS c FROM ed
           JOIN $prev x ON x.vec_id = ed.src
           JOIN $prev y ON y.vec_id = ed.nbr
           GROUP BY ed.src),
         d$t AS MATERIALIZED (SELECT a.vec_id FROM $prev a
           LEFT JOIN dg$t ON dg$t.src = a.vec_id
           WHERE coalesce(dg$t.c, 0) < $KcoreK),
         a$t AS MATERIALIZED (SELECT src AS vec_id FROM dg$t
           WHERE c >= $KcoreK)"""
    }.mkString(",\n")
    val lay = (1 to KcoreRounds)
      .map(t => s"SELECT vec_id, $t AS peel_layer FROM d$t")
      .mkString(" UNION ALL ") +
      s" UNION ALL SELECT vec_id, 0 AS peel_layer FROM a$KcoreRounds"
    s"""WITH $sqlKnnCtes,
       und AS MATERIALIZED (SELECT DISTINCT least(src, nbr) AS u,
           greatest(src, nbr) AS w FROM knn),
       ed AS MATERIALIZED (SELECT u AS src, w AS nbr FROM und
         UNION ALL SELECT w AS src, u AS nbr FROM und),
       a0 AS (SELECT DISTINCT src AS vec_id FROM ed),
       $rounds,
       lay AS ($lay)
       SELECT l.vec_id, CAST(l.peel_layer AS INT) AS peel_layer,
         ls.layer_size
       FROM lay l JOIN (SELECT peel_layer,
           CAST(count(*) AS BIGINT) AS layer_size
         FROM lay GROUP BY peel_layer) ls ON ls.peel_layer = l.peel_layer
       ORDER BY l.vec_id"""
  }

  /** The KNN-graph CTE block (seed draw → assignment → all-vector
    * probes → top-KnnK neighbor list named `knn`) — shared by the
    * s_knn_graph oracle, the s_graph_rank oracle's edge list, and the
    * graph-loop oracles (seed-dist BFS, k-core peel, LPA). */
  private val sqlKnnCtes =
    s"""e AS ($sqlVecs),
       c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
       assigned AS (
         SELECT vec_id, v, n, cid FROM (
           SELECT e.vec_id, e.v, e.n, c0.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                 c0.cid) AS arn
           FROM e, c0) WHERE arn = 1),
       probes AS (
         SELECT src, qv, qn, cid FROM (
           SELECT e.vec_id AS src, e.v AS qv, e.n AS qn, c0.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                 c0.cid) AS prn
           FROM e, c0) WHERE prn <= $NProbe),
       knn AS (
         SELECT src, nbr, cos, rn FROM (
           SELECT src, nbr, cos,
             CAST(row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr) AS INT) AS rn
           FROM (SELECT probes.src, assigned.vec_id AS nbr,
               (${VecOps.sqlDot("probes.qv", "assigned.v")}
                 / (probes.qn * assigned.n)) AS cos
             FROM probes JOIN assigned USING (cid)
             WHERE assigned.vec_id <> probes.src))
         WHERE rn <= $KnnK)"""

  /** RankIters unrolled PageRank stages over the knn edge list — the
    * same integer-micro floor-division trajectory as the Spark side. */
  private val sqlGraphRank = {
    val iters = (1 to RankIters).map { t =>
      val prev = if (t == 1) "pr0" else s"pr${t - 1}"
      s"""s$t AS (SELECT nbr, sum(pr // deg) AS sv
           FROM ed JOIN $prev ON $prev.vec_id = ed.src GROUP BY nbr),
         pr$t AS (SELECT e.vec_id,
             150000 + (850 * coalesce(sv, 0)) // 1000 AS pr
           FROM e LEFT JOIN s$t ON s$t.nbr = e.vec_id)"""
    }.mkString(",\n")
    s"""WITH $sqlKnnCtes,
       edges AS (SELECT src, nbr FROM knn),
       deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       ed AS (SELECT edges.src, edges.nbr, deg.deg FROM edges JOIN deg USING (src)),
       pr0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS pr FROM e),
       $iters
       SELECT vec_id, CAST(pr AS BIGINT) AS pr FROM pr$RankIters ORDER BY vec_id"""
  }

  /** ONE copy of the brute-force-MaxSim ground truth + recall tail —
    * both MaxSim recall oracles read it with their ann side inlined. */
  private def sqlMaxSimRecall(annSql: String): String =
    s"""WITH e AS ($sqlVecs),
       bf AS (SELECT q, vec_id FROM (
           SELECT qs.vec_id AS q, e.vec_id,
             row_number() OVER (PARTITION BY qs.vec_id
               ORDER BY ${sqlMaxSim("qs.v", "e.v")} DESC, e.vec_id ASC) AS rn
           FROM e qs JOIN e ON e.vec_id <> qs.vec_id
           WHERE qs.vec_id < $NQueries) WHERE rn <= $K),
       ann AS ($annSql)
       SELECT bf.q, CAST(count(ann.vec_id) AS INT) AS hits,
         (count(ann.vec_id) / ${K}.0) AS recall
       FROM bf LEFT JOIN ann ON ann.q = bf.q AND ann.vec_id = bf.vec_id
       GROUP BY bf.q ORDER BY bf.q"""

  /** Per-token retrieval + MaxSim rerank oracle: token table via list
    * slices, md5-rank token centroids, per-token assignment/probes by
    * raw dot, candidate union, full MaxSim rerank. Referenced by the
    * entry itself and inlined as the ann side of its recall eval. */
  private def sqlMaxSimTok: String = sqlMaxSimTokOver("toks", "")

  /** The per-token retrieval CTE chain with the centroid DRAW relation
    * as a parameter — "toks" gives s_maxsim_tok (full-corpus draw),
    * "told" (+ its tnew CTE) gives s_tok_upsert (standing old-token
    * draw, assignment over the full population — the one-shot
    * recompute the mergeable upsert must equal). */
  private def sqlMaxSimTokOver(draw: String, extraCtes: String): String =
    s"""WITH e AS ($sqlVecs),
         toks AS (SELECT vec_id, v, CAST(t AS INT) AS t,
             v[CAST((t-1)*$PqSub+1 AS INT):CAST(t*$PqSub AS INT)] AS tv
           FROM e, unnest(range(1, ${PqM + 1})) AS r(t)),$extraCtes
         tc AS (SELECT row_number() OVER (ORDER BY dk, vec_id, t) AS cid,
             tv AS cv FROM (
             SELECT vec_id, t, tv,
               md5(CAST(vec_id AS VARCHAR) || '#' || CAST(t AS VARCHAR)) AS dk
             FROM $draw ORDER BY dk, vec_id, t LIMIT ${sqlK(draw)})),
         assigned AS (SELECT vec_id, cid FROM (
             SELECT toks.vec_id, tc.cid,
               row_number() OVER (PARTITION BY toks.vec_id, toks.t
                 ORDER BY ${sqlSubDot("toks.tv", "tc.cv")} DESC, tc.cid) AS arn
             FROM toks, tc) WHERE arn = 1),
         probes AS (SELECT DISTINCT q, cid FROM (
             SELECT toks.vec_id AS q, toks.t, tc.cid,
               row_number() OVER (PARTITION BY toks.vec_id, toks.t
                 ORDER BY ${sqlSubDot("toks.tv", "tc.cv")} DESC, tc.cid) AS prn
             FROM toks, tc WHERE toks.vec_id < $NQueries)
           WHERE prn <= ${sqlNProbeTok(draw)}),
         cand AS (SELECT DISTINCT p.q, a.vec_id
           FROM probes p JOIN assigned a USING (cid) WHERE a.vec_id <> p.q),
         scored AS (SELECT c.q, c.vec_id, ${sqlMaxSim("qs.v", "dv.v")} AS ms
           FROM cand c JOIN e dv ON dv.vec_id = c.vec_id
             JOIN e qs ON qs.vec_id = c.q)
         SELECT q, vec_id, ms AS maxsim_micro, CAST(rn AS INT) AS rn FROM (
           SELECT q, vec_id, ms, row_number() OVER (PARTITION BY q
             ORDER BY ms DESC, vec_id ASC) AS rn FROM scored)
         WHERE rn <= $K ORDER BY q, rn"""

  /** s_tok_upsert: centroid draw over the OLD tokens only, assignment
    * over the full population — the one-shot recompute the mergeable
    * standing ∪ delta union must equal (per-token argmax independence,
    * the same property s_ivf_upsert's oracle states for vectors). */
  private def sqlTokUpsert: String = sqlMaxSimTokOver("told",
    """
         t AS (SELECT max(vec_id) * 4 // 5 AS tnew FROM e),
         told AS (SELECT * FROM toks WHERE vec_id < (SELECT tnew FROM t)),""")

  /** st_tok_ingest's batch mirror: old-token-drawn standing index, NEW
    * vectors (the ingest batch) probe per token, candidates MaxSim-
    * score against their own self-score — 10·ms ≥ 7·self keeps pairs
    * whose multi-vector match reaches 70% of a perfect one (integer
    * products, exact cross-engine). Lives here because it shares the
    * token CTE vocabulary with sqlTokUpsert; StreamingQueries maps it. */
  private[graft] def sqlTokIngest: String =
    s"""WITH e AS ($sqlVecs),
         toks AS (SELECT vec_id, v, CAST(t AS INT) AS t,
             v[CAST((t-1)*$PqSub+1 AS INT):CAST(t*$PqSub AS INT)] AS tv
           FROM e, unnest(range(1, ${PqM + 1})) AS r(t)),
         t AS (SELECT max(vec_id) * 4 // 5 AS tnew FROM e),
         told AS (SELECT * FROM toks WHERE vec_id < (SELECT tnew FROM t)),
         tc AS (SELECT row_number() OVER (ORDER BY dk, vec_id, t) AS cid,
             tv AS cv FROM (
             SELECT vec_id, t, tv,
               md5(CAST(vec_id AS VARCHAR) || '#' || CAST(t AS VARCHAR)) AS dk
             FROM told ORDER BY dk, vec_id, t LIMIT ${sqlK("told")})),
         standing AS (SELECT vec_id, cid FROM (
             SELECT told.vec_id, tc.cid,
               row_number() OVER (PARTITION BY told.vec_id, told.t
                 ORDER BY ${sqlSubDot("told.tv", "tc.cv")} DESC, tc.cid) AS arn
             FROM told, tc) WHERE arn = 1),
         probes AS (SELECT DISTINCT q, cid FROM (
             SELECT toks.vec_id AS q, toks.t, tc.cid,
               row_number() OVER (PARTITION BY toks.vec_id, toks.t
                 ORDER BY ${sqlSubDot("toks.tv", "tc.cv")} DESC, tc.cid) AS prn
             FROM toks, tc WHERE toks.vec_id >= (SELECT tnew FROM t)
               AND toks.vec_id < (SELECT tnew + tnew // 16 FROM t))
           WHERE prn <= ${sqlNProbeTok("told")}),
         cand AS (SELECT DISTINCT p.q, a.vec_id
           FROM probes p JOIN standing a USING (cid) WHERE a.vec_id <> p.q),
         scored AS (SELECT c.q, c.vec_id,
             ${sqlMaxSim("qs.v", "dv.v")} AS ms,
             ${sqlMaxSim("qs.v", "qs.v")} AS selfms
           FROM cand c JOIN e dv ON dv.vec_id = c.vec_id
             JOIN e qs ON qs.vec_id = c.q)
         SELECT q, vec_id, ms AS maxsim_micro FROM scored
         WHERE ms * 10 >= selfms * 7 ORDER BY q, vec_id"""

  /** PprIters unrolled personalized-PageRank stages over the knn edge
    * list — the s_graph_rank trajectory with a per-seed q column and a
    * SPARSE frame (rows exist only where the walk has reached; the
    * HAVING > 0 gate mirrors the engine's filter so the two
    * formulations cannot disagree on zero-score tail rows). Each pr
    * stage MATERIALIZED: the next stage's join would otherwise
    * re-expand the whole KNN pipeline per iteration. */
  private def sqlPpr: String = {
    val iters = (1 to PprIters).map { t =>
      val prev = s"ppr${t - 1}"
      s"""ps$t AS (SELECT p.q, ed.nbr, sum(p.pr // ed.deg) AS sv
           FROM ed JOIN $prev p ON p.vec_id = ed.src GROUP BY p.q, ed.nbr),
         ppr$t AS MATERIALIZED (SELECT q, vec_id, CAST(sum(dpr) AS BIGINT) AS pr
           FROM (
             SELECT q, nbr AS vec_id, (850 * sv) // 1000 AS dpr FROM ps$t
             UNION ALL SELECT vec_id AS q, vec_id,
               CAST(150000 AS BIGINT) AS dpr FROM e WHERE vec_id < $NQueries)
           GROUP BY q, vec_id HAVING sum(dpr) > 0)"""
    }.mkString(",\n")
    s"""WITH $sqlKnnCtes,
       edges AS (SELECT src, nbr FROM knn),
       deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       ed AS MATERIALIZED (SELECT edges.src, edges.nbr, deg.deg
         FROM edges JOIN deg USING (src)),
       ppr0 AS (SELECT vec_id AS q, vec_id, CAST(1000000 AS BIGINT) AS pr
         FROM e WHERE vec_id < $NQueries),
       $iters
       SELECT q, vec_id, pr, CAST(rn AS INT) AS rn FROM (
         SELECT q, vec_id, pr, row_number() OVER (PARTITION BY q
           ORDER BY pr DESC, vec_id ASC) AS rn FROM ppr$PprIters)
       WHERE rn <= $PprK ORDER BY q, rn"""
  }

  /** DescentRounds chained NN-descent stages + the per-round recall
    * rows — the SQL mirror of s_nn_descent_k's loop (g0 = the knn seed
    * graph; each round's candidate/re-rank CTE pair reproduces
    * [[descentRound]] exactly, cosines bit-identical). Each graph CTE
    * is MATERIALIZED: each round references its predecessor three
    * times, so DuckDB's default CTE inlining would re-expand the whole
    * KNN pipeline ~3^rounds times (observed: OOM at sf0.001). */
  private def sqlNnDescentK: String = {
    val rounds = (1 to DescentRounds).map { r =>
      val prev = s"g${r - 1}"
      s"""cand$r AS (SELECT DISTINCT src, cand FROM (
           SELECT src, nbr AS cand FROM $prev
           UNION ALL
           SELECT a.src, b.nbr AS cand FROM $prev a JOIN $prev b ON a.nbr = b.src
           UNION ALL
           SELECT nbr AS src, src AS cand FROM $prev)
         WHERE src <> cand),
         g$r AS MATERIALIZED (SELECT src, nbr FROM (
           SELECT c.src, c.cand AS nbr,
             row_number() OVER (PARTITION BY c.src ORDER BY
               (${VecOps.sqlDot("es.v", "ec.v")} / (es.n * ec.n)) DESC,
                 c.cand) AS rn
           FROM cand$r c JOIN e es ON es.vec_id = c.src
             JOIN e ec ON ec.vec_id = c.cand) WHERE rn <= $KnnK)"""
    }.mkString(",\n")
    val recalls = (0 to DescentRounds).map { r =>
      s"""SELECT $r AS iter, bfk.q, count(g.nbr) AS hits
         FROM bfk LEFT JOIN g$r g ON g.src = bfk.q AND g.nbr = bfk.nbr
         GROUP BY bfk.q"""
    }.mkString(" UNION ALL ")
    s"""WITH $sqlKnnCtes,
       g0 AS MATERIALIZED (SELECT src, nbr FROM knn),
       $rounds,
       bf AS (${oracleBase("s_cosine_topk")}),
       bfk AS MATERIALIZED (SELECT q, vec_id AS nbr FROM bf WHERE rn <= $KnnK)
       SELECT CAST(iter AS INT) AS iter, q, CAST(hits AS INT) AS hits,
         (CAST(hits AS INT) / ${KnnK}.0) AS recall
       FROM ($recalls) ORDER BY iter, q"""
  }

  /** SQL mirror of s_graph_search's greedy beam walk: seed beam →
    * SearchRounds expansion/re-rank CTE pairs (MATERIALIZED — each
    * round references its predecessor twice) → final top-K. Cosines
    * are the same unrolled IEEE chain as everywhere else. */
  private def sqlCosOf(q: String, x: String) =
    s"(${VecOps.sqlDot(s"$q.qv", s"$x.v")} / ($q.qn * $x.n))"

  /** The beam-walk CTE chain at a given width — b0`sfx` seeds through
    * b&#36;SearchRounds`sfx` — over standing `e`, `knn`, `qs`, `seeds`
    * CTEs. ONE copy serves sqlGraphSearch (width = SearchBeam,
    * sfx = "") and the sqlBeamSweep widths. */
  private def sqlBeamChain(beam: Int, sfx: String): String = {
    val rounds = (1 to SearchRounds).map { r =>
      val prev = s"b${r - 1}$sfx"
      s"""x$r$sfx AS (SELECT DISTINCT q, vec_id FROM (
           SELECT q, vec_id FROM $prev
           UNION ALL
           SELECT b.q, k.nbr AS vec_id FROM $prev b JOIN knnm k ON k.src = b.vec_id)),
         b$r$sfx AS MATERIALIZED (SELECT q, vec_id FROM (
           SELECT x.q, x.vec_id,
             row_number() OVER (PARTITION BY x.q ORDER BY
               ${sqlCosOf("qs", "e")} DESC, x.vec_id) AS brn
           FROM x$r$sfx x JOIN e ON e.vec_id = x.vec_id JOIN qs ON qs.q = x.q)
           WHERE brn <= $beam)"""
    }.mkString(",\n")
    s"""b0$sfx AS MATERIALIZED (SELECT q, vec_id FROM (
         SELECT qs.q, e.vec_id,
           row_number() OVER (PARTITION BY qs.q ORDER BY
             ${sqlCosOf("qs", "e")} DESC, e.vec_id) AS brn
         FROM qs, seeds s JOIN e ON e.vec_id = s.vec_id)
         WHERE brn <= $beam),
       $rounds"""
  }

  /** Final top-K re-rank of a finished beam relation (named `from`). */
  private def sqlBeamTopk(from: String): String =
    s"""SELECT q, vec_id, cos, rn FROM (
         SELECT b.q, b.vec_id, ${sqlCosOf("qs", "e")} AS cos,
           CAST(row_number() OVER (PARTITION BY b.q ORDER BY
             ${sqlCosOf("qs", "e")} DESC, b.vec_id) AS INT) AS rn
         FROM $from b JOIN e ON e.vec_id = b.vec_id
           JOIN qs ON qs.q = b.q
         WHERE b.vec_id <> b.q)
       WHERE rn <= $K"""

  // knnm: the walk rounds join the edge relation once per round per
  // width — UN-materialized, each reference would inline the whole
  // e×centroid windowed knn derivation (9 copies in the sweep blew
  // past DuckDB's memory limit at sf0.01; measured, not theoretical)
  private val sqlQsSeedsCtes =
    s"""knnm AS MATERIALIZED (SELECT src, nbr FROM knn),
       qs AS MATERIALIZED (SELECT vec_id AS q, v AS qv, n AS qn FROM e
         WHERE vec_id < $NQueries),
       seeds AS (SELECT vec_id FROM e
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $SearchSeeds)"""

  private def sqlGraphSearch: String =
    s"""WITH $sqlKnnCtes,
       $sqlQsSeedsCtes,
       ${sqlBeamChain(SearchBeam, "")}
       ${sqlBeamTopk(s"b$SearchRounds")} ORDER BY q, rn"""

  /** SQL mirror of s_beam_sweep: the walk chain once per width over
    * the SAME standing CTEs, each answer's recall@K against the
    * in-query brute-force truth. */
  private def sqlBeamSweep: String = {
    val chains = SweepBeams.map(w => sqlBeamChain(w, s"w$w")).mkString(",\n")
    val rows = SweepBeams.map { w =>
      s"""SELECT $w AS beam,
           (SELECT count(*) FROM (${sqlBeamTopk(s"b${SearchRounds}w$w")}) r
             JOIN bff ON bff.q = r.q AND bff.vec_id = r.vec_id) AS hits"""
    }.mkString(" UNION ALL ")
    s"""WITH $sqlKnnCtes,
       $sqlQsSeedsCtes,
       $chains,
       bff AS MATERIALIZED (SELECT q, vec_id FROM (
         SELECT qs.q, e.vec_id,
           row_number() OVER (PARTITION BY qs.q ORDER BY
             ${sqlCosOf("qs", "e")} DESC, e.vec_id) AS rn
         FROM qs JOIN e ON e.vec_id <> qs.q) WHERE rn <= $K)
       SELECT CAST(beam AS INT) AS beam, CAST(hits AS BIGINT) AS hits,
         CAST((1000000 * hits) // ${K.toLong * NQueries} AS BIGINT)
           AS recall_ppm
       FROM ($rows) ORDER BY beam"""
  }

  /** SQL mirror of s_hnsw_search: the layer-1 descent CTEs (narrow
    * beam over the promoted-node induced subgraph) feed the layer-0
    * beam rounds; both layers are the same expansion/re-rank CTE-pair
    * shape as [[sqlGraphSearch]], MATERIALIZED for the same
    * plan-nesting reason. */
  private def sqlHnswSearch: String = {
    def cosOf(q: String, x: String) =
      s"(${VecOps.sqlDot(s"$q.qv", s"$x.v")} / ($q.qn * $x.n))"
    def walkRounds(pfx: String, edges: String, seed: String,
        rounds: Int, width: Int): String =
      (1 to rounds).map { r =>
        val prev = if (r == 1) seed else s"${pfx}b${r - 1}"
        s"""${pfx}x$r AS (SELECT DISTINCT q, vec_id FROM (
             SELECT q, vec_id FROM $prev
             UNION ALL
             SELECT b.q, k.nbr AS vec_id FROM $prev b
               JOIN $edges k ON k.src = b.vec_id)),
           ${pfx}b$r AS MATERIALIZED (SELECT q, vec_id FROM (
             SELECT x.q, x.vec_id,
               row_number() OVER (PARTITION BY x.q ORDER BY
                 ${cosOf("qs", "e")} DESC, x.vec_id) AS brn
             FROM ${pfx}x$r x JOIN e ON e.vec_id = x.vec_id
               JOIN qs ON qs.q = x.q)
             WHERE brn <= $width)"""
      }.mkString(",\n")
    s"""WITH $sqlKnnCtes,
       qs AS MATERIALIZED (SELECT vec_id AS q, v AS qv, n AS qn FROM e
         WHERE vec_id < $NQueries),
       prom AS MATERIALIZED (SELECT vec_id FROM e
         WHERE md5(CAST(vec_id AS VARCHAR)) < '$HnswPromote'),
       g1 AS MATERIALIZED (SELECT k.src, k.nbr FROM knn k
         JOIN prom p1 ON p1.vec_id = k.src
         JOIN prom p2 ON p2.vec_id = k.nbr),
       seeds AS (SELECT vec_id FROM prom
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $SearchSeeds),
       hb0 AS MATERIALIZED (SELECT q, vec_id FROM (
         SELECT qs.q, e.vec_id,
           row_number() OVER (PARTITION BY qs.q ORDER BY
             ${cosOf("qs", "e")} DESC, e.vec_id) AS brn
         FROM qs, seeds s JOIN e ON e.vec_id = s.vec_id)
         WHERE brn <= $HnswBeam1),
       ${walkRounds("h", "g1", "hb0", HnswRounds1, HnswBeam1)},
       b0 AS MATERIALIZED (SELECT q, vec_id FROM (
         SELECT h.q, h.vec_id,
           row_number() OVER (PARTITION BY h.q ORDER BY
             ${cosOf("qs", "e")} DESC, h.vec_id) AS brn
         FROM hb$HnswRounds1 h JOIN e ON e.vec_id = h.vec_id
           JOIN qs ON qs.q = h.q)
         WHERE brn <= $SearchBeam),
       ${walkRounds("", "knn", "b0", SearchRounds, SearchBeam)}
       SELECT q, vec_id, cos, rn FROM (
         SELECT b.q, b.vec_id, ${cosOf("qs", "e")} AS cos,
           CAST(row_number() OVER (PARTITION BY b.q ORDER BY
             ${cosOf("qs", "e")} DESC, b.vec_id) AS INT) AS rn
         FROM b$SearchRounds b JOIN e ON e.vec_id = b.vec_id
           JOIN qs ON qs.q = b.q
         WHERE b.vec_id <> b.q)
       WHERE rn <= $K ORDER BY q, rn"""
  }

  /** SQL mirror of s_mmr's greedy selection: pool + within-pool pair
    * similarities (both in integer micro-units), then MmrK-1 chained
    * redundancy/argmax CTE rounds (MATERIALIZED — each round references
    * the selected set twice; inlined, the pool pipeline would re-expand
    * per round). */
  /** SQL mirror of s_graph_upsert: old-corpus base graph (the
    * sqlKnnCtes shape restricted to vec_id < tnew with the old-seeded
    * c0), delta insert walk re-ranked against the old corpus only,
    * bidirectional link + per-src KnnK prune, then the standard search
    * walk over the upserted edges re-ranked against the full corpus.
    * The walk generator parameterizes the corpus/query CTE names the
    * [[sqlGraphSearch]] rounds hardcode. */
  private def sqlGraphUpsert: String = {
    def cosOf(q: String, x: String) =
      s"(${VecOps.sqlDot(s"$q.qv", s"$x.v")} / ($q.qn * $x.n))"
    def walk(pfx: String, edges: String, seed: String, corpus: String,
        qtab: String, rounds: Int, width: Int): String =
      (1 to rounds).map { r =>
        val prev = if (r == 1) seed else s"${pfx}b${r - 1}"
        s"""${pfx}x$r AS (SELECT DISTINCT q, vec_id FROM (
             SELECT q, vec_id FROM $prev
             UNION ALL
             SELECT b.q, k.nbr AS vec_id FROM $prev b
               JOIN $edges k ON k.src = b.vec_id)),
           ${pfx}b$r AS MATERIALIZED (SELECT q, vec_id FROM (
             SELECT x.q, x.vec_id,
               row_number() OVER (PARTITION BY x.q ORDER BY
                 ${cosOf(qtab, corpus)} DESC, x.vec_id) AS brn
             FROM ${pfx}x$r x JOIN $corpus ON $corpus.vec_id = x.vec_id
               JOIN $qtab ON $qtab.q = x.q)
             WHERE brn <= $width)"""
      }.mkString(",\n")
    s"""WITH e AS ($sqlVecs),
       t AS (SELECT max(vec_id) * 4 // 5 AS tnew FROM e),
       eold AS MATERIALIZED (SELECT * FROM e
         WHERE vec_id < (SELECT tnew FROM t)),
       c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM eold
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("eold")}),
       aold AS (SELECT vec_id, v, n, cid FROM (
         SELECT eold.vec_id, eold.v, eold.n, c0.cid,
           row_number() OVER (PARTITION BY eold.vec_id
             ORDER BY (${VecOps.sqlDot("eold.v", "c0.cv")} / (eold.n * c0.cn)) DESC,
               c0.cid) AS arn
         FROM eold, c0) WHERE arn = 1),
       probes AS (SELECT src, qv, qn, cid FROM (
         SELECT eold.vec_id AS src, eold.v AS qv, eold.n AS qn, c0.cid,
           row_number() OVER (PARTITION BY eold.vec_id
             ORDER BY (${VecOps.sqlDot("eold.v", "c0.cv")} / (eold.n * c0.cn)) DESC,
               c0.cid) AS prn
         FROM eold, c0) WHERE prn <= $NProbe),
       gbase AS MATERIALIZED (SELECT src, nbr, cos FROM (
         SELECT src, nbr, cos,
           row_number() OVER (PARTITION BY src ORDER BY cos DESC, nbr) AS rn
         FROM (SELECT probes.src, aold.vec_id AS nbr,
             (${VecOps.sqlDot("probes.qv", "aold.v")}
               / (probes.qn * aold.n)) AS cos
           FROM probes JOIN aold USING (cid)
           WHERE aold.vec_id <> probes.src))
         WHERE rn <= $KnnK),
       dq AS MATERIALIZED (SELECT vec_id AS q, v AS qv, n AS qn FROM e
         WHERE vec_id >= (SELECT tnew FROM t)),
       seeds AS (SELECT vec_id FROM eold
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $SearchSeeds),
       ib0 AS MATERIALIZED (SELECT q, vec_id FROM (
         SELECT dq.q, eold.vec_id,
           row_number() OVER (PARTITION BY dq.q ORDER BY
             ${cosOf("dq", "eold")} DESC, eold.vec_id) AS brn
         FROM dq, seeds s JOIN eold ON eold.vec_id = s.vec_id)
         WHERE brn <= $SearchBeam),
       ${walk("i", "gbase", "ib0", "eold", "dq", SearchRounds, SearchBeam)},
       newout AS (SELECT q AS src, vec_id AS nbr, cos FROM (
         SELECT b.q, b.vec_id, ${cosOf("dq", "eold")} AS cos,
           row_number() OVER (PARTITION BY b.q ORDER BY
             ${cosOf("dq", "eold")} DESC, b.vec_id) AS krn
         FROM ib$SearchRounds b JOIN eold ON eold.vec_id = b.vec_id
           JOIN dq ON dq.q = b.q)
         WHERE krn <= $KnnK),
       merged AS (SELECT src, nbr, cos FROM gbase
         UNION ALL SELECT src, nbr, cos FROM newout
         UNION ALL SELECT nbr AS src, src AS nbr, cos FROM newout),
       gup AS MATERIALIZED (SELECT src, nbr FROM (
         SELECT src, nbr,
           row_number() OVER (PARTITION BY src ORDER BY cos DESC, nbr) AS rn
         FROM merged) WHERE rn <= $KnnK),
       qs AS MATERIALIZED (SELECT vec_id AS q, v AS qv, n AS qn FROM e
         WHERE vec_id < $NQueries),
       b0 AS MATERIALIZED (SELECT q, vec_id FROM (
         SELECT qs.q, e.vec_id,
           row_number() OVER (PARTITION BY qs.q ORDER BY
             ${cosOf("qs", "e")} DESC, e.vec_id) AS brn
         FROM qs, seeds s JOIN e ON e.vec_id = s.vec_id)
         WHERE brn <= $SearchBeam),
       ${walk("", "gup", "b0", "e", "qs", SearchRounds, SearchBeam)}
       SELECT q, vec_id, cos, rn FROM (
         SELECT b.q, b.vec_id, ${cosOf("qs", "e")} AS cos,
           CAST(row_number() OVER (PARTITION BY b.q ORDER BY
             ${cosOf("qs", "e")} DESC, b.vec_id) AS INT) AS rn
         FROM b$SearchRounds b JOIN e ON e.vec_id = b.vec_id
           JOIN qs ON qs.q = b.q
         WHERE b.vec_id <> b.q)
       WHERE rn <= $K ORDER BY q, rn"""
  }

  private def sqlMmr: String = {
    val rounds = (2 to MmrK).map { t =>
      val prev = s"sel${t - 1}"
      s"""red$t AS (SELECT p.q, p.a, max(p.simm) AS redm
           FROM pairs p JOIN $prev s ON s.q = p.q AND s.vec_id = p.b
           GROUP BY p.q, p.a),
         pick$t AS (SELECT q, vec_id, $t AS rank, mmr FROM (
           SELECT c.q, c.vec_id, 7 * c.relm - 3 * r.redm AS mmr,
             row_number() OVER (PARTITION BY c.q
               ORDER BY (7 * c.relm - 3 * r.redm) DESC, c.vec_id) AS srn
           FROM pool c JOIN red$t r ON r.q = c.q AND r.a = c.vec_id
           WHERE NOT EXISTS (SELECT 1 FROM $prev s
             WHERE s.q = c.q AND s.vec_id = c.vec_id))
           WHERE srn = 1),
         sel$t AS MATERIALIZED (
           SELECT q, vec_id, rank, mmr FROM $prev
           UNION ALL SELECT q, vec_id, rank, mmr FROM pick$t)"""
    }.mkString(",\n")
    s"""WITH e AS ($sqlVecs),
       qs AS MATERIALIZED (SELECT vec_id AS q, v AS qv, n AS qn FROM e
         WHERE vec_id < $NQueries),
       pool AS MATERIALIZED (SELECT q, vec_id, relm FROM (
         SELECT qs.q, e.vec_id,
           CAST(floor((${VecOps.sqlDot("qs.qv", "e.v")} / (qs.qn * e.n))
             * 1000000.0) AS BIGINT) AS relm,
           row_number() OVER (PARTITION BY qs.q ORDER BY
             CAST(floor((${VecOps.sqlDot("qs.qv", "e.v")} / (qs.qn * e.n))
               * 1000000.0) AS BIGINT) DESC, e.vec_id) AS prn
         FROM qs JOIN e ON e.vec_id <> qs.q) WHERE prn <= $MmrPool),
       pairs AS MATERIALIZED (SELECT pa.q, pa.vec_id AS a, pb.vec_id AS b,
           CAST(floor((${VecOps.sqlDot("ea.v", "eb.v")} / (ea.n * eb.n))
             * 1000000.0) AS BIGINT) AS simm
         FROM pool pa JOIN pool pb ON pb.q = pa.q AND pb.vec_id <> pa.vec_id
         JOIN e ea ON ea.vec_id = pa.vec_id
         JOIN e eb ON eb.vec_id = pb.vec_id),
       sel1 AS MATERIALIZED (SELECT q, vec_id, 1 AS rank, 7 * relm AS mmr FROM (
         SELECT q, vec_id, relm, row_number() OVER (PARTITION BY q
           ORDER BY relm DESC, vec_id) AS srn FROM pool) WHERE srn = 1),
       $rounds
       SELECT q, CAST(rank AS INT) AS rank, vec_id,
         CAST(mmr AS BIGINT) AS mmr_micro
       FROM sel$MmrK ORDER BY q, rank"""
  }

  val oracleSql: Map[String, String] = oracleBase +
    ("s_mmr" -> sqlMmr) +
    ("s_knn_graph" ->
      s"WITH $sqlKnnCtes SELECT src, nbr, cos, rn FROM knn ORDER BY src, rn") +
    ("s_nn_descent_k" -> sqlNnDescentK) +
    ("s_graph_search" -> sqlGraphSearch) +
    ("s_beam_sweep" -> sqlBeamSweep) +
    ("s_graph_search_recall" ->
      s"""WITH bf AS (${oracleBase("s_cosine_topk")}),
         ann AS ($sqlGraphSearch)
         SELECT bf.q, CAST(count(ann.vec_id) AS INT) AS hits,
           (count(ann.vec_id) / ${K}.0) AS recall
         FROM bf LEFT JOIN ann ON ann.q = bf.q AND ann.vec_id = bf.vec_id
         GROUP BY bf.q ORDER BY bf.q""") +
    ("s_filtered_ann" -> sqlFilteredAnn) +
    ("s_range_search" -> sqlRangeSearch) +
    ("s_range_recall" -> {
      val bfr =
        s"""SELECT qs.vec_id AS q, e.vec_id
           FROM ($sqlVecs) qs JOIN ($sqlVecs) e ON e.vec_id <> qs.vec_id
           WHERE qs.vec_id < $NQueries
             AND CAST(floor((${VecOps.sqlDot("qs.v", "e.v")} / (qs.n * e.n))
               * 1000000.0) AS BIGINT) >= $RangeTauMicro"""
      s"""WITH bfr AS ($bfr),
         ann AS ($sqlRangeSearch),
         qs AS (SELECT vec_id AS q FROM embeddings WHERE vec_id < $NQueries)
         SELECT qs.q, count(bfr.vec_id) AS n_true, count(ann.vec_id) AS hits,
           CASE WHEN count(bfr.vec_id) = 0 THEN 1.0
                ELSE count(ann.vec_id) / count(bfr.vec_id) END AS recall
         FROM qs LEFT JOIN bfr ON bfr.q = qs.q
           LEFT JOIN ann ON ann.q = bfr.q AND ann.vec_id = bfr.vec_id
         GROUP BY qs.q ORDER BY qs.q"""
    }) +
    ("s_triangle_count" ->
      s"""WITH $sqlKnnCtes,
         und AS MATERIALIZED (SELECT DISTINCT least(src, nbr) AS u,
             greatest(src, nbr) AS w
           FROM knn),
         tri AS MATERIALIZED (SELECT e1.u AS a, e1.w AS b, e2.w AS c
           FROM und e1 JOIN und e2 ON e1.w = e2.u
           JOIN und e3 ON e3.u = e1.u AND e3.w = e2.w)
         SELECT vec_id, count(*) AS n_tri FROM (
           SELECT a AS vec_id FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri)
         GROUP BY vec_id ORDER BY vec_id""") +
    ("s_coreset" -> sqlCoreset) +
    ("s_label_prop" -> sqlLabelProp) +
    ("s_modularity" -> sqlModularity) +
    ("s_link_pred" -> sqlLinkPred) +
    ("s_adamic_adar" -> sqlAdamicAdar) +
    ("s_kcore_peel" -> sqlKcorePeel) +
    ("s_negatives" -> sqlNegatives) +
    ("s_seed_dist" -> sqlSeedDist) +
    ("s_embed_drift" ->
      s"""WITH e AS ($sqlVecs),
         qz AS (SELECT vec_id, label,
             list_transform(v, x -> CAST(floor(x * 127.0 /
               list_aggregate(list_transform(v, y -> abs(y)), 'max'))
               AS DOUBLE)) AS qv
           FROM e),
         h AS (SELECT label,
             CAST((${Determinism.sqlMd5Idx(
               "'dr#' || CAST(vec_id AS VARCHAR)")} % 2) AS INT) AS half, qv
           FROM qz),
         x AS (SELECT label, half, CAST(t.i - 1 AS INT) AS dim,
             CASE WHEN isnan(qv[CAST(t.i AS INT)]) THEN 0
               ELSE CAST(qv[CAST(t.i AS INT)] AS BIGINT) END AS qval
           FROM h, unnest(range(1, len(qv) + 1)) AS t(i)),
         bd AS (SELECT label, dim,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN half = 0 THEN qval ELSE 0 END) AS s0,
             sum(CASE WHEN half = 1 THEN qval ELSE 0 END) AS s1
           FROM x GROUP BY label, dim),
         dm AS (SELECT label, dim, CAST(c0 AS BIGINT) AS c0,
             CAST(c1 AS BIGINT) AS c1,
             abs((1000000 * s1) // c1 - (1000000 * s0) // c0) AS dmicro
           FROM bd),
         tops AS (SELECT label, dim AS top_dim,
             CAST(dmicro AS BIGINT) AS top_drift_micro
           FROM (SELECT label, dim, dmicro,
               row_number() OVER (PARTITION BY label
                 ORDER BY dmicro DESC, dim) AS rn FROM dm)
           WHERE rn = 1)
         SELECT g.label, g.n0, g.n1, g.l1_drift_micro,
           tops.top_dim, tops.top_drift_micro
         FROM (SELECT label, max(c0) AS n0, max(c1) AS n1,
             CAST(sum(dmicro) AS BIGINT) AS l1_drift_micro
           FROM dm GROUP BY label) g
         JOIN tops USING (label) ORDER BY g.label""") +
    ("s_knn_outlier" ->
      s"""WITH $sqlKnnCtes,
         kd AS (SELECT src, count(*) AS n_nbrs,
             CAST(floor(greatest(least(min(cos), 1.0), -1.0) * 1000000.0)
               AS BIGINT) AS kth_cos_micro
           FROM knn GROUP BY src),
         th AS (SELECT round(quantile_cont(kth_cos_micro, 0.05), 4) AS thr
           FROM kd)
         SELECT kd.src AS vec_id, CAST(kd.n_nbrs AS BIGINT) AS n_nbrs,
           kd.kth_cos_micro, kd.kth_cos_micro <= th.thr AS is_outlier
         FROM kd, th ORDER BY vec_id""") +
    ("s_filtered_recall" -> {
      val bff = sqlTopk(
        s"""SELECT qs.vec_id AS q, e.vec_id,
             (${VecOps.sqlDot("qs.v", "e.v")} / (qs.n * e.n)) AS cos
           FROM ($sqlVecs) qs JOIN ($sqlVecs) e ON e.vec_id <> qs.vec_id
           WHERE qs.vec_id < $NQueries AND e.label % 3 = 0""")
      s"""WITH bff AS ($bff),
         ann AS ($sqlFilteredAnn)
         SELECT bff.q, CAST(count(ann.vec_id) AS INT) AS hits,
           (count(ann.vec_id) / ${K}.0) AS recall
         FROM bff LEFT JOIN ann ON ann.q = bff.q AND ann.vec_id = bff.vec_id
         GROUP BY bff.q ORDER BY bff.q"""
    }) +
    ("s_hnsw_search" -> sqlHnswSearch) +
    ("s_hnsw_search_recall" ->
      s"""WITH bf AS (${oracleBase("s_cosine_topk")}),
         ann AS ($sqlHnswSearch)
         SELECT bf.q, CAST(count(ann.vec_id) AS INT) AS hits,
           (count(ann.vec_id) / ${K}.0) AS recall
         FROM bf LEFT JOIN ann ON ann.q = bf.q AND ann.vec_id = bf.vec_id
         GROUP BY bf.q ORDER BY bf.q""") +
    ("s_nn_descent" ->
      s"""WITH $sqlKnnCtes,
         g AS (SELECT src, nbr FROM knn),
         cand AS (SELECT DISTINCT src, cand FROM (
             SELECT src, nbr AS cand FROM g
             UNION ALL
             SELECT a.src, b.nbr AS cand FROM g a JOIN g b ON a.nbr = b.src
             UNION ALL
             SELECT nbr AS src, src AS cand FROM g)
           WHERE src <> cand),
         scored AS (SELECT c.src, c.cand AS nbr,
             (${VecOps.sqlDot("es.v", "ec.v")} / (es.n * ec.n)) AS cos
           FROM cand c JOIN e es ON es.vec_id = c.src
             JOIN e ec ON ec.vec_id = c.cand)
         SELECT src, nbr, cos, rn FROM (
           SELECT src, nbr, cos,
             CAST(row_number() OVER (PARTITION BY src
               ORDER BY cos DESC, nbr) AS INT) AS rn
           FROM scored) WHERE rn <= $KnnK ORDER BY src, rn""") +
    ("s_graph_rank" -> sqlGraphRank) +
    // personalized PageRank: PprIters unrolled sparse stages (restart
    // mass only at the seed; HAVING pr > 0 mirrors the engine's sparse
    // frame) over the knn edge list
    ("s_ppr" -> sqlPpr) +
    // per-token retrieval + MaxSim rerank: token table via list slices,
    // md5-rank token centroids, per-token assignment/probes by raw dot,
    // candidate union, full MaxSim rerank
    ("s_maxsim_tok" -> sqlMaxSimTok) +
    // per-token retrieval recall vs the same multi-vector truth
    ("s_maxsim_tok_recall" -> sqlMaxSimRecall(sqlMaxSimTok)) +
    // token-index upsert: merged standing∪delta == the one-shot
    // old-drawn recompute (this SQL), held to the same recall bar
    ("s_tok_upsert" -> sqlTokUpsert) +
    ("s_tok_upsert_recall" -> sqlMaxSimRecall(sqlTokUpsert)) +
    // MaxSim recall vs the brute-force MULTI-VECTOR ground truth (the
    // cosine bf is the wrong truth for a MaxSim ranking)
    ("s_maxsim_recall" -> sqlMaxSimRecall(oracleBase("s_maxsim"))) +
    ("s_ann_recall" -> sqlRecall("s_lsh_ann")) +
    ("s_ivf_recall" -> sqlRecall("s_ivf_ann")) +
    // graded order-aware eval: grade K+1−exact_rank, fixed ppm
    // discounts, closed-form ideal — both tables shared with the Spark
    // side as literals
    ("s_ndcg" -> sqlNdcg) +
    ("s_recall_curve" ->
      s"""WITH bf AS (${oracleBase("s_cosine_topk")}),
         ann AS (${sqlIvf(refine = false)}),
         j AS (SELECT bf.rn AS brn, ann.rn AS arn
           FROM bf LEFT JOIN ann
             ON ann.q = bf.q AND ann.vec_id = bf.vec_id),
         ks AS (SELECT unnest([1, 3, 5]) AS k)
         SELECT CAST(k AS INT) AS k,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN arn IS NOT NULL AND arn <= k
             THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           CAST((1000000 * sum(CASE WHEN arn IS NOT NULL AND arn <= k
             THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS recall_ppm
         FROM j, ks WHERE brn <= k GROUP BY k ORDER BY k""") +
    ("s_ivf_kmeans_recall" -> sqlRecall("s_ivf_kmeans")) +
    ("s_pq_recall" -> sqlRecall("s_pq_ann")) +
    // reconstruction error vs the SAME refined codebook CTEs; per-row
    // micro floors before the sums, mirroring the engine exactly
    ("s_pq_distortion" ->
      s"""WITH e AS ($sqlVecs),
         $sqlPqCtes,
         dist AS (SELECT ex.m,
             CAST(floor((${sqlSubL2("ex.xsub", "cb.csub")}) * 1000000.0)
               AS BIGINT) AS d2
           FROM ex JOIN codes ON ex.vec_id = codes.vec_id AND ex.m = codes.m
           JOIN cb ON cb.m = codes.m AND cb.code = codes.code)
         SELECT CAST(m AS INT) AS m, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(d2) AS BIGINT) AS sum_d2_micro,
           CAST(sum(d2) // count(*) AS BIGINT) AS mean_d2_micro
         FROM dist GROUP BY m ORDER BY m""") +
    ("s_ivfpq_recall" -> sqlRecall("s_ivfpq_ann")) +
    ("s_bq_recall" -> sqlRecall("s_bq_topk")) +
    ("s_ivf_bq_recall" -> sqlRecall("s_ivf_bq")) +
    ("s_ivf_mrl_recall" -> sqlRecall("s_ivf_mrl")) +
    ("s_mrl_recall" -> sqlRecall("s_mrl_topk")) +
    ("s_ivf_upsert_recall" -> sqlRecall("s_ivf_upsert")) +
    ("s_graph_upsert" -> sqlGraphUpsert) +
    ("s_graph_upsert_recall" ->
      s"""WITH bf AS (${oracleBase("s_cosine_topk")}),
         ann AS ($sqlGraphUpsert)
         SELECT bf.q, CAST(count(ann.vec_id) AS INT) AS hits,
           (count(ann.vec_id) / ${K}.0) AS recall
         FROM bf LEFT JOIN ann ON ann.q = bf.q AND ann.vec_id = bf.vec_id
         GROUP BY bf.q ORDER BY bf.q""") +
    ("s_probe_sweep" ->
      s"""WITH e AS ($sqlVecs),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${sqlK("e")}),
         assigned AS (
           SELECT vec_id, v, n, cid FROM (
             SELECT e.vec_id, e.v, e.n, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS arn
             FROM e, c0) WHERE arn = 1),
         pr AS (SELECT q, qv, qn, cid, prn FROM (
             SELECT e.vec_id AS q, e.v AS qv, e.n AS qn, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS prn
             FROM e, c0 WHERE e.vec_id < $NQueries) WHERE prn <= 4),
         cand AS (SELECT pr.q, pr.prn, a.vec_id,
             (${VecOps.sqlDot("pr.qv", "a.v")} / (pr.qn * a.n)) AS cos
           FROM pr JOIN assigned a USING (cid) WHERE a.vec_id <> pr.q),
         sw AS (SELECT CAST(p AS INT) AS nprobe, q, vec_id, cos
           FROM cand, unnest(range(prn, 5)) AS t(p)),
         ann AS (SELECT nprobe, q, vec_id FROM (
             SELECT nprobe, q, vec_id, row_number() OVER (
               PARTITION BY nprobe, q ORDER BY cos DESC, vec_id) AS rn
             FROM sw) WHERE rn <= $K),
         bf AS (${oracleBase("s_cosine_topk")}),
         bfp AS (SELECT CAST(p AS INT) AS nprobe, q, vec_id
           FROM bf, unnest(range(1, 5)) AS t(p))
         SELECT bfp.nprobe, bfp.q, CAST(count(ann.vec_id) AS INT) AS hits,
           (count(ann.vec_id) / ${K}.0) AS recall
         FROM bfp LEFT JOIN ann ON ann.nprobe = bfp.nprobe
           AND ann.q = bfp.q AND ann.vec_id = bfp.vec_id
         GROUP BY bfp.nprobe, bfp.q ORDER BY bfp.nprobe, bfp.q""") +
    ("s_hybrid_rrf" ->
      s"""WITH dw AS (SELECT DISTINCT id, w FROM (
             SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w
             FROM documents) WHERE length(w) > 0),
         ov AS (SELECT qw.id AS q, dw.id, count(*) AS ov
           FROM dw qw JOIN dw ON dw.w = qw.w AND dw.id <> qw.id
           WHERE qw.id < $NQueries GROUP BY qw.id, dw.id),
         lex AS (SELECT q, id, lex_rn FROM (
             SELECT q, id, CAST(row_number() OVER (
               PARTITION BY q ORDER BY ov DESC, id) AS INT) AS lex_rn
             FROM ov) WHERE lex_rn <= $K),
         vec AS (SELECT q, vec_id AS id, rn AS vec_rn
           FROM (${oracleBase("s_cosine_topk")})),
         f AS (SELECT coalesce(lex.q, vec.q) AS q, coalesce(lex.id, vec.id) AS id,
             (coalesce(1000000000 // (60 + lex_rn), 0)
               + coalesce(1000000000 // (60 + vec_rn), 0)) AS rrf
           FROM lex FULL JOIN vec ON vec.q = lex.q AND vec.id = lex.id)
         SELECT q, CAST(rank AS INT) AS rank, id, CAST(rrf AS BIGINT) AS rrf
         FROM (SELECT q, id, rrf, row_number() OVER (
             PARTITION BY q ORDER BY rrf DESC, id) AS rank FROM f)
         WHERE rank <= $K ORDER BY q, rank""") +
    ("s_bm25" ->
      s"""WITH words AS (SELECT id, w FROM (
             SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w
             FROM documents) WHERE length(w) > 0),
         tf AS (SELECT id, w, count(*) AS tf FROM words GROUP BY id, w),
         dl AS (SELECT id, count(*) AS dl FROM words GROUP BY id),
         df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         stats AS (SELECT count(*) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         q AS (SELECT DISTINCT id AS q, w FROM words WHERE id < $NQueries),
         contrib AS (SELECT q.q, tf.id,
             CAST(floor((((s.n - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl))))
               * 1000000.0) AS BIGINT) AS c
           FROM q JOIN tf USING (w) JOIN df USING (w)
           JOIN dl ON dl.id = tf.id, stats s
           WHERE tf.id <> q.q),
         scored AS (SELECT q, id, CAST(sum(c) AS BIGINT) AS score_u
           FROM contrib GROUP BY q, id)
         SELECT q, CAST(rank AS INT) AS rank, id, score_u,
           score_u / 1000000.0 AS bm25
         FROM (SELECT q, id, score_u, row_number() OVER (
             PARTITION BY q ORDER BY score_u DESC, id) AS rank FROM scored)
         WHERE rank <= $K ORDER BY q, rank""") +
    ("s_phrase" ->
      s"""WITH arrs AS (SELECT doc_id, string_split(text, ' ') AS arr
           FROM documents),
         posts AS (SELECT doc_id AS id, t.i AS pos,
             arr[CAST(t.i + 1 AS INT)] AS w
           FROM arrs, unnest(range(0, len(arr))) AS t(i)),
         qp AS (SELECT doc_id AS q, t.j AS j,
             arr[CAST(t.j + 1 AS INT)] AS w
           FROM arrs, unnest(range(0, $PhraseLen)) AS t(j)
           WHERE doc_id < $NQueries),
         anchored AS (SELECT qp.q, p.id, p.pos - qp.j AS anchor, qp.j
           FROM qp JOIN posts p USING (w)),
         occ AS (SELECT q, id, anchor FROM anchored
           GROUP BY q, id, anchor HAVING count(DISTINCT j) = $PhraseLen)
         SELECT q, id, CAST(count(*) AS INT) AS n_hits,
           CAST(min(anchor) AS INT) AS first_pos
         FROM occ GROUP BY q, id ORDER BY q, id""")
}
