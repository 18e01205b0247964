package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Determinism, VecOps}
import graft.operators.ConnectedComponents

/** Pack D — deduplication over `documents` / `embeddings`, the dedup
  * stage of a training-data pipeline.
  *
  * 100 TB posture: every method here is blocked/banded — candidate pairs
  * are generated ONLY inside small buckets (normalized-hash groups, LSH
  * bands, simhash chunks, label blocks), never via an all-pairs cross
  * join. The quadratic term is bounded by bucket size; shuffles are on
  * bucket keys.
  *
  * Where the live corpus has no duplicates to find (it's synthetic), a
  * query builds a twin corpus (`doc_id + 100000` with a benign
  * perturbation) so the operator provably finds known dups; the oracle
  * constructs the identical corpus.
  */
object Dedup {

  /** Bottom-k sketch size for d_source_overlap (k-minimum-values). */
  private[graft] val OverlapK = 64

  /** (doc_id, source, h): each document's distinct 48-bit shingle
    * hashes (off the memoized shingle relation) tagged with its source
    * — the raw stream the KMV corpus-overlap sketches compress. */
  private def sourceHashes(s: SparkSession, dir: String): DataFrame =
    shingleSets(s, dir).select(col("doc_id"), explode(col("sh")).as("h"))
      .join(docs(s, dir).select("doc_id", "source"), "doc_id")
      .select("doc_id", "source", "h")

  /** Per-source bottom-OverlapK distinct hashes (the KMV sketch).
    * `salted = true` runs the TWO-phase bottom-k (partial inside
    * (source, salt-of-hash) groups, final over ≤ 16·K survivors) so a
    * source with billions of shingles never sorts one reducer
    * partition; the merge path (standing sketch ∪ delta — already
    * ≤ K + |delta| rows per source) skips the extra exchange. The salt
    * phase keeps every hash that could make the final bottom-k (each
    * salt group's own bottom-k is a superset of its contribution), so
    * both paths produce the identical sketch. */
  private[graft] def kmvBottomK(rows: DataFrame, salted: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val distinctH = rows.select("source", "h").distinct()
    val wFin = Window.partitionBy("source").orderBy("h")
    val base = if (salted) {
      val wSalt = Window.partitionBy("source", "salt").orderBy("h")
      distinctH.withColumn("salt", pmod(col("h"), lit(16)))
        .withColumn("prn", row_number().over(wSalt))
        .filter(col("prn") <= OverlapK)
    } else distinctH
    base.withColumn("rn", row_number().over(wFin))
      .filter(col("rn") <= OverlapK)
      .select("source", "h")
  }

  /** Memoized full-corpus KMV sketch — the union memo below reads it,
    * so the shingle explode + two-phase bottom-k run once per (session,
    * corpus); released with "d". Eagerly localCheckpoint'ed, NOT merely
    * persisted: the S·K-row sketch's lineage is the corpus-scale
    * explode + distinct, and a persisted-only relation re-RUNS that
    * lineage whenever the block store drops a partition under pressure
    * (the r12 driver artifact's d_containment signature: 17x budgeted
    * cpu at flat job counts with the memo live). The checkpoint
    * truncates lineage, so a memory-evicted partition re-reads local
    * disk — recompute is structurally impossible. */
  private def fullSketch(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "d", "kmv_sketch", dir) {
      graft.CacheBook.keep(s, "d")(
        kmvBottomK(sourceHashes(s, dir), salted = true).localCheckpoint(true))
    }

  /** Memoized union-bottom-K membership rows over the FULL-corpus
    * sketch — the ≤ S²/2·K-row relation BOTH probe entries
    * (d_source_overlap, d_containment) aggregate, built once per
    * (session, corpus) instead of once per entry (the r12 ADVICE
    * item: each probe re-ran the pair-window build behind the sketch
    * memo). localCheckpoint'ed like [[fullSketch]], same rationale. */
  private def kmvUnionMemo(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "d", "kmv_union", dir) {
      graft.CacheBook.keep(s, "d")(kmvUnionTopK(fullSketch(s, dir)).localCheckpoint(true))
    }

  /** Per-pair union-bottom-K membership rows over a KMV sketch
    * relation: for each source pair, merge the two sketches, keep the
    * union's bottom-K, tag each hash with which side(s) hold it.
    * Touches only S·K sketch rows — index metadata, not corpus data.
    * Pure builder — callers memoize/checkpoint the result; the input
    * sketch must already be materialized (it feeds three consumers:
    * source list + both join sides). */
  private def kmvUnionTopK(sketch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val srcs = sketch.select("source").distinct()
    // S bounded (distinct sources — dimension-sized); broadcasting the
    // right side plans a BroadcastNestedLoopJoin on the < predicate
    // instead of a CartesianProduct exchange
    val pairs = srcs.select(col("source").as("src_a"))
      .join(broadcast(srcs.select(col("source").as("src_b"))),
        col("src_a") < col("src_b"))
    val ua = pairs.join(sketch.withColumnRenamed("source", "src_a"), "src_a")
      .select(col("src_a"), col("src_b"), col("h"),
        lit(1).as("ina"), lit(0).as("inb"))
    val ub = pairs.join(sketch.withColumnRenamed("source", "src_b"), "src_b")
      .select(col("src_a"), col("src_b"), col("h"),
        lit(0).as("ina"), lit(1).as("inb"))
    val wu = Window.partitionBy("src_a", "src_b").orderBy("h")
    ua.unionByName(ub)
      .groupBy("src_a", "src_b", "h")
      .agg(max("ina").as("ina"), max("inb").as("inb"))
      .withColumn("urn", row_number().over(wu))
      .filter(col("urn") <= OverlapK)
  }

  /** Pairwise Jaccard estimates off a union-bottom-K membership
    * relation: estimate = fraction present in both sides. */
  private def kmvPairs(union: DataFrame): DataFrame =
    union
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("kk"),
        sum(col("ina") * col("inb")).cast("long").as("hits"))
      .select(col("src_a"), col("src_b"), col("kk"), col("hits"),
        expr("hits * 1000000 div kk").as("est_jaccard_micro"))
      .orderBy("src_a", "src_b")

  /** The STANDING per-source sketch as a persisted artifact — last
    * night's [[graft.sources.SketchStore]] write over the pre-batch
    * corpus (doc_id < tNew), built once per (session, corpus) and READ
    * back by d_overlap_inc, so the incremental entry actually exercises
    * the store path its docs describe (the r12 ADVICE item) and its
    * per-call cost is the delta explode + an S·K-row parquet scan —
    * never a re-scan of yesterday's text. Released with "d" (deletes
    * the temp store). */
  private def standingSketchPath(s: SparkSession, dir: String): String =
    graft.CacheBook.memo(s, "d", "kmv_store", dir, onRelease = (path: String) => {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }) {
      val tNew = newDocThreshold(s, dir)
      val standing = kmvBottomK(
        sourceHashes(s, dir).filter(col("doc_id") < tNew), salted = true)
      val path = java.nio.file.Files.createTempDirectory("graft-kmv-store").toString
      graft.sources.SketchStore.write(path, standing)
      path
    }

  /** Memoized d_overlap_inc result — the nightly merge runs once per
    * (session, corpus): standing sketch FROM THE STORE ∪ tonight's
    * delta hashes (new docs only — the explode is delta-bounded, never
    * the full corpus), bottom-k'ed without the salt phase (the input is
    * already ≤ S·K + |delta| rows per source), then the pair estimates.
    * Memoizing the whole result also stops repeated calls from
    * accumulating per-call persists (each former call registered its
    * own anonymous release — the r12 ADVICE leak). */
  private def overlapIncMemo(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "d", "overlap_inc", dir) {
      val tNew = newDocThreshold(s, dir)
      val standing = graft.sources.SketchStore.read(s, standingSketchPath(s, dir))
      val delta = sourceHashes(s, dir).filter(col("doc_id") >= tNew)
        .select("source", "h")
      val merged = graft.CacheBook.keep(s, "d")(
        kmvBottomK(standing.unionByName(delta), salted = false)
          .localCheckpoint(true)) // feeds three consumers (source list + both join sides)
      graft.CacheBook.keep(s, "d")(kmvPairs(kmvUnionTopK(merged)).localCheckpoint(true))
    }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  private def wordsOf(c: Column): Column = split(c, " ")

  // WordWindows builds the 3-gram windows in one codegen loop per row;
  // the transform/slice lambda it replaces evaluated interpreted and
  // re-ran the inlined split per window element (the x_chunk bug class).
  private def shingles3(words: Column): Column =
    array_distinct(org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.WordWindows(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(words),
        3, 1, coverAll = false)))
  private[queries] def sqlShingles3(w: String): String =
    s"""list_distinct(list_transform(range(0, greatest(len($w) - 3, 0) + 1),
        i -> array_to_string($w[CAST(i+1 AS INT):CAST(i+3 AS INT)], ' ')))"""

  /** Distinct doc shingle sets keyed by (lang, length-bucket) block.
    * The length bucket bounds block population: near-dups have nearly
    * equal length, so blocking on coarse length keeps ~all true pairs
    * (measured 77/79 at sf0.1) while cutting candidate pairs ~5x.
    * Shingles are hashed to 48-bit longs up front: the per-pair set
    * intersections then compare longs, not strings — the pairwise
    * verify is the quadratic hot loop, so this is where the time goes. */
  /** Memoized per (session, corpus): three queries (ngram/minhash/
    * cluster) consume the same shingle relation — in one session the
    * 1.5M-md5 build runs once, not three times. Materialized EAGERLY:
    * every consumer is a self-join, and a lazy persist lets the join
    * branches race and compute the build twice before either populates
    * the cache. All build-side dedup memos live in scope "d"
    * (released after the d_* family); the final label table lives in
    * scope "x" (x_canon, the alphabetically-late consumer, still needs
    * it). */
  private def shingleSets(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "d", "shingles", dir) {
      // One custom codegen Expression builds the sorted distinct hash
      // array per doc (ShingleHashSet; spec-verified identical to the
      // transform+md5IdxK Column formula). No shuffle — scales with the
      // scan. An explode → codegen-md5 → groupBy/collect_list rewrite
      // measured SLOWER (reassembly shuffle + re-sort), and the Column
      // formula evaluates its lambda interpreted per shingle.
      // spread the raw rows first (single-row-group scans arrive as one
      // task and the per-shingle md5 work rides on the scan), then
      // narrow the PERSISTED relation back down: every downstream
      // consumer launches a stage per cached partition, and at gate
      // scale the relation is small enough that fewer, fuller
      // partitions beat wide ones (A/B-measured; the wide persist cost
      // minhash/cluster consumers more than the parallel build saved)
      val width = s.sparkContext.defaultParallelism
      val sh = docs(s, dir).repartition(width)
        .select(col("doc_id"), col("lang"),
          expr("n_chars div 100").as("lb"),
          org.apache.spark.sql.graftbridge.ColumnBridge.column(
            graft.functions.ShingleHashSet(
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(
                wordsOf(col("text"))), 3, 12)).as("sh"))
        .repartition(math.max(width / 4, 1))
        // EAGER localCheckpoint, not persist (round 14): the persisted
        // relation kept its full logical plan, and every consumer
        // re-planned + re-codegen'd the build subtree (the ANN-memo
        // Janino finding) — the checkpoint truncates it to a LogicalRDD
        .localCheckpoint(true)
      graft.CacheBook.keep(s, "d")(sh)
    }

  /** Cap on (lang, length-bucket) block population for the pairwise
    * Jaccard verify (GRAFT_JACCARD_BLOCK_CAP). */
  private val BlockCap = sys.env.getOrElse("GRAFT_JACCARD_BLOCK_CAP", "2000").toLong

  /** Bound block population: a block larger than `cap` is split into
    * ceil(n/cap) sub-blocks on doc_id, so the pairwise join's quadratic
    * term is bounded by cap REGARDLESS of corpus size — without this,
    * block population grows linearly with the corpus and within-block
    * pairs quadratically (the r03 scale defect). A true near-dup pair in
    * an oversized block lands in the same sub-block only ~1/nsub of the
    * time; at that population the block key has stopped discriminating
    * and candidates should come from MinHash banding instead
    * (d_dedup_eval quantifies exactly that trade). At the gate scales
    * every block sits far below the default cap (nsub=1 everywhere), so
    * results — and the DuckDB oracles — are unchanged. */
  def boundedBlocks(sh: DataFrame, cap: Long): DataFrame = {
    val sizes = broadcast(sh.groupBy("lang", "lb").agg(count(lit(1)).as("bn")))
    // hash the id before the modulus: raw doc_id % nsub would break the
    // population bound whenever ids correlate with the modulus (e.g.
    // sharded ingest assigning even ids to one source)
    sh.join(sizes, Seq("lang", "lb"))
      .withColumn("sub",
        pmod(hash(col("doc_id")), expr(s"(bn + ${cap - 1}) div $cap")))
      .drop("bn")
  }

  /** Memoized Jaccard>=0.2 near-dup pairs within (lang, length, sub)
    * blocks — shared verbatim by d_ngram_jaccard (reports them) and
    * d_cluster (uses them as edges). Post-threshold the relation is
    * tiny, so it persists whole. */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "d", "jaccard", dir) {
      import s.implicits._
      val sh = boundedBlocks(shingleSets(s, dir), BlockCap)
      // Collect each (lang, lb, sub) block to ONE row and run the
      // quadratic verify as a local two-pointer loop per block. A
      // self-join verify materializes BOTH shingle arrays into every
      // candidate pair row (~KBs of UnsafeRow copy per pair — measured
      // 3x the merge cost itself at sf0.1); here each block
      // deserializes once and the inner loop touches primitive arrays
      // only. Parallelism is by block (plentiful at scale; population
      // bounded by GRAFT_JACCARD_BLOCK_CAP, so a block row stays a few
      // MB) and the output is only the passing pairs.
      val blocks = sh.groupBy("lang", "lb", "sub")
        .agg(collect_list(struct(col("doc_id"), col("sh"))).as("ds"))
      val pairs = blocks.select(col("ds")).flatMap { row =>
        val ds = row.getSeq[org.apache.spark.sql.Row](0)
        val n = ds.length
        val ids = new Array[Long](n)
        val shs = new Array[Array[Long]](n)
        var i = 0
        while (i < n) { ids(i) = ds(i).getLong(0); shs(i) = ds(i).getSeq[Long](1).toArray; i += 1 }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val sa = shs(i).length; val sb = shs(j).length
            // size-ratio prefilter IMPLIED by jac>=0.2 (jac <= min/max)
            if (math.min(sa, sb) * 5 >= math.max(sa, sb)) {
              // jac >= 0.2 needs inter >= (sa+sb)/6; abandon the merge
              // as soon as the remaining elements can't reach that
              val need = (sa + sb + 5) / 6
              var p = 0; var q = 0; var inter = 0
              while (p < sa && q < sb
                  && inter + math.min(sa - p, sb - q) >= need) {
                val c = java.lang.Long.compare(shs(i)(p), shs(j)(q))
                if (c == 0) { inter += 1; p += 1; q += 1 }
                else if (c < 0) p += 1 else q += 1
              }
              // same double division both engines apply to int inputs
              val jac = inter.toDouble / (sa + sb - inter)
              if (jac >= 0.2) {
                val a = math.min(ids(i), ids(j)); val b = math.max(ids(i), ids(j))
                out += ((a, b, jac))
              }
            }
            j += 1
          }
          i += 1
        }
        out
      }.toDF("a", "b", "jac")
        // eager checkpoint: d_dedup_eval unions three aggregates that
        // each reference this relation (racing branches would compute
        // the pairwise join several times), and the truncated plan
        // spares every consumer the build subtree's codegen
        .localCheckpoint(true)
      graft.CacheBook.keep(s, "d")(pairs)
    }

  /** Memoized MinHash-LSH near-dup pairs (banding → candidate equi-join
    * → exact-Jaccard verify) — shared by d_minhash_lsh (reports them)
    * and d_dedup_eval (compares them against the blocked pass), so the
    * signature aggregation runs once per (session, corpus). */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "d", "minhash", dir) {
      graft.CacheBook.keep(s, "d")(lshPairs(shingleSets(s, dir), minJac = 0.2)
        // eager checkpoint: consumers fan out into racing union
        // branches, and the truncated plan spares them the codegen
        .localCheckpoint(true))
    }

  /** MinHash-LSH near-dup pairs over any (doc_id, sh) frame where `sh`
    * is a SORTED distinct shingle-hash array (ShingleHashSet output):
    * 8 universal-hash signatures → 4x2 banding → candidate equi-join →
    * exact-Jaccard verify at `minJac`. Shared by the gate queries
    * (via the memoized corpus relation) and CuratePipeline's near-dedup
    * stage, so there is exactly one LSH implementation to audit. */
  def lshPairs(sh: DataFrame, minJac: Double): DataFrame = {
    val bands = bandsMemo(sh)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bi") === col("y.bi") && col("x.bk") === col("y.bk")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    verifyPairs(sh, cand, minJac)
  }

  /** INCREMENTAL LSH near-dedup — the nightly-ingest path: only the NEW
    * batch (doc_id >= tNew) probes the band table, so candidates are
    * exactly the pairs touching a new doc (new-old and new-new);
    * standing old-old pairs are never regenerated or re-verified. The
    * result set provably equals the from-scratch [[lshPairs]] filtered
    * to pairs with a new endpoint (equivalence ScalaTest). At 100 TB
    * this is the difference between re-banding the corpus and banding
    * the delta: the old band table is a standing, bucketed relation the
    * batch equi-joins into. */
  def lshPairsIncremental(sh: DataFrame, minJac: Double, tNew: Long): DataFrame = {
    val bands = bandsMemo(sh)
    val probe = bands.filter(col("doc_id") >= tNew)
    val cand = probe.as("x").join(bands.as("y"),
        col("x.bi") === col("y.bi") && col("x.bk") === col("y.bk")
          && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b")).distinct()
    verifyPairs(sh, cand, minJac)
  }

  /** Memoized band table per (session, shingle-relation identity):
    * the signature aggregation (explode → 8-way min) is the expensive
    * half of the LSH build, and THREE consumers walk it — lshPairs
    * (self-join: both sides), lshPairsIncremental (probe + standing
    * sides), and the d_* family runs several of them per session.
    * Keyed on the shingle frame's PLAN IDENTITY and semantic hash
    * together — the memoized shingleSets relation is one object per
    * (session, corpus), so identity alone discriminates the gate
    * consumers, and requiring both to collide makes a silent
    * wrong-table reuse (the failure mode of a bare int hash)
    * practically impossible. Released with the "d" family scope. */
  private def bandsMemo(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    // the access/release name carries the full key: several band tables
    // can be live at once (d_dedup_eval's variants), and a clean retry
    // must drop only the one the retried query read
    val name = s"bands:${System.identityHashCode(sh.queryExecution.logical)}:" +
      sh.semanticHash()
    graft.CacheBook.memo(s, "d", name, ()) {
      // EAGER localCheckpoint, not persist (round 14): the persisted
      // band table kept its full build plan (sig agg + band explode),
      // and every consumer — the LSH self-joins reference it on BOTH
      // sides — re-planned and re-codegen'd that subtree per first
      // touch (measured: d_edit_dup first-touch 10.2 cpu-s at 0.9
      // cpu-s of actual execution). The checkpoint truncates it to a
      // LogicalRDD leaf; the build plan stays auditable via
      // CacheBook.recordBuildPlan.
      graft.CacheBook.keep(s, "d")(graft.CacheBook.recordBuildPlan(s, "d", name)(
        bandsOf(sh)).localCheckpoint(true))
    }
  }

  /** 8 minhash signatures → 4 bands x 2 rows per doc. The 4 band rows
    * come off ONE pass over the signature aggregate (explode of a
    * 4-struct array) — a 4-way union of selects would re-walk the
    * aggregation per branch unless exchange reuse happens to fire. */
  private def bandsOf(sh: DataFrame): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    def hj(j: Int): Column =
      (lit(MinhashA(j)) * (col("s") % MinhashP) + MinhashB(j)) % MinhashP
    val sig = ex.groupBy("doc_id").agg(
      min(hj(0)).as("m0"),
      (1 until 8).map(j => min(hj(j)).as(s"m$j")): _*)
    val bandArr = array((0 until 4).map { bi =>
      struct(lit(bi).as("bi"),
        concat_ws(":", col(s"m${2 * bi}"), col(s"m${2 * bi + 1}")).as("bk"))
    }: _*)
    sig.select(col("doc_id"), explode(bandArr).as("band"))
      .select(col("doc_id"), col("band.bi").as("bi"), col("band.bk").as("bk"))
  }

  /** Exact-Jaccard verify of candidate (a, b) pairs against the shingle
    * relation. */
  private def verifyPairs(sh: DataFrame, cand: DataFrame, minJac: Double): DataFrame = {
    val sa = sh.select(col("doc_id").as("a"), col("sh").as("sha"))
    val sb = sh.select(col("doc_id").as("b"), col("sh").as("shb"))
    jaccardVerified(cand.join(sa, "a").join(sb, "b"),
      col("sha"), col("shb"), minJac)
  }

  /** Fuzzy decontamination against an EXTERNAL benchmark corpus: the
    * pool doc_ids whose shingle-Jaccard to ANY benchmark doc reaches
    * `minJac` — the drop list a training run subtracts. The benchmark
    * band table BROADCASTS (eval sets are small by nature — |bench| x 4
    * rows whatever the pool size), pool candidates come from band
    * collisions, the verify is exact Jaccard. This is the
    * d_decontaminate shape with the benchmark as its own corpus
    * (the gate query keeps the intra-corpus first-50-docs convention
    * so it can share the memoized family band table). */
  def contaminatedIds(poolSh: DataFrame, benchSh: DataFrame,
      minJac: Double): DataFrame = {
    val pb = bandsOf(poolSh)
    val bb = broadcast(bandsOf(benchSh)
      .select(col("doc_id").as("b"), col("bi"), col("bk")))
    val cand = pb.join(bb, Seq("bi", "bk"))
      .select(col("doc_id").as("a"), col("b")).distinct()
    val sa = poolSh.select(col("doc_id").as("a"), col("sh").as("sha"))
    val sb = benchSh.select(col("doc_id").as("b"), col("sh").as("shb"))
    jaccardVerified(cand.join(sa, "a").join(sb, "b"),
      col("sha"), col("shb"), minJac)
      .select(col("a").as("doc_id")).distinct()
  }

  /** The verify column chain itself — staged (inter, |A|, |B|)
    * projection (the intersect computes ONCE per pair), threshold
    * filter, then (a, b, jac). Shared by the batch [[verifyPairs]] and
    * the streaming ingest probe (st_ingest_dedup), so there is exactly
    * one Jaccard formula to hold to the oracles. */
  private[graft] def jaccardVerified(joined: DataFrame, shA: Column,
      shB: Column, minJac: Double): DataFrame =
    joined
      .select(col("a"), col("b"), sortedInter(shA, shB).as("inter"),
        size(shA).as("sa"), size(shB).as("sb"))
      .filter(col("inter") / (col("sa") + col("sb") - col("inter")) >= minJac)
      .select(col("a"), col("b"),
        (col("inter") / (col("sa") + col("sb") - col("inter"))).as("jac"))

  /** The gate's "new batch" boundary: the last 20% of doc ids play the
    * nightly delta. One scalar action, memoized — three incremental
    * queries share it. */
  private def newDocThreshold(s: SparkSession, dir: String): Long =
    graft.CacheBook.memo(s, "d", "tnew", dir) {
      docs(s, dir).agg(max("doc_id")).head().getLong(0) * 4 / 5
    }

  /** Memoized STANDING labels over the old corpus's LSH pairs — the
    * in-session analog of the persisted nightly labeling
    * ([[graft.sources.LshIndexStore.writeLabels]]): at a deployment the
    * incremental job READS last night's labels, it never recomputes
    * them, so their construction is a build artifact (priced in
    * d_build), not incremental-query latency. */
  private def standingLabels(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "d", "standing_labels", dir) {
      val t = newDocThreshold(s, dir)
      // a < b on every pair, so "both endpoints old" is just b < t
      graft.CacheBook.keep(s, "d")(ConnectedComponents.run(
        minhashPairs(s, dir).filter(col("b") < t).select("a", "b"))
        .localCheckpoint(true))
    }

  /** Memoized exact-dup pairs over the twin corpus (normalize → hash →
    * window-min canonical) — shared by d_exact (reports them) and
    * d_cluster (uses them as edges). */
  private def exactPairs(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "d", "exact_pairs", dir) {
      val d = docs(s, dir)
      val corpus = d.select(col("doc_id"), col("text"))
        .unionByName(d.select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" ")).as("text")))
      val hashed = corpus.select(col("doc_id"),
        md5(trim(lower(regexp_replace(col("text"), "\\s+", " "))).cast("binary")).as("h"))
      // canonical-per-group via a window: ONE shuffle on the hash, no
      // groupBy + self-join (which scans and md5s the corpus twice)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
      graft.CacheBook.keep(s, "d")(
        hashed.withColumn("dup_of", min("doc_id").over(w))
          .filter(col("doc_id") =!= col("dup_of"))
          .select("doc_id", "dup_of")
          .localCheckpoint(true))
    }

  private val sqlShingleSets =
    s"""SELECT doc_id, lang, n_chars // 100 AS lb,
        list_distinct(list_transform(${sqlShingles3("string_split(text, ' ')")},
          x -> ${Determinism.sqlMd5IdxK("x", 12)})) AS sh
        FROM documents"""

  /** The blocked exact-Jaccard pair CTE chain (sh → pairs → j with
    * the ≥0.2 threshold applied) — the ONE SQL copy of the pair
    * relation both d_ngram_jaccard and d_jaccard_bands read, so the
    * band curve can never tune a different relation than the pair
    * query reports (the conservation JaccardPairsSpec pins). */
  private def sqlJacCtes: String =
    s"""sh AS ($sqlShingleSets),
       pairs AS (
         SELECT a.doc_id AS a, b.doc_id AS b,
           len(list_intersect(a.sh, b.sh)) AS inter,
           len(a.sh) AS sa, len(b.sh) AS sb
         FROM sh a JOIN sh b
         ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id),
       j AS (SELECT a, b, (inter / (sa + sb - inter)) AS jac FROM pairs
         WHERE (inter / (sa + sb - inter)) >= 0.2)"""

  /** Parameterized banding CTE fragments over an arbitrary (doc_id, sh)
    * relation `src`: emits `<p>ex`, `<p>sig`, `<p>bands` definitions
    * (comma-separated, no trailing comma) with the SAME universal-hash
    * family literals as the engine — shared by the d_* oracles (via
    * [[sqlCandCtes]]) and pipeline_curate's composed oracle, so there
    * is exactly one SQL copy of the banding recipe. */
  private[queries] def sqlBandCtesOver(src: String, p: String): String = {
    val mins = (0 until 8).map(j =>
      s"CAST(min((${MinhashA(j)} * (s % $MinhashP) + ${MinhashB(j)}) % $MinhashP) AS BIGINT) AS m$j").mkString(", ")
    val bandSelects = (0 until 4).map(bi =>
      s"""SELECT doc_id, $bi AS bi,
          (CAST(m${2 * bi} AS VARCHAR) || ':' || CAST(m${2 * bi + 1} AS VARCHAR)) AS bk
          FROM ${p}sig""").mkString(" UNION ALL ")
    s"""${p}ex AS (SELECT doc_id, unnest(sh) AS s FROM $src),
       ${p}sig AS (SELECT doc_id, $mins FROM ${p}ex GROUP BY doc_id),
       ${p}bands AS ($bandSelects)"""
  }

  /** SQL mirror of [[shingleHashCol]] over a word-array expression —
    * the distinct hashed 3-shingle set. */
  private[queries] def sqlShingleSetOf(w: String): String =
    s"""list_distinct(list_transform(${sqlShingles3(w)},
        x -> ${Determinism.sqlMd5IdxK("x", 12)}))"""

  /** SQL mirror of the exact-Jaccard verify formula. */
  private[queries] def sqlJaccardOf(a: String, b: String): String =
    sqlJaccard(a, b)

  /** The banding → candidate-equi-join CTE chain (sh, ex, sig, bands,
    * cand) — shared by the MinHash oracles and the edit-distance
    * verify oracle, which diverge only in the verify stage. */
  private def sqlCandCtes: String =
    s"""sh AS ($sqlShingleSets),
       ${sqlBandCtesOver("sh", "")},
       cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         FROM bands x JOIN bands y
         ON x.bi = y.bi AND x.bk = y.bk AND x.doc_id < y.doc_id)"""

  /** Full MinHash-LSH oracle pipeline with an optional extra predicate
    * over the verified (a, b) pairs — shared by d_minhash_lsh (no
    * filter), d_incremental (new-endpoint filter) and st_ingest_dedup
    * (old-a / new-b filter). */
  private[queries] def sqlMinhash(extraWhere: String): String =
    s"""WITH $sqlCandCtes
       SELECT a, b, ${sqlJaccard("sa.sh", "sb.sh")} AS jac
       FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b
       WHERE ${sqlJaccard("sa.sh", "sb.sh")} >= 0.2$extraWhere ORDER BY a, b"""

  private def sqlJaccard(a: String, b: String): String =
    s"(len(list_intersect($a, $b)) / len(list_distinct($a || $b)))"

  /** d_edit_dup keep threshold: edit distance <= this many mills
    * (thousandths) of the longer text's length. */
  private val EditRatioMills = 300

  /** Universal-hash family for minhash: h_j(x) = (a_j x + b_j) mod p
    * over the 48-bit shingle hashes reduced mod p; p = 2^31 - 1
    * (Mersenne prime) keeps every product inside a signed 64-bit long.
    * Parameters derive from the md5 determinism contract so both
    * engines bake in identical literals. */
  private val MinhashP = 2147483647L
  private val MinhashA: IndexedSeq[Long] =
    (0 until 8).map(j => Determinism.jvmMd5Idx(s"mh-a#$j", 12) % (MinhashP - 1) + 1)
  private val MinhashB: IndexedSeq[Long] =
    (0 until 8).map(j => Determinism.jvmMd5Idx(s"mh-b#$j", 12) % MinhashP)

  /** Per-row shingle-hash-set column (the ShingleHashSet codegen
    * Expression) — usable on a STREAM, where the batch build's
    * repartition/persist staging doesn't apply. */
  def shingleHashCol(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.ShingleHashSet(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          wordsOf(text)), 3, 12))

  /** Stateless per-row band keys over a frame with an `sh` column —
    * the SAME (bi, bk) domain as [[bandsOf]], but computed as a scalar
    * projection (array_min over the already-hashed shingles) instead of
    * explode + groupBy-min. On a stream the groupBy would be a stateful
    * aggregation; this keeps the ingest probe pipeline stateless. The
    * higher-order array_min/transform evaluates interpreted per
    * shingle, which is acceptable on the DELTA-sized stream side — the
    * corpus-sized standing side keeps the codegen groupBy path. */
  def streamBands(df: DataFrame): DataFrame = {
    def mj(j: Int): Column = array_min(transform(col("sh"),
      x => (lit(MinhashA(j)) * (x % MinhashP) + MinhashB(j)) % MinhashP))
    val bandArr = array((0 until 4).map(bi =>
      struct(lit(bi).as("bi"),
        concat_ws(":", mj(2 * bi), mj(2 * bi + 1)).as("bk"))): _*)
    df.withColumn("band", explode(bandArr))
      .select(df.columns.toIndexedSeq.map(col) :+ col("band.bi").as("bi")
        :+ col("band.bk").as("bk"): _*)
  }

  /** Standing near-dup index for stream-static ingest dedup: band keys
    * + shingle sets of the corpus below `tNew`, both from the memoized
    * family relations (built codegen-side, persisted, released with the
    * "d" scope). Columns (old_id, bi, bk, old_sh). */
  def standingIndex(s: SparkSession, dir: String, tNew: Long): DataFrame = {
    val sh = shingleSets(s, dir).select(col("doc_id"), col("sh"))
    bandsMemo(shingleSets(s, dir)).filter(col("doc_id") < tNew)
      .join(sh, "doc_id")
      .select(col("doc_id").as("old_id"), col("bi"), col("bk"),
        col("sh").as("old_sh"))
  }

  /** |A∩B| via the custom two-pointer Expression (arrays pre-sorted). */
  private[queries] def sortedInter(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.SortedIntersectCount(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // EXPLICIT family build — materializes every memoized relation the
    // d_* queries share (shingle sets, band table, Jaccard pairs,
    // exact pairs, the clustering edge union) as its own priced entry,
    // so the queries that follow measure their OWN work instead of
    // absorbing whichever build they happen to touch first. At 100 TB
    // these are standing artifacts (LshIndexStore), not query latency.
    // Returns build-size counts the oracle recomputes exactly.
    "d_build" -> ((s, dir) => {
      import s.implicits._
      type Task = () => Seq[(String, Long)]
      // fan out along the dependency DAG on graft.Par (bounded; its
      // threads inherit the session and local properties): exact pairs
      // don't touch shingles and run beside one task that builds the
      // shared shingle relation and then fans out the branches reading
      // it. Every memo is a build-once cell, so a branch that reaches an
      // upstream memo another branch is building waits for that build.
      val built = graft.Par.each(Seq[Task](
        () => Seq("exact_pairs" -> exactPairs(s, dir).count()),
        () => {
          val sh = shingleSets(s, dir)
          graft.Par.each(Seq[Task](
            () => Seq("shingle_docs" -> sh.count()),
            () => Seq("band_rows" -> bandsMemo(sh).count()),
            () => Seq("jaccard_pairs" -> jaccardPairs(s, dir).count()),
            // the standing-labels INPUT (full minhash pair relation)
            // joins the fan-out too — the sequential tail below then
            // pays only the CC label loop itself, not the band-probe
            // pair build (round 14)
            () => { minhashPairs(s, dir).count(); Nil },
            // the KMV corpus sketch (+ its pair-union membership
            // relation) and the standing SketchStore artifact, built
            // here so overlap/containment/inc price probe-only cost
            // (localCheckpoints are eager — no counts)
            () => { fullSketch(s, dir); kmvUnionMemo(s, dir); Nil },
            () => { standingSketchPath(s, dir); Nil }))(_()).flatten
        }))(_()).flatten
      // the standing labels (the nightly labeling artifact
      // d_cluster_inc extends) build LAST, alone: their CC run scopes
      // the session shuffle width down, which must not capture the
      // corpus-scale Jaccard/exact builds still planning on other
      // threads
      standingLabels(s, dir)
      clusterEdges(s, dir)
      built.toDF("item", "n").orderBy("item")
    }),

    // exact dedup: normalize -> hash -> group; emit (doc, canonical).
    "d_exact" -> ((s, dir) => exactPairs(s, dir).orderBy("doc_id")),

    // n-gram Jaccard near-dup, exact pairwise WITHIN (lang, length)
    // blocks. The intersect is computed ONCE per pair (staged projects;
    // |A∪B| = |A|+|B|-|A∩B| avoids materializing the union array).
    "d_ngram_jaccard" -> ((s, dir) =>
      jaccardPairs(s, dir).orderBy("a", "b")),

    // CORPUS-OVERLAP estimation between sources via bottom-k (KMV)
    // shingle sketches — the crawl-snapshot / provider-dedup question
    // ("how much of source B is already in source A?") answered
    // WITHOUT a doc-level pair join: each source compresses to its
    // OverlapK smallest 48-bit shingle hashes (the k-minimum-values
    // sketch; md5-uniform hashes make the k-th min a density
    // estimator), and a pair's Jaccard estimate is the fraction of the
    // union's bottom-k living in both sketches. Estimates are
    // DETERMINISTIC (same md5 draw both engines) so the oracle is
    // exact. Scale shape: the per-source bottom-k runs in TWO window
    // phases — partial bottom-k inside (source, salt-of-hash) groups,
    // then final bottom-k over ≤ 16·OverlapK survivors — so a source
    // with billions of shingles never sorts one reducer partition; the
    // pairwise stage touches only sketches (S·OverlapK rows — index
    // metadata, not corpus data). Sum/count are over ints, exact.
    // Probe cost = ONE aggregate over the memoized, lineage-truncated
    // union-membership relation (shared with d_containment).
    "d_source_overlap" -> ((s, dir) => kmvPairs(kmvUnionMemo(s, dir))),

    // DIRECTED containment estimates off the same sketch — the question
    // overlap's symmetric Jaccard can't answer: "what fraction of A is
    // already in B" vs the reverse (a small curated set can be 90%
    // inside a crawl while the crawl is 1% inside it). Within the
    // union's bottom-K, restrict to one side's members and take the
    // fraction also present in the other: cont(A→B) = hits / |sample ∩
    // A| — the standard KMV containment estimator, deterministic like
    // the Jaccard one, ONE aggregate off the same memoized
    // union-membership relation d_source_overlap reads.
    "d_containment" -> ((s, dir) =>
      kmvUnionMemo(s, dir)
        .groupBy("src_a", "src_b")
        .agg(sum(col("ina")).cast("long").as("ka"),
          sum(col("inb")).cast("long").as("kb"),
          sum(col("ina") * col("inb")).cast("long").as("hits"))
        .select(col("src_a"), col("src_b"), col("ka"), col("kb"), col("hits"),
          when(col("ka") === 0, lit(0L))
            .otherwise(expr("hits * 1000000 div ka")).as("cont_ab_micro"),
          when(col("kb") === 0, lit(0L))
            .otherwise(expr("hits * 1000000 div kb")).as("cont_ba_micro"))
        .orderBy("src_a", "src_b")),

    // INCREMENTAL sketch maintenance — the property that makes KMV the
    // right overlap structure for a nightly-ingest corpus: bottom-k is
    // MERGEABLE (bottomK(A ∪ B) = bottomK(bottomK(A) ∪ B)), so the
    // standing per-source sketch absorbs tonight's delta WITHOUT
    // re-scanning yesterday's text — the merge input is K rows per
    // source plus the delta's distinct hashes, whatever the corpus
    // grew to. The standing side is READ FROM SketchStore (the
    // persisted artifact the production loop would keep; its build is
    // priced in d_build), the delta explode touches only the new 20%
    // of docs, and the result memoizes. The oracle is
    // d_source_overlap's full-recompute SQL verbatim: the gate itself
    // proves store-merge == from-scratch.
    "d_overlap_inc" -> ((s, dir) => overlapIncMemo(s, dir)),

    // SIMILARITY-BAND tuning curve — the threshold-picking audit a
    // dedup rollout reads before moving its cut line: the (memoized)
    // exact-Jaccard pair relation banded into tenths, pair counts and
    // the exact jac range per band. Where the histogram's knee sits
    // IS the threshold decision (cut below the knee = drop near-misses,
    // above = keep real dups); cost on top of the standing pair
    // relation is one |pairs|-row aggregate into ≤9 bands.
    "d_jaccard_bands" -> ((s, dir) =>
      jaccardPairs(s, dir)
        .withColumn("band", floor(col("jac") * 10).cast("int"))
        .groupBy("band").agg(count(lit(1)).as("n_pairs"),
          min("jac").as("min_jac"), max("jac").as("max_jac"))
        .orderBy("band")),

    // MinHash(8) + LSH: 4 bands x 2 rows -> candidates share a band;
    // exact-Jaccard verify stage keeps only true near-dups. The hash
    // family is universal hashing over the ALREADY-HASHED shingles
    // (a_j*x + b_j mod p) — integer arithmetic both engines evaluate
    // identically, replacing 8 md5 calls per (doc, shingle) row.
    "d_minhash_lsh" -> ((s, dir) => minhashPairs(s, dir).orderBy("a", "b")),

    // FUZZY eval-set DECONTAMINATION — the release gate exact n-gram
    // overlap (x_contamination) cannot close: a paraphrased or
    // lightly-edited benchmark leak shares few exact 5-grams but keeps
    // a high shingle-Jaccard. Benchmark = the first 50 docs (the
    // x_contamination eval-set convention), and its band table is a
    // BROADCAST side (50 docs x 4 bands, whatever the corpus), so the
    // pool only ever equi-joins a tiny frame — candidate volume is
    // band-collision-bounded, never pool x bench. Verified at
    // Jaccard >= 0.5 (the leak bar, above near-dup's 0.2); output is
    // the drop list a training run subtracts: pool doc, how many
    // benchmark docs it leaks, the worst leak.
    "d_decontaminate" -> ((s, dir) => {
      val sh = shingleSets(s, dir)
      val bands = bandsMemo(sh)
      val bench = broadcast(bands.filter(col("doc_id") < 50)
        .select(col("doc_id").as("b"), col("bi"), col("bk")))
      val cand = bands.filter(col("doc_id") >= 50)
        .join(bench, Seq("bi", "bk"))
        .select(col("doc_id").as("a"), col("b")).distinct()
      verifyPairs(sh, cand, 0.5)
        .groupBy("a")
        .agg(count(lit(1)).as("n_bench"), max(col("jac")).as("max_jac"))
        .select(col("a").as("doc_id"), col("n_bench"), col("max_jac"))
        .orderBy("doc_id")
    }),

    // INCREMENTAL dedup — what a nightly 100-TB ingest actually runs:
    // the last 20% of doc ids play the "new batch"; only their
    // signatures probe the standing band table, producing exactly the
    // new/changed pairs (never re-verifying old-old). Oracle = the
    // from-scratch pipeline filtered to pairs with a new endpoint, so
    // the gate itself proves incremental == scratch-on-delta.
    "d_incremental" -> ((s, dir) => {
      lshPairsIncremental(shingleSets(s, dir), minJac = 0.2,
        tNew = newDocThreshold(s, dir))
        .orderBy("a", "b")
    }),

    // INCREMENTAL clustering — the other half of the nightly-ingest
    // path: STANDING labels over the old corpus's LSH pairs (a
    // memoized build artifact, the in-session form of the persisted
    // LshIndexStore.writeLabels relation), extended with
    // d_incremental's delta pairs via runIncremental, which contracts
    // old components through their labels and iterates only on the
    // batch-sized delta graph. The oracle recomputes the FULL
    // from-scratch transitive closure over the complete LSH pair set,
    // so the gate itself proves incremental == scratch.
    "d_cluster_inc" -> ((s, dir) => {
      val oldLabels = standingLabels(s, dir)
      val newEdges = lshPairsIncremental(shingleSets(s, dir),
        minJac = 0.2, tNew = newDocThreshold(s, dir)).select("a", "b")
      val labels = ConnectedComponents.runIncremental(oldLabels, newEdges)
      val sizes = labels.groupBy("cluster").agg(count(lit(1)).as("csize"))
      labels.join(sizes, "cluster")
        .select(col("id").as("doc_id"), col("cluster"), col("csize"))
        .orderBy("doc_id")
    }),

    // SimHash 60-bit over the word set; candidates share one of 4
    // 15-bit chunks (pigeonhole covers hamming<=3); verify popcount.
    "d_simhash" -> ((s, dir) => {
      val d = docs(s, dir)
      // twin corpus: copy with last word dropped => tiny hamming distance
      val w = wordsOf(col("text"))
      // redistribute BEFORE the signature projection: the single-row-
      // group test files scan as one task, and the per-word md5 work
      // rides on the scan — this is the one dedup pipeline where
      // spreading the raw rows first measures faster (the others lose
      // more to extra tasks/shuffle than they gain; A/B-measured)
      val corpus = d.select(col("doc_id"), col("text"))
        .unionByName(d.select((col("doc_id") + 100000L).as("doc_id"),
          concat_ws(" ", slice(w, lit(1), size(w) - 1)).as("text")))
        .repartition(d.sparkSession.sparkContext.defaultParallelism)
      // one custom codegen Expression computes the 60-bit signature per
      // row (SimHash; spec- and property-verified identical to the
      // explode → md5IdxK → 60-bit-sum vote formula): no explode, no
      // shuffle of one row per (doc, word), no 61-buffer aggregation —
      // the signature scales with the scan.
      val sim = corpus.select(col("doc_id"),
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.SimHash(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              wordsOf(col("text"))), 60, 15)).as("sh"))
      val chunks = sim.select(col("doc_id"), col("sh"),
          explode(sequence(lit(0), lit(3))).as("ci"))
        .select(col("doc_id"), col("sh"), col("ci"),
          expr("shiftright(sh, ci * 15) & 32767").as("cv"))
      chunks.as("x").join(chunks.as("y"),
          col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("dist")).distinct()
        .filter(col("dist") <= 3)
        .orderBy("a", "b")
    }),

    // dedup-method evaluation: the (lang, length)-blocked Jaccard pass
    // and the MinHash-LSH pass find DIFFERENT pair sets (blocking
    // misses cross-block dups; LSH bands are block-free). Exact
    // partition of the union into both/only_blocked/only_lsh — the
    // numbers that tell an operator which candidate generator to trust.
    "d_dedup_eval" -> ((s, dir) => {
      val jac = jaccardPairs(s, dir).select("a", "b")
      val mh = minhashPairs(s, dir).select("a", "b")
      val both = jac.join(mh, Seq("a", "b"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("both").as("part"), col("n"))
      val onlyBlocked = jac.join(mh, Seq("a", "b"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("only_blocked").as("part"), col("n"))
      val onlyLsh = mh.join(jac, Seq("a", "b"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("only_lsh").as("part"), col("n"))
      both.unionByName(onlyBlocked).unionByName(onlyLsh).orderBy("part")
    }),

    // dedup CLUSTERING: near-dup/exact pairs are only half the job — a
    // pipeline needs dedup GROUPS to keep one canonical doc per group.
    // Edges = exact-dup pairs (twin corpus) ∪ Jaccard>=0.2 pairs;
    // components via distributed min-label propagation
    // (graft.operators.ConnectedComponents). cluster = min doc_id.
    "d_cluster" -> ((s, dir) =>
      clusterWith(s, dir, _ => clusterLabels(s, dir))),

    // canonical SELECTION — the step that turns dedup groups into a
    // kept corpus: per cluster keep the highest-quality member (quality
    // = the x_quality length-saturation + stopword-density score in
    // integer micro-units; ties break to the smallest doc_id). This is
    // what a curation pipeline actually ships: one representative per
    // near-dup group, chosen by score rather than by id.
    "x_canon" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.select(col("doc_id"), col("text"))
        .unionByName(d.select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" ")).as("text")))
      val w = wordsOf(col("text"))
      val qm = (least(length(col("text")), lit(500)) * 1000L
        + floor(size(filter(w, x => x.isInCollection(TextAnalysis.stopwords)))
          * lit(500000L) / size(w))).cast("long")
      val scored = corpus.select(col("doc_id"), qm.as("qm"))
      clusterLabels(s, dir).join(scored, col("id") === scored("doc_id"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("csize"),
          max(struct(col("qm"), (-col("doc_id")).as("nid"))).as("m"))
        .select(col("cluster"), (-col("m.nid")).as("canon"),
          col("csize"), (col("m.qm") / 1000000.0).as("quality"))
        .orderBy("cluster")
    }),

    // the SAME clustering through the O(log n)-round star-contraction
    // strategy (the deep-graph scale path) — held to the identical
    // recursive-CTE oracle, so both algorithms are driver-gate-verified.
    // The star labels are a NAMED MEMO (round 14): the r13 warm retry
    // of this entry re-ran the whole star loop (70 block re-writes
    // behind a live cluster_edges memo — the loop itself was covered by
    // no memo), so a retry could never falsify a regression; now the
    // warm retry reads d/stars_labels at ~0 rddWrites and the clean
    // retry re-prices the loop.
    "d_cluster_stars" -> ((s, dir) =>
      clusterWith(s, dir, _ => starsLabels(s, dir))),

    // fuzzy (edit-distance) dedup — the code-corpus variant of
    // near-dup verification: MinHash bands generate candidates (the
    // SAME memoized band table every LSH consumer shares), then a
    // normalized Levenshtein verify keeps pairs whose edit distance is
    // <= 30% of the longer text. The threshold compares in INTEGER
    // mills (dist*1000 <= maxlen*300) so no float enters the gate;
    // Levenshtein runs only on the band-bounded candidate set, never
    // all pairs — the O(len^2) kernel is priced per candidate, which
    // is what makes edit-distance dedup feasible at corpus scale.
    "d_edit_dup" -> ((s, dir) => {
      val bands = bandsMemo(shingleSets(s, dir))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.bi") === col("y.bi") && col("x.bk") === col("y.bk")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        // WIDTH anchor for the verify stage (round 14, decade-measured):
        // the distinct's own exchange is ENSURE_REQUIREMENTS, so AQE
        // coalesces it by BYTES — 3 tasks for the tiny (a, b) pairs on
        // the replica decade corpus — and the O(len²) Levenshtein
        // verify (broadcast text joins keep it in the same stage) ran
        // 290 cpu-s on those 3 tasks (111 s wall). An explicit keyed
        // repartition BELOW the distinct satisfies its clustering
        // requirement exactly (no ENSURE_REQUIREMENTS exchange remains
        // to coalesce, and AQE never coalesces user repartitions), so
        // the aggregate AND the verify run at the session width.
        // A repartition ABOVE the distinct was tried first and is
        // optimizer-eliminated (redundant under the final global Sort).
        .repartition(s.sparkContext.defaultParallelism, col("a"), col("b"))
        .distinct()
      val t = docs(s, dir)
      // (A banded-threshold Levenshtein was tried in round 14 and
      // REVERTED by measurement: the kernel is < 1 cpu-s at sf0.1 —
      // the entry's first-touch cost was the band-table plan re-codegen,
      // fixed in bandsMemo — so the threshold variant bought nothing.)
      // The mills filter referencing `dist` used to be pushed INTO the
      // broadcast join as its condition, evaluating the O(len²) DP
      // TWICE per row (condition + output projection). The
      // OptimizerFence marks the computed column non-deterministic
      // (the guide's asNondeterministic remedy, expression form; zero
      // runtime cost): the filter can no longer sink below the
      // projection, so the DP evaluates exactly once. With the width
      // anchor above, the decade read went 111.9 s wall / 291 cpu-s →
      // 10.9 s / 147 (one eval, 32 tasks). Same rows, same output.
      val fencedDist = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.OptimizerFence(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(
            levenshtein(col("ta"), col("tb")))))
      cand.join(t.select(col("doc_id").as("a"), col("text").as("ta")), "a")
        .join(t.select(col("doc_id").as("b"), col("text").as("tb")), "b")
        .select(col("a"), col("b"),
          fencedDist.as("dist"),
          greatest(length(col("ta")), length(col("tb"))).as("maxlen"))
        .filter(col("dist") * 1000 <= col("maxlen") * lit(EditRatioMills))
        .select("a", "b", "dist", "maxlen")
        .orderBy("a", "b")
    }),

    // SemDeDup-style semantic dedup pruning (cluster-scoped): assign
    // every embedding to its nearest of K hash-drawn centroids, then
    // compare ONLY within a cell — the cells bound the quadratic term
    // (cell_pop^2 * K vs corpus^2), which is the published recipe's
    // whole point at web scale; cross-cell near-dups are missed by
    // design (the accepted approximation). A vector with any lower-id
    // in-cell neighbor at cosine >= tau is REDUNDANT: the output is
    // the drop list (vec_id, its kept representative = min such
    // neighbor, and how many close neighbors it had) — the decision
    // d_embed_dup's pair listing feeds, produced directly. The twin
    // corpus (perturbed first component, cosine ~0.9995 to its
    // original) gives known semantic dups; random synthetic pairs top
    // out near cosine 0.44, so tau=0.95 separates cleanly in both
    // engines (bit-identical unrolled cosines).
    "d_semdedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = embs(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val twin = e.select((col("vec_id") + 100000L).as("vec_id"),
        concat(array(element_at(col("v"), 1) + 0.05), slice(col("v"), 2, 63)).as("v"))
      val corpus = graft.CacheBook.keep(s, "d")(graft.CacheBook.materialize(e.unionByName(twin)
        .withColumn("n", VecOps.norm(col("v")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
      val cents = broadcast(corpus
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(24)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("n").as("cn")))
      val wA = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid").asc)
      val assigned = corpus.join(cents)
        .select(col("vec_id"), col("v"), col("n"), col("cid"),
          VecOps.cosine(col("v"), col("cv"), col("n"), col("cn")).as("ccos"))
        .withColumn("arn", row_number().over(wA)).filter(col("arn") === 1)
        .select("cid", "vec_id", "v", "n")
      assigned.as("x").join(assigned.as("y"),
          col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          VecOps.cosine(col("x.v"), col("y.v"), col("x.n"), col("y.n")).as("cos"))
        .filter(col("cos") >= 0.95)
        .groupBy("b")
        .agg(min("a").as("dup_of"), count(lit(1)).cast("int").as("n_close"))
        .select(col("b").as("vec_id"), col("dup_of"), col("n_close"))
        .orderBy("vec_id")
    }),

    // embedding cosine near-dup, candidates blocked by (label, LSH
    // bucket): cos>=0.99 pairs share all NPlanes hyperplane signs with
    // high probability, so the join key prunes the quadratic term ~2^b;
    // b scales with log2(corpus) via GRAFT_LSH_PLANES (see VecOps);
    // the exact-cosine verify keeps only true near-dups. Twin corpus
    // with a perturbed first component gives known cosine~0.999 pairs.
    "d_embed_dup" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      val twin = e.select((col("vec_id") + 100000L).as("vec_id"), col("label"),
        concat(array(element_at(col("v"), 1) + 0.05), slice(col("v"), 2, 63)).as("v"))
      // per-call persist (both join sides read it) — released with the family
      val corpus = graft.CacheBook.keep(s, "d")(graft.CacheBook.materialize(e.unionByName(twin)
        .withColumn("n", VecOps.norm(col("v")))
        .withColumn("bucket", VecOps.lshBucket(col("v")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
      corpus.as("x").join(corpus.as("y"),
          col("x.label") === col("y.label") && col("x.bucket") === col("y.bucket")
            && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          VecOps.cosine(col("x.v"), col("y.v"), col("x.n"), col("y.n")).as("cos"))
        .filter(col("cos") >= 0.99)
        .orderBy("a", "b")
    }),

    // EXACT set-similarity self-join via prefix filtering (AllPairs,
    // Bayardo et al. 2007, + PPJoin's positional filter, Xiao et al.
    // 2008) — the deterministic complement to the probabilistic paths:
    // d_minhash_lsh can miss a true pair (banding recall < 1) and
    // d_ngram_jaccard only compares within (lang, length) blocks; this
    // entry finds EVERY pair at Jaccard >= 0.5 corpus-wide with zero
    // recall loss, no blocking assumption, and still no all-pairs term.
    // The bound: order tokens globally by ASCENDING document frequency
    // (rarest first); a pair at J >= t MUST collide on its first
    // n - ceil(t*n) + 1 tokens in that order (prefix-filter theorem),
    // so the candidate join runs only over prefixes — dominated by
    // df~1 tokens, which is what makes the equi-join linear-ish: a hot
    // token's df pushes it OUT of every prefix, so the join key skew
    // is bounded by the algorithm itself, not by a salting patch. The
    // positional filter then drops collisions whose best-case overlap
    // (min remaining suffix + 1) can't reach ceil(t*max(n)). 4-word
    // shingles (vs the family's 3) keep the token space sparse enough
    // that prefixes actually discriminate; t = 0.5 is binary-exact so
    // ceil(t*n) = (n+1) div 2 is pure integer arithmetic cross-engine.
    // Verify = the family's exact sorted-intersection Jaccard. At
    // 100 TB: tokens/df/prefixes are linear scans + one bounded-skew
    // equi-join; production would collapse exact dups first (d_exact)
    // and shard df as a standing relation — both orthogonal here.
    "d_allpairs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // the 4-gram hashed shingle relation is read by BOTH the prefix
      // pipeline and the verify join — persist the md5 scan once
      // EAGER localCheckpoint, not persist (round 14 OPT): sh feeds the
      // prefix pipeline AND the verify join — eagerness stops those
      // branches racing the md5 scan (SURVEY §4), and the CHECKPOINT
      // truncates the plan so the three consumer stages codegen against
      // a LogicalRDD leaf instead of re-inlining the ShingleHashSet
      // subtree (the ANN-memo Janino finding, stage-attributed here:
      // the 32-task self-join stage burned more cpu than its data)
      val sh = docs(s, dir)
        .select(col("doc_id"),
          org.apache.spark.sql.graftbridge.ColumnBridge.column(
            graft.functions.ShingleHashSet(
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(
                wordsOf(col("text"))), 4, 12)).as("sh"))
        .localCheckpoint(true)
      graft.CacheBook.keep(s, "d")(sh)
      val tok = sh.select(col("doc_id"), explode(col("sh")).as("s"),
        size(col("sh")).as("n"))
      val dfRel = tok.groupBy("s").agg(count(lit(1)).as("df"))
      // df lookup joins plain (not salted): prefix filtering is itself
      // the skew guard downstream, and here the token space is sparse
      // by construction (4-grams) so no key carries corpus-scale df
      val wOrd = Window.partitionBy("doc_id").orderBy(col("df"), col("s"))
      // eager CHECKPOINT: pre immediately SELF-joins (x/y below) — the
      // textbook lazy-persist build race (SURVEY §4), and both join
      // branches plan against the truncated leaf (same finding as sh)
      val pre = tok.join(dfRel, "s")
        .withColumn("rn", row_number().over(wOrd))
        .filter(col("rn") <= expr("n - ((n + 1) div 2) + 1"))
        .select("doc_id", "s", "n", "rn")
        .localCheckpoint(true)
      graft.CacheBook.keep(s, "d")(pre)
      val cand = pre.as("x").join(pre.as("y"),
          col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id")
            && lit(2) * col("y.n") >= col("x.n")
            && lit(2) * col("x.n") >= col("y.n"))
        .filter(expr("least(x.n - x.rn, y.n - y.rn) + 1")
          >= expr("(greatest(x.n, y.n) + 1) div 2"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
      verifyPairs(sh, cand, 0.5).orderBy("a", "b")
    })
  )

  /** Memoized, materialized clustering edge list (exact-dup ∪ Jaccard
    * pairs) — d_cluster and d_cluster_stars run different component
    * algorithms over the SAME edges, so the union is checkpointed once
    * per (session, corpus). */
  private def clusterEdges(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "d", "cluster_edges", dir) {
      val ePairs = exactPairs(s, dir)
        .select(col("dup_of").as("a"), col("doc_id").as("b"))
      graft.CacheBook.keep(s, "d")(
        ePairs.union(jaccardPairs(s, dir).select("a", "b")).localCheckpoint(true))
    }

  /** Memoized star-contraction labels over [[clusterEdges]] — the
    * d_cluster_stars result relation. runStars returns an eager local
    * checkpoint, so the memo holds materialized blocks; the memo exists
    * so a warm re-run reads standing state instead of silently
    * re-running the whole per-round checkpoint loop (the r13 `weak`
    * signature: flat jobs, 70 re-written blocks, nothing to read;
    * BlockPressureSpec pins it). */
  private def starsLabels(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "d", "stars_labels", dir) {
      graft.CacheBook.keep(s, "d")(ConnectedComponents.runStars(clusterEdges(s, dir)))
    }

  /** Memoized component labels over [[clusterEdges]] — shared by
    * d_cluster (reports them) and x_canon (picks canonicals), so the
    * work runs once per (session, corpus).
    *
    * Exact-dup groups are already KNOWN stars (exactPairs maps every
    * member to its window-min canonical), so they are contracted before
    * the iterative part: Jaccard edges map endpoints through their
    * exact canonical, min-label propagation runs on that contracted
    * graph only, and the full labeling expands back through the same
    * map. Components of (exact ∪ jaccard) equal the expanded components
    * of jaccard-on-canonicals because contraction merges exactly the
    * nodes the exact edges would merge; cluster ids are unchanged (a
    * component's min id is an original doc, which is its own exact
    * canonical). At corpus scale the exact stars are the bulk of the
    * edge volume, so the propagation loop runs on a graph orders of
    * magnitude smaller — the standard production-dedup shape. */
  private def clusterLabels(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "x", "cluster_labels", dir) {
      // prefetch the heavy memoized inputs BEFORE opening the narrow
      // scope: a shingle/Jaccard build inside it would plan at the
      // narrow width, and so would every query that runs on the session
      // while the scope is open
      exactPairs(s, dir); jaccardPairs(s, dir)
      // key-only traffic: the contraction joins and the expansion run
      // under the narrow profile like the CC loop (the eager checkpoint
      // below materializes everything in-scope); the run() inside nests
      // in the same scope
      graft.Profiles.narrow(s) {
        graft.CacheBook.keep(s, "x")(clusterLabelsBody(s, dir))
      }
    }

  private def clusterLabelsBody(s: SparkSession, dir: String): DataFrame = {
      val ex = exactPairs(s, dir) // (doc_id, dup_of): non-canonical members only
      val jac = jaccardPairs(s, dir).select("a", "b")
      val canon = ex.select(col("doc_id").as("node"), col("dup_of").as("cn"))
      def canonize(df: DataFrame, c: String): DataFrame =
        df.join(canon, df(c) === canon("node"), "left")
          .select((df.columns.filterNot(_ == c).toIndexedSeq.map(df(_))
            :+ coalesce(col("cn"), df(c)).as(c)): _*)
      val contracted = canonize(canonize(jac, "a"), "b")
      val small = ConnectedComponents.run(contracted.select("a", "b"))
        .select(col("id").as("cn2"), col("cluster"))
      // every node of any edge: exact members + canonicals + jac endpoints
      val nodes = ex.select(col("doc_id").as("id"))
        .union(ex.select(col("dup_of").as("id")))
        .union(jac.select(col("a").as("id")))
        .union(jac.select(col("b").as("id")))
        .distinct()
      nodes.join(canon, nodes("id") === canon("node"), "left")
        .select(col("id"), coalesce(col("cn"), col("id")).as("cn"))
        .join(small, col("cn") === col("cn2"), "left")
        .select(col("id"), coalesce(col("cluster"), col("cn")).as("cluster"))
        .localCheckpoint(true)
  }

  /** Shared clustering body: edges = exact-dup ∪ Jaccard pairs (both
    * memoized), components via the given strategy, cluster = min
    * doc_id plus component size. */
  private def clusterWith(s: SparkSession, dir: String,
      cc: DataFrame => DataFrame): DataFrame = {
    val labels = cc(clusterEdges(s, dir))
    val sizes = labels.groupBy("cluster").agg(count(lit(1)).as("csize"))
    labels.join(sizes, "cluster")
      .select(col("id").as("doc_id"), col("cluster"), col("csize"))
      .orderBy("doc_id")
  }

  private val oracleBase: Map[String, String] = Map(
    "d_exact" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text || ' ' FROM documents),
         hashed AS (SELECT doc_id,
           md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS h FROM corpus),
         canon AS (SELECT h, min(doc_id) AS dup_of FROM hashed GROUP BY h)
         SELECT doc_id, dup_of FROM hashed JOIN canon USING (h)
         WHERE doc_id <> dup_of ORDER BY doc_id""",

    "d_ngram_jaccard" ->
      s"""WITH $sqlJacCtes
         SELECT a, b, jac FROM j ORDER BY a, b""",

    // bottom-k union estimate; the window chain mirrors the engine's
    // two-phase bottom-k (the salted partial phase is a strict superset
    // of the final top-OverlapK, so one window suffices here). The SAME
    // full-recompute SQL answers d_overlap_inc: the incremental merge
    // must equal from-scratch exactly (KMV mergeability as the gate).
    "d_source_overlap" -> sqlSourceOverlap,
    "d_overlap_inc" -> sqlSourceOverlap,
    "d_containment" -> sqlContainment,

    "d_minhash_lsh" -> sqlMinhash(""),

    "d_jaccard_bands" ->
      s"""WITH $sqlJacCtes
         SELECT CAST(floor(jac * 10) AS INT) AS band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           min(jac) AS min_jac, max(jac) AS max_jac
         FROM j GROUP BY band ORDER BY band""",

    // from-scratch pipeline restricted to pairs touching the new batch
    // (the incremental path's result contract)
    "d_incremental" -> sqlMinhash(
      " AND (a >= (SELECT max(doc_id) * 4 // 5 FROM documents)" +
        " OR b >= (SELECT max(doc_id) * 4 // 5 FROM documents))"),

    // incremental clustering answers to the FROM-SCRATCH transitive
    // closure over the complete LSH pair set — the oracle IS the
    // incremental == scratch equivalence contract
    "d_cluster_inc" ->
      s"""WITH RECURSIVE e AS (SELECT a, b FROM (${sqlMinhash("")})),
         bi AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
         r AS (SELECT src, dst FROM bi
           UNION SELECT r.src, bi.dst FROM r JOIN bi ON r.dst = bi.src),
         reach AS (SELECT src, dst FROM r UNION SELECT DISTINCT src, src FROM bi),
         lbl AS (SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src),
         sz AS (SELECT cluster, count(*) AS csize FROM lbl GROUP BY cluster)
         SELECT id AS doc_id, cluster, csize FROM lbl JOIN sz USING (cluster)
         ORDER BY doc_id""",

    "d_simhash" ->
      s"""WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000,
             array_to_string(w[1:len(w)-1], ' ')
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
         ex AS (SELECT doc_id, ${Determinism.sqlMd5IdxK("w", 15)} AS h
           FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
                 FROM corpus)),
         votes AS (SELECT doc_id, bit,
             sum(CASE WHEN (h >> CAST(bit AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM ex, unnest(range(0, 60)) AS t(bit) GROUP BY doc_id, bit),
         sim AS (SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << CAST(bit AS INT) ELSE 0 END) AS BIGINT) AS sh
           FROM votes GROUP BY doc_id),
         chunks AS (SELECT doc_id, sh, ci,
             (sh >> CAST(ci * 15 AS INT)) & 32767 AS cv
           FROM sim, unnest(range(0, 4)) AS t(ci))
         SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS dist
         FROM chunks x JOIN chunks y
         ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id
         WHERE bit_count(xor(x.sh, y.sh)) <= 3 ORDER BY a, b""",

    // transitive closure via recursive CTE (UNION dedups, so cycles
    // terminate); cluster = min reachable id — identical to what the
    // min-label propagation converges to.
    "d_cluster" ->
      s"""WITH RECURSIVE sh AS ($sqlShingleSets),
         jac AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sh a JOIN sh b
           ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
           WHERE ${sqlJaccard("a.sh", "b.sh")} >= 0.2),
         corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text || ' ' FROM documents),
         hashed AS (SELECT doc_id,
           md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS h FROM corpus),
         canon AS (SELECT h, min(doc_id) AS dup_of FROM hashed GROUP BY h),
         exact AS (SELECT dup_of AS a, doc_id AS b FROM hashed JOIN canon USING (h)
           WHERE doc_id <> dup_of),
         e AS (SELECT a, b FROM exact UNION SELECT a, b FROM jac),
         bi AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
         r AS (SELECT src, dst FROM bi
           UNION SELECT r.src, bi.dst FROM r JOIN bi ON r.dst = bi.src),
         reach AS (SELECT src, dst FROM r UNION SELECT DISTINCT src, src FROM bi),
         lbl AS (SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src),
         sz AS (SELECT cluster, count(*) AS csize FROM lbl GROUP BY cluster)
         SELECT id AS doc_id, cluster, csize FROM lbl JOIN sz USING (cluster)
         ORDER BY doc_id""",

    "d_edit_dup" ->
      s"""WITH $sqlCandCtes
         SELECT a, b,
           CAST(levenshtein(ta.text, tb.text) AS INT) AS dist,
           CAST(greatest(length(ta.text), length(tb.text)) AS INT) AS maxlen
         FROM cand JOIN documents ta ON ta.doc_id = a
         JOIN documents tb ON tb.doc_id = b
         WHERE levenshtein(ta.text, tb.text) * 1000
           <= greatest(length(ta.text), length(tb.text)) * $EditRatioMills
         ORDER BY a, b""",

    "d_semdedup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         corpus AS (
           SELECT vec_id, v FROM e
           UNION ALL SELECT vec_id + 100000, [v[1] + 0.05] || v[2:64] FROM e),
         wn AS (SELECT vec_id, v, ${VecOps.sqlNorm("v")} AS n FROM corpus),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM wn
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 24),
         assigned AS (SELECT cid, vec_id, v, n FROM (
             SELECT wn.vec_id, wn.v, wn.n, c0.cid,
               row_number() OVER (PARTITION BY wn.vec_id
                 ORDER BY (${VecOps.sqlDot("wn.v", "c0.cv")} / (wn.n * c0.cn)) DESC,
                   c0.cid) AS arn
             FROM wn, c0) WHERE arn = 1),
         close AS (SELECT x.vec_id AS a, y.vec_id AS b,
             (${VecOps.sqlDot("x.v", "y.v")} / (x.n * y.n)) AS cos
           FROM assigned x JOIN assigned y
           ON x.cid = y.cid AND x.vec_id < y.vec_id)
         SELECT b AS vec_id, CAST(min(a) AS BIGINT) AS dup_of,
           CAST(count(*) AS INT) AS n_close
         FROM close WHERE cos >= 0.95 GROUP BY b ORDER BY vec_id""",

    "d_embed_dup" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         corpus AS (
           SELECT vec_id, label, v FROM e
           UNION ALL SELECT vec_id + 100000, label,
             [v[1] + 0.05] || v[2:64] FROM e),
         withn AS (SELECT *, ${VecOps.sqlNorm("v")} AS n,
           ${VecOps.sqlLshBucket("v")} AS bucket FROM corpus)
         SELECT a.vec_id AS a, b.vec_id AS b,
           (${VecOps.sqlDot("a.v", "b.v")} / (a.n * b.n)) AS cos
         FROM withn a JOIN withn b
         ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE (${VecOps.sqlDot("a.v", "b.v")} / (a.n * b.n)) >= 0.99
         ORDER BY a, b"""
  )

  /** The shared KMV CTE chain (shingle relation → per-source sketch →
    * pairwise union-bottom-K membership rows named `top`), closed by
    * the caller's final SELECT — one copy feeds the overlap,
    * incremental, and containment oracles. */
  private def sqlKmv(finalSelect: String): String =
    s"""WITH sh AS ($sqlShingleSets),
         sh2 AS (SELECT DISTINCT d.source, u.h
           FROM (SELECT doc_id, unnest(sh) AS h FROM sh) u
           JOIN documents d USING (doc_id)),
         sketch AS (SELECT source, h FROM (
             SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
             FROM sh2) WHERE rn <= $OverlapK),
         srcs AS (SELECT DISTINCT source FROM sketch),
         pairs AS (SELECT a.source AS src_a, b.source AS src_b
           FROM srcs a JOIN srcs b ON a.source < b.source),
         u AS (SELECT src_a, src_b, h, max(ina) AS ina, max(inb) AS inb
           FROM (
             SELECT p.src_a, p.src_b, s.h, 1 AS ina, 0 AS inb
             FROM pairs p JOIN sketch s ON s.source = p.src_a
             UNION ALL
             SELECT p.src_a, p.src_b, s.h, 0 AS ina, 1 AS inb
             FROM pairs p JOIN sketch s ON s.source = p.src_b)
           GROUP BY src_a, src_b, h),
         top AS (SELECT * FROM (
             SELECT src_a, src_b, ina, inb, row_number()
               OVER (PARTITION BY src_a, src_b ORDER BY h) AS urn
             FROM u) WHERE urn <= $OverlapK)
         $finalSelect"""

  private def sqlSourceOverlap: String = sqlKmv(
    s"""SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS kk,
           CAST(sum(ina * inb) AS BIGINT) AS hits,
           CAST(sum(ina * inb) AS BIGINT) * 1000000
             // CAST(count(*) AS BIGINT) AS est_jaccard_micro
         FROM top GROUP BY src_a, src_b ORDER BY src_a, src_b""")

  private def sqlContainment: String = sqlKmv(
    s"""SELECT src_a, src_b,
           CAST(sum(ina) AS BIGINT) AS ka, CAST(sum(inb) AS BIGINT) AS kb,
           CAST(sum(ina * inb) AS BIGINT) AS hits,
           CASE WHEN sum(ina) = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(sum(ina * inb) AS BIGINT) * 1000000
               // CAST(sum(ina) AS BIGINT) END AS cont_ab_micro,
           CASE WHEN sum(inb) = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(sum(ina * inb) AS BIGINT) * 1000000
               // CAST(sum(inb) AS BIGINT) END AS cont_ba_micro
         FROM top GROUP BY src_a, src_b ORDER BY src_a, src_b""")

  val oracleSql: Map[String, String] = oracleBase +
    // fuzzy decontamination: the generic band-collision candidate set
    // (x < y, so bench = a, pool = b) filtered to bench-pool pairs,
    // verified at the 0.5 leak bar, grouped into the per-pool drop list
    ("d_decontaminate" ->
      s"""WITH $sqlCandCtes,
         v AS (SELECT a, b, ${sqlJaccard("sa.sh", "sb.sh")} AS jac
           FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b
           WHERE a < 50 AND b >= 50
             AND ${sqlJaccard("sa.sh", "sb.sh")} >= 0.5)
         SELECT b AS doc_id, CAST(count(*) AS BIGINT) AS n_bench,
           max(jac) AS max_jac
         FROM v GROUP BY b ORDER BY doc_id""") +
    // build-size counts: band rows = 4 per doc with a non-empty shingle
    // set; pair counts re-derive from the same pipelines the pair
    // queries answer to
    ("d_build" ->
      s"""SELECT 'band_rows' AS item,
           (SELECT CAST(4 * count(DISTINCT doc_id) AS BIGINT)
            FROM (SELECT doc_id, unnest(sh) AS s FROM ($sqlShingleSets))) AS n
         UNION ALL SELECT 'exact_pairs',
           (SELECT CAST(count(*) AS BIGINT) FROM (${oracleBase("d_exact")}))
         UNION ALL SELECT 'jaccard_pairs',
           (SELECT CAST(count(*) AS BIGINT) FROM (${oracleBase("d_ngram_jaccard")}))
         UNION ALL SELECT 'shingle_docs',
           (SELECT CAST(count(*) AS BIGINT) FROM ($sqlShingleSets))
         ORDER BY item""") +
    // both clustering strategies answer to the same transitive-closure SQL
    ("d_cluster_stars" -> oracleBase("d_cluster")) +
    // canonical pick = the d_cluster closure joined to the x_quality
    // micro-unit score over the same twin corpus; winner per cluster by
    // (quality desc, doc_id asc)
    ("x_canon" ->
      s"""WITH lbl AS (${oracleBase("d_cluster")}),
         q AS (SELECT doc_id, CAST(least(length(text), 500) * 1000
             + floor(len(list_filter(string_split(text, ' '),
                 x -> x IN (${TextAnalysis.stopSqlList}))) * 500000
               / len(string_split(text, ' '))) AS BIGINT) AS qm
           FROM (SELECT doc_id, text FROM documents
             UNION ALL SELECT doc_id + 100000, text || ' ' FROM documents)),
         j AS (SELECT lbl.cluster, lbl.csize, q.doc_id, q.qm,
             row_number() OVER (PARTITION BY lbl.cluster
               ORDER BY q.qm DESC, q.doc_id ASC) AS rn
           FROM lbl JOIN q USING (doc_id))
         SELECT cluster, doc_id AS canon, csize, qm / 1000000.0 AS quality
         FROM j WHERE rn = 1 ORDER BY cluster""") +
    ("d_dedup_eval" ->
      s"""WITH jac_full AS (${oracleBase("d_ngram_jaccard")}),
         mh_full AS (${oracleBase("d_minhash_lsh")}),
         jac AS (SELECT a, b FROM jac_full),
         mh AS (SELECT a, b FROM mh_full)
         SELECT 'both' AS part, CAST((SELECT count(*) FROM jac
           WHERE EXISTS (SELECT 1 FROM mh WHERE mh.a = jac.a AND mh.b = jac.b)) AS BIGINT) AS n
         UNION ALL
         SELECT 'only_blocked', CAST((SELECT count(*) FROM jac
           WHERE NOT EXISTS (SELECT 1 FROM mh WHERE mh.a = jac.a AND mh.b = jac.b)) AS BIGINT)
         UNION ALL
         SELECT 'only_lsh', CAST((SELECT count(*) FROM mh
           WHERE NOT EXISTS (SELECT 1 FROM jac WHERE jac.a = mh.a AND jac.b = mh.b)) AS BIGINT)
         ORDER BY part""") +
    // AllPairs prefix-filter mirror: 4-gram hashed shingles, global
    // (df, token) order, prefix = n - ceil(n/2) + 1 in pure integer
    // arithmetic, PPJoin positional filter, exact-Jaccard verify
    ("d_allpairs" ->
      s"""WITH sh AS (SELECT doc_id,
           list_distinct(list_transform(
             list_transform(range(0, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
               i -> array_to_string(string_split(text, ' ')[CAST(i+1 AS INT):CAST(i+4 AS INT)], ' ')),
             x -> ${Determinism.sqlMd5IdxK("x", 12)})) AS sh
           FROM documents),
         tok AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM sh),
         df AS (SELECT s, count(*) AS df FROM tok GROUP BY s),
         ord AS (SELECT t.doc_id, t.s, t.n,
             row_number() OVER (PARTITION BY t.doc_id ORDER BY df.df, t.s) AS rn
           FROM tok t JOIN df ON t.s = df.s),
         pre AS (SELECT doc_id, s, n, rn FROM ord
           WHERE rn <= n - ((n + 1) // 2) + 1),
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM pre x JOIN pre y ON x.s = y.s AND x.doc_id < y.doc_id
           WHERE 2 * y.n >= x.n AND 2 * x.n >= y.n
             AND least(x.n - x.rn, y.n - y.rn) + 1
               >= (greatest(x.n, y.n) + 1) // 2)
         SELECT a, b, ${sqlJaccard("sa.sh", "sb.sh")} AS jac
         FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b
         WHERE ${sqlJaccard("sa.sh", "sb.sh")} >= 0.5
         ORDER BY a, b""")
}
