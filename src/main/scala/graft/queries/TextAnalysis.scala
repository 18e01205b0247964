package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Determinism

/** Pack F — text analysis over `documents`, the per-document scoring
  * stage of a training-data pipeline. All scalar expressions: scales with
  * the scan, no shuffle except final ordering; each has a bit-identical
  * DuckDB oracle (double math written in the same left-to-right shape on
  * both sides so IEEE results agree exactly).
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // shared pieces ------------------------------------------------------

  // shared with Dedup's canonical-selection query (same score contract)
  private[graft] val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  private[queries] val stopSqlList = stopwords.map(w => s"'$w'").mkString(", ")

  private def wordsCol: Column = split(col("text"), " ")

  /** The integer quality score (micro-units, 0..1e6): length saturation
    * at 500 chars plus the stopword-density term. ONE definition —
    * x_quality reports it, x_quality_calib calibrates on it, and
    * x_token_budget selects on it; a score tweak lands everywhere or
    * nowhere. SQL twin below, parameterized by the n_stop / n_words
    * expressions of the caller's context. */
  private def qualityMicro(nStop: Column, nWords: Column): Column =
    (least(length(col("text")), lit(500)) * 1000L
      + floor(nStop * lit(500000L) / nWords)).cast("long")
  private def sqlQualityMicro(nStopSql: String, nWordsSql: String): String =
    s"CAST(least(length(text), 500) * 1000 + floor($nStopSql * 500000 / $nWordsSql) AS BIGINT)"
  private val bpeish = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** The per-doc language prediction SQL — ONE copy serves x_langid's
    * oracle and the x_langid_eval confusion matrix built on it. */
  private val sqlLangid: String =
    """SELECT doc_id, lang,
         CASE WHEN c_en = g THEN 'en' WHEN c_es = g THEN 'es'
              WHEN c_de = g THEN 'de' ELSE 'fr' END AS pred_lang
       FROM (
         SELECT doc_id, lang,
           len(list_filter(w, x -> x IN ('the','and','of'))) AS c_en,
           len(list_filter(w, x -> x IN ('el','la','de'))) AS c_es,
           len(list_filter(w, x -> x IN ('der','und','das'))) AS c_de,
           len(list_filter(w, x -> x IN ('le','et','les'))) AS c_fr,
           greatest(
             len(list_filter(w, x -> x IN ('the','and','of'))),
             len(list_filter(w, x -> x IN ('el','la','de'))),
             len(list_filter(w, x -> x IN ('der','und','das'))),
             len(list_filter(w, x -> x IN ('le','et','les')))) AS g
         FROM (SELECT *, string_split(text, ' ') AS w FROM documents))"""

  /** Storage of a text-family memo (one-time builds memoized per
    * (session, corpus) under "x:<name>" and released with the "x"
    * family scope; x_build prices them so the probe queries that reuse
    * them measure probe cost): the build plan is recorded under `name`,
    * then the frame is EAGERLY localCheckpointed, not persisted — a
    * persisted memo keeps its plan, so every consumer re-plans and
    * re-codegens the build subtree (the ANN-memo Janino finding). */
  private def xFrame(s: SparkSession, name: String)(df: DataFrame): DataFrame =
    graft.CacheBook.keep(s, "x")(
      graft.CacheBook.recordBuildPlan(s, "x", name)(df).localCheckpoint(true))

  /** Corpus bigram occurrences — BOTH sides of x_lm_score's salted
    * count join consume this relation. */
  private def lmGrams(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "x", "x:lm_grams", dir)(xFrame(s, "x:lm_grams") {
      docs(s, dir).repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(shingles(wordsCol, 2)).as("bg"))
    })

  /** Per-doc LM-score accumulators (doc_id, nb, sx) — the salted
    * Zipf-skewed bigram-count join (count side replicates 8-fold like
    * x_top_terms' df join; never broadcast — the bigram table grows
    * with the corpus) runs ONCE per (session, corpus): x_lm_score and
    * x_ccnet_buckets both read this relation; x_build prices it. */
  private def lmScores(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "x", "x:lm_scores", dir)(xFrame(s, "x:lm_scores") {
      val grams = lmGrams(s, dir)
      val cnt = grams.groupBy("bg").agg(count(lit(1)).as("c"))
      graft.operators.SkewJoin.salted(grams, cnt, key = "bg", uniqueCol = "doc_id")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nb"), sum(expr("1000000 div c")).as("sx"))
    })

  /** (doc_id, 48-bit span hash) stride-1 windows — x_dup_spans' probe
    * and df sides. */
  private def spanRel(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "x", "x:spans", dir)(xFrame(s, "x:spans") {
      docs(s, dir).repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(shingleHashes(wordsCol, SpanW)).as("span"))
    })

  /** (doc_id, pos, line) segments — x_line_dedup's probe and df sides. */
  private def lineRel(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "x", "x:lines", dir)(xFrame(s, "x:lines") {
      linesOf(docs(s, dir))
    })

  /** Encoded distinct-word vocab (word -> token count under the learned
    * merges) — x_bpe_encode's salted join side; forces bpeMerges. */
  private def bpeWtok(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "x", "x:bpe_wtok", dir)(xFrame(s, "x:bpe_wtok") {
      bpeWordTokens(
        docs(s, dir).select(explode(wordsCol).as("w"))
          .filter(length(col("w")) > 0).distinct(),
        bpeMerges(s, dir))
    })

  /** Per-doc DSIR importance scores (doc_id, n_feats, dsir_micro) —
    * the x_dsir gate reads it and x_dsir_sample draws from it, so the
    * hashed-feature explode + weight build runs once per (session,
    * corpus); priced by x_build's fan-out like the other memos. */
  private def dsirScores(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "x", "x:dsir", dir)(xFrame(s, "x:dsir") {
      // EAGER localCheckpoint, not persist (the item-1/11 plan-tax, one
      // more instance found by stage attribution this session: behind a
      // persist both in-build consumers — the fused bucket counts and
      // the probe join — re-planned and re-CODEGEN'd the 2×ShingleHashes
      // explode subtree; two 32-task stages burned 8.6+9.7 cpu-s on 64
      // output records doing Janino work, ~20% of x_build's cpu)
      val feats = graft.CacheBook.keep(s, "x")(docs(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(concat(shingleHashes(wordsCol, 1), shingleHashes(wordsCol, 2)))
            .as("h"))
        .select(col("doc_id"), pmod(col("h"), lit(DsirBuckets.toLong)).as("b"))
        .localCheckpoint(true))
      // ONE pass over the feature relation serves BOTH sides' bucket
      // counts (was: two full groupBy passes, one per side — measured
      // ~2x the cpu of the fused aggregate at sf0.1). Buckets seen only
      // on the target side get rc = 0 rows in the weight table; no
      // probe row can match them (a probed bucket has rc >= 1 from its
      // own contribution), so the join result is unchanged.
      val cnts = feats.groupBy("b").agg(
        sum(when(col("doc_id") < DsirBench, 1L).otherwise(0L)).as("tc"),
        sum(when(col("doc_id") >= DsirBench, 1L).otherwise(0L)).as("rc"))
      val tot = broadcast(cnts.agg(sum("tc").as("tgt_t"), sum("rc").as("raw_t")))
      // the corpus-grain sum runs as TWO codegen LONG sums, not a
      // per-row DECIMAL(38) fold (measured ~25% cheaper on the probe
      // stage): wm >= 0 splits exactly as wm = wq·1e9 + wr with
      // wr ∈ [0, 1e9), recombined in DECIMAL once per doc. Bounds: the
      // split longs are exact while wm < 2^63·1e9 ≈ 9e27 — i.e. pool
      // feature mass below ~9e21, a million× the 100 TB corpus — and
      // the partial sums stay under 2^63 for any doc below ~10^8
      // features (wq ≤ wm/1e9, nf ≤ 2·tokens).
      val wsplit = broadcast(cnts.join(broadcast(tot))
        .select(col("b"),
          // DECIMAL through both multiplies: raw_t is the pool's total
          // feature mass (corpus-sized — 1e6·raw_t wraps a long past
          // ~9e12 features) and the (tc+1)·ratio product compounds it;
          // the DuckDB mirror is already HUGEINT end-to-end.
          expr("(CAST(tc + 1 AS DECIMAL(38,0))" +
            " * ((CAST(raw_t AS DECIMAL(38,0)) * 1000000) div tgt_t))" +
            " div (rc + 1)").as("wm"))
        .select(col("b"),
          expr("CAST(wm div 1000000000 AS BIGINT)").as("wq"),
          expr("CAST(wm % 1000000000 AS BIGINT)").as("wr")))
      feats.filter(col("doc_id") >= DsirBench).join(wsplit, "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nf"), sum("wq").as("swq"), sum("wr").as("swr"))
        .select(col("doc_id"), col("nf").cast("int").as("n_feats"),
          expr("""(CAST(swq AS DECIMAL(38,0)) * 1000000000
            + CAST(swr AS DECIMAL(38,0))) div nf""").as("dsir_micro"))
    })

  /** Strided word windows as ONE codegen loop per row — spec-identical
    * to `transform(sequence(...), i => concat_ws(" ", slice(words,
    * i*stride+1, window)))` but no interpreted HOF lambda runs and the
    * `split` Catalyst inlines into a lambda body never re-executes per
    * window (that shape is O(n_windows × n_words) per doc — the
    * x_line_dedup / x_chunk quadratic, fixed for the whole windowing
    * family here). */
  private def wordWindows(words: Column, w: Int, s: Int, coverAll: Boolean): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.WordWindows(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(words), w, s, coverAll))
  /** Word k-shingles as an array column; <k words yields one shingle. */
  private def shingles(words: Column, k: Int): Column =
    wordWindows(words, k, 1, coverAll = false)
  /** Positional 48-bit window hashes as ONE codegen loop per row —
    * spec-identical to `transform(shingles(words,k), md5IdxK(_, 12))`
    * but no window string materializes and no interpreted HOF lambda
    * runs (x_dup_spans burned ~20 cpu-sec at sf0.1 in the lambda
    * interpreter; the oracles are unchanged because the hash bytes
    * are identical). */
  private def shingleHashes(words: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.ShingleHashes(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(words), k, 12))
  private def sqlShingles(w: String, k: Int): String =
    s"""list_transform(range(0, greatest(len($w) - $k, 0) + 1),
        i -> array_to_string($w[CAST(i+1 AS INT):CAST(i+$k AS INT)], ' '))"""

  /** SQL twins of [[gopherRuleFlags]]/[[gopherKeep]] — rule thresholds
    * exist ONCE per engine side; both the filter oracle and the
    * calibration oracle read these. The predicates reference the
    * columns of [[sqlGopherM]]. */
  private def sqlGopherRules: Seq[(String, String)] = Seq(
    "too_short" -> "(n < 20)",
    "too_long" -> "(n > 90)",
    "word_len" -> "(wc * 1000 < n * 3800 OR wc * 1000 > n * 5000)",
    "low_stop" -> "(n_stop < 2)",
    "repetitive" -> "((len(g) - len(list_distinct(g))) * 50 > len(g))")

  private def sqlGopherKeep: String =
    s"CASE WHEN ${sqlGopherRules.map(_._2).mkString(" OR ")} THEN 0 ELSE 1 END"

  /** The measured-features CTE body both gopher oracles share; `extra`
    * appends further select items (lateral aliases n/wc/n_stop/g are
    * in scope). */
  private def sqlGopherM(extra: String = ""): String =
    s"""SELECT doc_id,
         len(w) AS n,
         length(replace(text, ' ', '')) AS wc,
         len(list_filter(w, x -> x IN ($stopSqlList))) AS n_stop,
         ${sqlShingles("w", 3)} AS g$extra
       FROM (SELECT doc_id, text, string_split(text, ' ') AS w
             FROM documents)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // EXPLICIT text-family build — the one-time memos behind the x_*
    // probes, priced as their own entry exactly like d_build /
    // s_index_build: the corpus bigram relation (x_lm_score), the
    // hashed span windows (x_dup_spans), the line segments
    // (x_line_dedup), and the BPE merges + encoded vocab
    // (x_bpe_merges / x_bpe_encode). The builds are independent, so
    // they fan out and the entry's wall-clock is the slowest build,
    // not the sum. Returns build-size counts the oracle recomputes
    // exactly (span kinds count DISTINCT 48-bit hashes — the oracle
    // applies the same md5-prefix hash, so collisions, if any, merge
    // identically on both sides).
    "x_build" -> ((s, dir) => {
      import s.implicits._
      // on graft.Par: bounded, and its threads inherit the session and
      // local properties
      graft.Par.each(Seq[() => Seq[(String, Long)]](
        () => Seq("bigram_kinds" -> lmGrams(s, dir).select("bg").distinct().count()),
        () => Seq("span_kinds" -> spanRel(s, dir).select("span").distinct().count()),
        () => Seq("line_kinds" -> lineRel(s, dir).select("line").distinct().count()),
        () => Seq("bpe_vocab" -> bpeWtok(s, dir).count()),
        () => Seq("dsir_docs" -> dsirScores(s, dir).count()),
        () => Seq("lm_docs" -> lmScores(s, dir).count()),
        // the qclf scorer memo joined the family in round 14 (x_qclf and
        // x_qclf_auc share it) — force it on the fan-out too so x_qclf
        // prices a probe, not the hashed-ngram build; the memo
        // materializes eagerly, so no count (and no output row) is needed
        () => { qclfScored(s, dir); Nil }))(_()).flatten
        .toDF("item", "n").orderBy("item")
    }),

    // whitespace tokens + BPE-ish regex tokens + chars
    "x_token_count" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        size(wordsCol).as("n_ws"),
        size(regexp_extract_all(col("text"), lit(bpeish), lit(0))).as("n_bpe"),
        length(col("text")).as("len"))
        .orderBy("doc_id")),

    // TYPE-TOKEN RATIO — the lexical-diversity signal the Gopher
    // composite doesn't carry (x_repetition counts duplicated
    // 3-grams; TTR reads vocabulary breadth directly — template spam
    // and keyword stuffing crater it while passing length/stopword
    // gates): distinct whitespace tokens over total, integer ppm.
    // Pure per-row projection — map-only, no shuffle beyond the
    // ordered dump; the same tokenization contract as x_token_count.
    "x_ttr" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        size(wordsCol).as("n_tokens"),
        size(array_distinct(wordsCol)).as("n_types"))
        .withColumn("ttr_ppm",
          expr("CAST((1000000 * CAST(n_types AS BIGINT)) div n_tokens AS BIGINT)"))
        .orderBy("doc_id")),

    // SIMPSON DIVERSITY per source — the repeat-probability readout of
    // each source's term distribution (the collision half of the
    // diversity picture x_heaps' growth curve doesn't carry: two
    // sources can share a vocab size while one is template spam that
    // repeats its head tokens): D = Σ n_i(n_i−1) / (N(N−1)), the exact
    // probability two tokens drawn without replacement are the same
    // type — PURE INTEGER (no entropy logs, which are not bit-portable
    // across engines). Term counts map-side combine per (source,
    // term); the moment sums run in DECIMAL(38,0) (n² ≈ 1e24 at 1e12
    // tokens of one term). One |sources|-row output.
    "x_simpson" -> ((s, dir) =>
      docs(s, dir)
        .select(col("source"), explode(wordsCol).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("n"))
        .groupBy("source")
        .agg(sum("n").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(col("n").cast("decimal(38,0)") * (col("n") - 1)).as("coll"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          expr("""CAST((1000000 * coll)
            div (CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1))
            AS BIGINT)""").as("simpson_ppm"))
        .orderBy("source")),

    // HEAPS'-LAW vocabulary growth curve — the corpus-level companion
    // of x_ttr's per-doc breadth (does vocabulary keep growing with
    // ingest, or has the corpus gone derivative?): ten ingest-order
    // checkpoints (id-decile cuts off one min/max scalar broadcast),
    // each term reduced to its FIRST doc (one min aggregate over the
    // exploded distinct words), and both relations fan each row to the
    // checkpoints that cover it via the exact integer kmin =
    // ⌈10q/m⌉ = (10q+m−1) div m — floor(mk/10) ≥ q ⟺ mk ≥ 10q, so
    // the explode(sequence(kmin,10)) fan-out is the ≤10× equi-join
    // answer to "count first_ids ≤ cut_k for every k" (never an
    // inequality join, never a re-scan per checkpoint). Everything
    // downstream of the two doc scans runs at |terms| / |docs| grain
    // with map-side-combined counts.
    "x_heaps" -> ((s, dir) => {
      val ids = docs(s, dir).agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      def fan(df: DataFrame, idCol: String): DataFrame =
        df.crossJoin(broadcast(ids))
          .withColumn("q", col(idCol) - col("lo") + 1)
          .withColumn("m", col("hi") - col("lo") + 1)
          .select(col("*"),
            explode(expr("sequence((10 * q + m - 1) div m, 10L)")).as("k"))
      val first = docs(s, dir)
        .select(col("doc_id"), explode(array_distinct(wordsCol)).as("term"))
        .groupBy("term").agg(min("doc_id").as("first_id"))
      val vk = fan(first, "first_id")
        .groupBy("k").agg(count(lit(1)).as("vocab"))
      val dk = fan(docs(s, dir)
          .select(col("doc_id"), size(wordsCol).cast("long").as("nt")),
        "doc_id")
        .groupBy("k").agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      dk.join(vk, "k").crossJoin(broadcast(ids))
        .select(col("k").cast("int").as("k"),
          expr("lo + ((hi - lo + 1) * k) div 10 - 1").as("cut_id"),
          col("n_docs"), col("n_tokens"), col("vocab"))
        .orderBy("k")
    }),

    // quality score: length saturation + stopword density. Computed in
    // INTEGER micro-units with one final /1e6 — engines disagree on
    // round() tie-breaking for doubles (Spark shortest-repr HALF_UP vs
    // DuckDB multiply-and-round), so no double is ever rounded here.
    "x_quality" -> ((s, dir) => {
      val w = wordsCol
      val nWords = size(w)
      val nStop = size(filter(w, x => x.isInCollection(stopwords)))
      val nPunct = length(regexp_replace(col("text"), "[^.,;:!?]", ""))
      docs(s, dir).select(
        col("doc_id"),
        nWords.as("n_words"),
        nStop.as("n_stop"),
        (qualityMicro(nStop, nWords) / 1000000.0).as("quality"),
        (floor(nPunct * lit(1000000L) / length(col("text"))) / 1000000.0).as("punct_ratio"))
        .orderBy("doc_id")
    }),

    // BUDGET-CONSTRAINED selection — the canonical pretraining ask
    // ("give me the best 40% of tokens by quality") WITHOUT the global
    // sort it naively implies: pass 1 histograms the integer quality
    // score into 101 fixed bins (one map-side-combined agg), the
    // cutoff bin falls out of a cumulative window over the ≤101-row
    // histogram (driver-tiny — never the corpus), and pass 2 keeps
    // docs by a row-local bin compare against the broadcast cutoff.
    // The approximation bound is x_pack's: the kept set overshoots the
    // budget by at most ONE bin's tokens (the boundary bin keeps
    // whole) — the price of never globally sorting, and the same
    // two-pass threshold-from-histogram discipline q_percentile's
    // BoundedPercentile uses. All integer: the budget compare is
    // cumbefore*5 < total*2 (40%), exact at any corpus size.
    "x_token_budget" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = wordsCol
      val nWords = size(w)
      val nStop = size(filter(w, x => x.isInCollection(stopwords)))
      val base = docs(s, dir).select(col("doc_id"),
        nWords.cast("long").as("n_tokens"),
        qualityMicro(nStop, nWords).as("score_micro"))
        .withColumn("bin", expr("score_micro div 10000"))
      // the corpus total is a second window over the SAME ≤101-row
      // histogram — never a separate corpus aggregation pass (the
      // BoundedPercentile discipline: pass 1 produces everything the
      // threshold decision needs)
      val wDesc = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val bmin = base.groupBy("bin").agg(sum("n_tokens").as("btok"))
        .withColumn("cumbefore", coalesce(sum("btok").over(wDesc), lit(0L)))
        .withColumn("total", sum("btok").over(wAll))
        .filter(col("cumbefore") * 5 < col("total") * 2)
        .agg(min("bin").as("bmin"))
      base.crossJoin(broadcast(bmin))
        .select(col("doc_id"), col("n_tokens"), col("score_micro"), col("bin"),
          (col("bin") >= col("bmin")).as("kept"))
        .orderBy("doc_id")
    }),

    // language ID: stopword-marker counts, argmax w/ fixed priority.
    "x_langid" -> ((s, dir) => {
      val w = wordsCol
      def cnt(markers: Seq[String]) = size(filter(w, x => x.isInCollection(markers)))
      val cEn = cnt(Seq("the", "and", "of"))
      val cEs = cnt(Seq("el", "la", "de"))
      val cDe = cnt(Seq("der", "und", "das"))
      val cFr = cnt(Seq("le", "et", "les"))
      val g = greatest(cEn, cEs, cDe, cFr)
      docs(s, dir).select(
        col("doc_id"), col("lang"),
        when(cEn === g, "en").when(cEs === g, "es")
          .when(cDe === g, "de").otherwise("fr").as("pred_lang"))
        .orderBy("doc_id")
    }),

    // LANGUAGE-ID EVALUATION — the confusion matrix of the n-gram
    // heuristic against the corpus's labeled lang column (the eval
    // discipline every classifier here gets: x_qclf has its margin,
    // the ANN paths their recalls — this prices x_langid): per
    // (truth, predicted) cell count, row totals and cell ppm by a
    // window over the ≤|langs|² cell relation — never the corpus.
    // Reading the off-diagonal mass IS the marker-set tuning
    // decision; the aggregate is one map-side-combined pass over the
    // same per-doc prediction x_langid ships.
    "x_langid_eval" -> ((s, dir) =>
      TextAnalysis.queries("x_langid")(s, dir)
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .withColumn("row_total", sum("n").over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")))
        .withColumn("cell_ppm",
          expr("CAST((1000000 * n) div row_total AS BIGINT)"))
        .orderBy("lang", "pred_lang")),

    // fingerprint: min 48-bit hash over word 5-shingles (winnowing
    // flavor — the min-hash IS the document sketch). ShingleHashes
    // hashes every window in one codegen loop — no window string
    // materializes and no interpreted transform(md5) lambda runs; the
    // hash bytes are identical to the transform formula, so the oracle
    // is unchanged.
    "x_fingerprint" -> ((s, dir) => {
      val sh = shingleHashes(wordsCol, 5)
      docs(s, dir).select(
        col("doc_id"),
        array_min(sh).as("fp"),
        size(sh).as("n_shingles"))
        .orderBy("doc_id")
    }),

    // PII redaction — the release-gate detector set: emails, URLs,
    // phone numbers, IPv4 addresses and 16-digit card numbers replaced
    // by tags with per-kind counts; card candidates additionally run an
    // UNROLLED integer Luhn checksum (sixteen static CAST+CASE terms —
    // no interpreted lambda arithmetic) so n_cards_luhn counts only
    // checksum-valid numbers, the signal that separates a real pan
    // from a random digit run. The corpus has no PII, so deterministic
    // doc_id strata inject each kind (mirrored by the oracle; the card
    // line carries one Luhn-VALID and one Luhn-INVALID number to prove
    // the checksum discriminates). All scalar regex work — scales with
    // the scan, no shuffle but the final ordering.
    "x_redact_pii" -> ((s, dir) => {
      val t0 = col("text")
      val t1 = when(col("doc_id") % 5 === 0,
        concat(t0, lit(" contact bob@example.com or https://example.com/x")))
        .otherwise(t0)
      val t2 = when(col("doc_id") % 7 === 0,
        concat(t1, lit(" call 555-867-5309"))).otherwise(t1)
      val t3 = when(col("doc_id") % 9 === 0,
        concat(t2, lit(" from 192.168.10.42"))).otherwise(t2)
      val withPii = when(col("doc_id") % 11 === 0,
        concat(t3, lit(" card 4111111111111111 or card 4111111111111112")))
        .otherwise(t3)
      docs(s, dir).select(col("doc_id"), withPii.as("t"))
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("t"), lit(UrlRe), lit(0))).as("n_urls"),
          size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0))).as("n_phones"),
          size(regexp_extract_all(col("t"), lit(IpRe), lit(0))).as("n_ips"),
          size(regexp_extract_all(col("t"), lit(CardRe), lit(0))).as("n_cards"),
          // the SQL literal needs the backslashes doubled: Spark's SQL
          // parser processes escapes inside '...' (DuckDB's does not)
          expr(s"""size(filter(regexp_extract_all(t,
            '${CardRe.replace("\\", "\\\\")}', 0),
            c -> (${luhnSum("c")}) % 10 = 0))""").cast("int").as("n_cards_luhn"),
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(col("t"), EmailRe, "<EMAIL>"), UrlRe, "<URL>"),
            CardRe, "<CARD>"), PhoneRe, "<PHONE>"), IpRe, "<IP>")
            .as("redacted"))
        .orderBy("doc_id")
    }),

    // stratified sampling: deterministic per-language keep rates — the
    // data-mixing primitive (hash-gated, so resumable and exact).
    "x_sample_strata" -> ((s, dir) => {
      val gate = Determinism.md5Idx(concat(lit("smp#"), col("doc_id").cast("string"))) % 100
      val rate = SampleRates.foldLeft(lit(5)) { case (acc, (lang, r)) =>
        when(col("lang") === lang, r).otherwise(acc)
      }
      docs(s, dir).filter(gate < rate)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // benchmark decontamination: docs sharing any word 8-gram with the
    // benchmark set (doc_id < 10) are flagged with the overlap count.
    // N-GRAM NOVELTY — the incremental-corpus-value readout (how much
    // does each document ADD, in ingestion order?): fraction of a
    // doc's distinct 5-gram hashes whose FIRST occurrence (min doc_id
    // over the corpus) is the doc itself. The dedup-adjacent metric
    // that is NOT dedup: a doc can be no-one's duplicate yet still
    // contribute nothing new. One gram-grain shuffle with map-side
    // distinct; first-seen is a min-combine; every doc has ≥1 window
    // by the shingle floor, so the ratio never divides by zero.
    "x_novelty" -> ((s, dir) => {
      val grams = graft.operators.BoundedPercentile.memoInput(
        docs(s, dir)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            explode(array_distinct(shingleHashes(wordsCol, 5))).as("g")),
        "x")
      // a gram is novel to EXACTLY its min-doc owner, so first-seen
      // attribution is two aggregates — groupBy(g).min, then count per
      // owner — and the gram relation never re-shuffles through a
      // gram-grain join (the old shape paid the g-exchange twice plus a
      // |grams|-row join; both outputs here are |docs|-grain). Docs
      // owning no gram take nv=0 through the left join, same as the
      // old sum-of-zeros.
      val ng = grams.groupBy("doc_id").agg(count(lit(1)).as("ng"))
      val nv = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
        .groupBy("first_doc").agg(count(lit(1)).as("nv0"))
      ng.join(nv, col("doc_id") === col("first_doc"), "left")
        .select(col("doc_id"), col("ng"),
          coalesce(col("nv0"), lit(0L)).as("nv"))
        .select(col("doc_id"), col("ng").cast("int").as("n_grams"),
          col("nv").cast("int").as("n_novel"),
          expr("CAST((1000000 * nv) div ng AS BIGINT)").as("novelty_ppm"))
        .orderBy("doc_id")
    }),

    "x_contamination" -> ((s, dir) => {
      // ShingleHashes hashes the 5-gram windows in one codegen loop at
      // the scan — no window string ever materializes and only longs
      // explode. countDistinct downstream dedups, so no array_distinct.
      // spread the raw rows first: the single-row-group test files scan
      // as one task and the 5-gram md5 storm rides on the scan (same
      // A/B-measured pattern as d_simhash)
      // 5-grams against a 50-doc benchmark set: wide enough that the
      // gate has a multi-row, language-attributed answer (8-grams vs 10
      // docs matched a single doc — a one-row gate is barely a gate)
      val grams = docs(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("lang"), explode(shingleHashes(wordsCol, 5)).as("g"))
      // the benchmark gram set is 50 docs' worth — broadcast it
      // EXPLICITLY: estimated stats on the derived distinct are too
      // vague for the planner, and a sort-merge fallback would shuffle
      // the full corpus gram relation (observed 3.5x run-to-run swing)
      val bench = broadcast(grams.filter(col("doc_id") < 50)
        .select(col("g")).distinct())
      grams.filter(col("doc_id") >= 50)
        .join(bench, "g")
        .groupBy("doc_id", "lang").agg(countDistinct(col("g")).as("n_shared"))
        .orderBy("doc_id")
    }),

    // DSIR-flavored importance-weighted data selection (Xie et al.
    // 2023, "Data Selection for Language Models via Importance
    // Resampling"): score every pool document by how target-like its
    // hashed n-gram distribution is. Features are unigram + bigram
    // 48-bit hashes folded into DsirBuckets FIXED buckets; each
    // bucket's importance weight is the add-one-smoothed target/raw
    // frequency ratio in integer micro-units — DSIR's log-ratio sum
    // becomes a ratio-weight mean (same monotone flavor as x_lm_score's
    // inverse-frequency-for-log swap), so no transcendental enters the
    // compare and the ranking is bit-identical cross-engine. kept=1 is
    // the selection decision: mean importance >= 1.0 (more target-like
    // than the raw average) — a row-local gate, no global sort. Scale
    // shape: the weight table is AT MOST DsirBuckets rows whatever the
    // corpus size (the point of hashed features) so it BROADCASTS; the
    // per-doc score is one map-side-combinable aggregation over the
    // exploded feature stream. The micro-unit ratio is two chained
    // integer floor-divisions (raw_t*1e6 overflows BIGINT only past
    // ~9e12 feature occurrences — at that scale drop the 1e6 to 1e3,
    // same ranking).
    "x_dsir" -> ((s, dir) =>
      dsirScores(s, dir)
        .select(col("doc_id"), col("n_feats"), col("dsir_micro"),
          (col("dsir_micro") / 1000000.0).as("dsir"),
          when(col("dsir_micro") >= 1000000L, 1).otherwise(0)
            .cast("int").as("kept"))
        .orderBy("doc_id")),

    // the RESAMPLING half of DSIR: importance resampling as
    // deterministic priority sampling (the x_weighted_sample machinery
    // with the importance score as the weight) — k smallest
    // 48-bit-key/weight priorities = a without-replacement draw with
    // inclusion probability ∝ importance. Key and the single IEEE
    // division are exact cross-engine (both operands ≤ 2^53 integers),
    // and the global k-smallest is TakeOrdered, never a full sort.
    "x_dsir_sample" -> ((s, dir) =>
      dsirScores(s, dir)
        .select(col("doc_id"), col("dsir_micro"),
          (Determinism.md5IdxK(
              concat(lit("dsm#"), col("doc_id").cast("string")), 12).cast("double")
            / greatest(col("dsir_micro"), lit(1L)).cast("double")).as("priority"))
        .orderBy("priority", "doc_id").limit(DsirSampleK)),

    // LEARNED quality classifier — the fasttext-style linear scorer
    // production curation runs alongside the rule filter
    // (x_gopher_filter) and the importance weights (x_dsir): averaged
    // bag-of-hashed-ngrams features × an EMBEDDED integer-micro weight
    // vector (qclfWeights — the whole model is a 512-long literal
    // array, codegen element_at lookup per feature, never a join or a
    // broadcast), thresholded into keep/drop with the margin exposed
    // for calibration. Scale shape: the feature stream is the scan +
    // one explode; the per-doc mean is one map-side-combinable
    // aggregation; the model rides the closure at ANY corpus size.
    "x_qclf" -> ((s, dir) =>
      qclfScored(s, dir)
        .select(col("doc_id"), col("n_feats"), col("qclf_micro"),
          when(col("qclf_micro") >= QclfThresholdMicro, 1).otherwise(0)
            .cast("int").as("kept"),
          (col("qclf_micro") - lit(QclfThresholdMicro)).as("margin_micro"))
        .orderBy("doc_id")),

    // CLASSIFIER EVALUATION — AUC + operating point of the deployed
    // x_qclf scorer against the Gopher rule label (the weak label a
    // production curation run actually has): AUC is the Wilcoxon
    // rank-sum identity U⁺/(n⁺·n⁻) with ties as midranks — exactly
    // q_mwu's machinery pointed at (score, label) — so it needs no
    // per-row ranks: the bounded bucket-histogram prefix plus the
    // in-bucket distinct-score prefix, tie blocks contributing the
    // DOUBLED closed form ca·(2·r0+c+1). The confusion quadrant at
    // the shipped threshold rides the same scan; precision/recall/F1
    // in integer ppm with greatest(1,·) denominators so an empty
    // quadrant degrades to 0 identically in both engines (Spark div
    // NULLs on zero, DuckDB errors — neither is allowed to happen).
    // One row out; everything past the score join runs at the
    // |distinct scores| grain.
    "x_qclf_auc" -> ((s, dir) => {
      val width = 1L << 16
      val scored = graft.operators.BoundedPercentile.memoInput(
        qclfScored(s, dir)
          .join(docs(s, dir).select(col("doc_id"), gopherKeep.as("lbl")),
            "doc_id")
          .select(col("qclf_micro").as("score"), col("lbl"),
            when(col("qclf_micro") >= QclfThresholdMicro, 1L).otherwise(0L)
              .as("pred")),
        "x")
      val v = scored.withColumn("bkt", expr(s"score div ${width}L"))
        .groupBy("bkt", "score")
        .agg(count(lit(1)).as("c"), sum("lbl").as("ca"))
      val vM = graft.operators.BoundedPercentile.memoInput(v, "x")
      val hcum = vM.groupBy("bkt").agg(sum("c").as("bc"))
        .withColumn("cb",
          sum("bc").over(Window.orderBy("bkt")) - col("bc"))
      val vin = vM.withColumn("ci",
        sum("c").over(Window.partitionBy("bkt").orderBy("score")) - col("c"))
      val rank = vin.join(hcum.select("bkt", "cb"), "bkt")
        .withColumn("r0", col("cb") + col("ci"))
        .agg(sum("ca").as("n_pos"), sum(col("c") - col("ca")).as("n_neg"),
          sum(col("ca").cast("decimal(38,0)")
            * (lit(2) * col("r0") + col("c") + 1)).as("r2p"))
        .select(col("n_pos"), col("n_neg"),
          expr("""CAST((1000000 * (r2p - n_pos * (CAST(n_pos AS DECIMAL(38,0)) + 1)))
            div (2 * greatest(1, CAST(n_pos AS DECIMAL(38,0)) * n_neg))
            AS BIGINT)""").as("auc_ppm"))
      val conf = scored.agg(
        sum(col("lbl") * col("pred")).as("tp"),
        sum((lit(1L) - col("lbl")) * col("pred")).as("fp"),
        sum(col("lbl") * (lit(1L) - col("pred"))).as("fn"),
        sum((lit(1L) - col("lbl")) * (lit(1L) - col("pred"))).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          expr("CAST((1000000 * tp) div greatest(1, tp + fp) AS BIGINT)")
            .as("precision_ppm"),
          expr("CAST((1000000 * tp) div greatest(1, tp + fn) AS BIGINT)")
            .as("recall_ppm"))
        .withColumn("f1_ppm",
          expr("""CAST((2 * precision_ppm * recall_ppm)
            div greatest(1, precision_ppm + recall_ppm) AS BIGINT)"""))
      rank.crossJoin(broadcast(conf)) // 1×1-row scalar attach
    }),

    // chunking: 50-token windows, stride 40 (10-token overlap) — the
    // pretraining tokenize-and-pack precursor. WordWindows builds every
    // window in one codegen loop per doc; the transform/slice lambda
    // it replaces re-executed the inlined split per chunk element —
    // O(n_chunks × n_words) per doc (the x_line_dedup bug class).
    "x_chunk" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          posexplode(wordWindows(wordsCol, 50, 40, coverAll = true))
            .as(Seq("chunk_id", "chunk")))
        .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
          col("chunk"),
          size(split(col("chunk"), " ")).as("n_tokens"))
        .orderBy("doc_id", "chunk_id")),

    // T5-STYLE SPAN CORRUPTION — the pretraining-example constructor
    // for denoising objectives: ~1/MaskGateMod of positions open a
    // MaskSpanW-word span by a deterministic hash gate (retry-stable,
    // incremental-safe — appending docs never re-masks old ones),
    // overlapping spans merge by coverage union, and each maximal run
    // becomes one <extra_id_k> sentinel: input keeps the sentinel
    // where the span was, target pairs each sentinel with the masked
    // words. Entirely row-local until the per-doc reassembly window —
    // no join, no corpus-wide state; positional reassembly is the
    // x_span_strip idiom (sorted collect per doc, never a global
    // sort). Span stats ride along so the noise density is auditable.
    "x_mask_spans" -> ((s, dir) => {
      val words = docs(s, dir)
        .select(col("doc_id"), posexplode(wordsCol).as(Seq("pos", "word")))
      val starts = words.filter(
        Determinism.md5Idx(concat(lit("msk#"), col("doc_id").cast("string"),
          lit("#"), col("pos").cast("string"))) % MaskGateMod === 0)
        .select(col("doc_id"), explode(sequence(col("pos"),
          col("pos") + MaskSpanW - 1)).as("pos"))
        .distinct()
      val wD = Window.partitionBy("doc_id").orderBy("pos")
      val flags = words
        .join(starts.withColumn("cv", lit(true)), Seq("doc_id", "pos"), "left")
        .withColumn("cov", coalesce(col("cv"), lit(false)))
        .withColumn("st",
          col("cov") && !coalesce(lag(col("cov"), 1).over(wD), lit(false)))
        .withColumn("k", sum(col("st").cast("int")).over(wD))
      val sentinel = concat(lit("<extra_id_"),
        (col("k") - 1).cast("string"), lit(">"))
      val inTok = when(!col("cov"), col("word")).when(col("st"), sentinel)
      val tgTok = when(col("cov"), concat(
        when(col("st"), concat(sentinel, lit(" "))).otherwise(lit("")),
        col("word")))
      flags.groupBy("doc_id").agg(
          count(lit(1)).cast("int").as("n_words"),
          sum(col("st").cast("int")).cast("int").as("n_spans"),
          sum(col("cov").cast("int")).cast("int").as("n_masked"),
          concat_ws(" ", transform(array_sort(collect_list(
            when(inTok.isNotNull, struct(col("pos"), inTok.as("t"))))),
            p => p.getField("t"))).as("input_text"),
          concat_ws(" ", transform(array_sort(collect_list(
            when(tgTok.isNotNull, struct(col("pos"), tgTok.as("t"))))),
            p => p.getField("t"))).as("target_text"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition filter input: within-doc duplicate 3-gram
    // fraction (1 - distinct/total). High dup_frac = boilerplate /
    // degenerate text. Pure scalar pipeline — scales with the scan;
    // the ratio uses the integer-micro-unit formula (one final
    // division) so both engines produce the identical double.
    "x_repetition" -> ((s, dir) => {
      val g = shingles(wordsCol, 3)
      docs(s, dir).select(col("doc_id"),
          size(g).cast("int").as("n_grams"),
          size(array_distinct(g)).cast("int").as("n_distinct"),
          (floor((size(g) - size(array_distinct(g))).cast("long") * 1000000L
            / size(g)) / 1000000.0).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // Gopher-rules composite filter — the keep/drop DECISION of a
    // curation run (Rae et al. 2021 flavor), not just the signals:
    // word-count bounds, mean-word-length band, stopword floor, and
    // the duplicate-3-gram ceiling evaluate per doc; a dropped doc
    // carries machine-readable reason codes in rule order (the audit
    // trail a 100 TB run needs to explain its kept-mass delta). Every
    // rule is integer cross-multiplication — no division, no float, so
    // the decision is bit-identical cross-engine. Pure scalar pipeline:
    // scales with the scan, no shuffle at all before the gate sort.
    "x_gopher_filter" -> ((s, dir) =>
      gopherFilter(docs(s, dir)).orderBy("doc_id")),

    // FILTER CALIBRATION curve — the threshold-tuning audit a curation
    // run reads before moving a cut line: the heuristic quality score
    // (x_quality's integer-micro numerator) banded into fixed tenths,
    // per-band gopher keep rate. A healthy filter's keep rate rises
    // monotonically with the score band; a flat or inverted curve
    // means the two signals disagree and one of them is broken. Both
    // signals are row-local, so ONE scan computes score and verdict
    // side by side (a doc_id self-join here would shuffle the corpus
    // twice for nothing); the output is ≤11 bands whatever the corpus.
    "x_quality_calib" -> ((s, dir) => {
      val nStop = size(filter(wordsCol, x => x.isInCollection(stopwords)))
      docs(s, dir).select(
          qualityMicro(nStop, size(wordsCol)).as("qmicro"),
          gopherKeep.as("keep"))
        .withColumn("band", expr("CAST(qmicro div 100000 AS INT)"))
        .groupBy("band").agg(count(lit(1)).as("n_docs"),
          sum(col("keep").cast("long")).as("n_keep"))
        .select(col("band"), col("n_docs"), col("n_keep"),
          expr("(1000000 * CAST(n_keep AS DECIMAL(38,0))) div n_docs")
            .as("keep_rate_micro"))
        .orderBy("band")
    }),

    // corpus card: the per-source summary a curation run reports before
    // and after filtering — volume, token mass, vocabulary size,
    // character mass, language spread. One scan feeds a per-source
    // rollup plus an exact vocabulary count (explode → distinct); at
    // 100 TB the vocab column is the expensive one — swap its
    // countDistinct for approx_count_distinct when a ±2% estimate is
    // acceptable, the rest is map-side-combined aggregation.
    "x_corpus_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(size(wordsCol)).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"))
      val vocab = d.select(col("source"), explode(wordsCol).as("w"))
        .groupBy("source").agg(countDistinct(col("w")).as("n_vocab"))
      base.join(vocab, "source")
        .select("source", "n_docs", "n_tokens", "n_vocab", "n_chars",
          "avg_chars", "n_langs")
        .orderBy("source")
    }),

    // bigram-LM quality score — the CCNet/KenLM perplexity-filter role
    // expressed hash-exact: pass 1 counts every bigram occurrence in
    // the corpus; pass 2 scores each doc by the mean INVERSE corpus
    // frequency of its bigrams, in integer micro-units (1e6 div count,
    // summed, one floor division) so no log/float enters the compare.
    // Rare-bigram-heavy docs score high (unusual text), boilerplate
    // scores near zero — same ranking, monotone in place of log. The
    // bigram lookup key is Zipf-skewed, so the count join is SALTED
    // exactly like the x_top_terms df join (count side replicates
    // 8-fold; never broadcast — the bigram table grows with the corpus).
    "x_lm_score" -> ((s, dir) =>
      // the per-doc accumulators memoize ([[lmScores]], priced by
      // x_build): this probe is a projection of the cached relation
      lmScores(s, dir)
        .select(col("doc_id"), col("nb").cast("int").as("n_bigrams"),
          (expr("sx div nb") / 1000000.0).as("lm_score"))
        .orderBy("doc_id")),

    // CCNet-style corpus split (Wenzek et al. 2020): per LANGUAGE,
    // divide documents into head/middle/tail thirds of the LM score
    // distribution (CCNet buckets on KenLM perplexity; here the same
    // integer bigram-rarity proxy x_lm_score ranks by — low score =
    // fluent/common text = head). The scale-critical piece is the
    // THRESHOLD computation: no per-language global sort. Scores fold
    // to kilo-unit buckets (≤ ~1001 distinct values — fixed whatever
    // the corpus size), one map-side-combined groupBy builds the
    // (lang, bucket) histogram, a window over that TINY relation
    // yields cumulative counts, and the tercile cuts are min-bucket
    // predicates (3·cum ≥ n, 3·cum ≥ 2n — exact integer ceil
    // semantics). Docs then label via one broadcast join on lang:
    // one pass over the scored corpus, thresholds from a
    // histogram that would fit on a postcard at 100 TB.
    "x_ccnet_buckets" -> ((s, dir) => {
      val scored = lmScores(s, dir)
        .select(col("doc_id"), expr("(sx div nb) div 1000").as("lm_kilo"))
      val db = docs(s, dir).select(col("doc_id"), col("lang"))
        .join(scored, "doc_id")
      ccnetSplit(db).orderBy("doc_id")
    }),

    // BPE merge learning — tokenizer training on the corpus the model
    // will train on: top-10 merges by frequency-weighted adjacent-pair
    // count over the word-frequency table (corpus collapses to distinct
    // words + counts first; all iterations run vocab-sized). The k
    // iterated argmax + greedy re-merge steps unroll into k chained
    // CTE stages ([[sqlBpeMerges]]) for the DuckDB oracle;
    // BpeVocabSpec's naive-reference equivalence additionally holds
    // ties, the overlap rule, and weighting.
    "x_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      bpeMerges(s, dir)
        .zipWithIndex
        .map { case ((l, r, c), i) => (i + 1, l, r, c) }
        .toDF("rank", "left", "right", "cnt")
    }),

    // BPE ENCODE — apply the learned merges to the corpus and report
    // tokens-per-document + chars-per-token (the tokenizer-compression
    // quality signal modern curation stacks filter on: text a trained
    // tokenizer compresses poorly is noise/garble). Scale shape mirrors
    // training: the corpus collapses to DISTINCT words, each distinct
    // word is encoded ONCE by a chain of k codegen'd replace() calls
    // over the separator-wrapped form (the same wrapped-replace =
    // greedy-non-overlapping-merge rule the x_bpe_merges oracle is
    // built on — no lambda, no UDF), and per-doc totals come from a
    // SALTED vocab join (word keys are Zipf-skewed). At 100 TB the
    // encode term is vocab-sized; only the join scales with the corpus.
    "x_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      val dw = d.select(col("doc_id"), explode(wordsCol).as("w"))
        .filter(length(col("w")) > 0)
      val wtok = bpeWtok(s, dir)
      graft.operators.SkewJoin.salted(dw, wtok, key = "w", uniqueCol = "doc_id")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_words"),
          sum("n_tok").cast("long").as("n_tokens"),
          sum(length(col("w"))).cast("long").as("ncp"))
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          (expr("(ncp * 1000000) div n_tokens") / 1000000.0).as("chars_per_token"))
        .orderBy("doc_id")
    }),

    // TOKENIZER FERTILITY by language — the standard tokenizer-eval
    // metric (mean BPE tokens per word, per language): a tokenizer
    // trained on a mixed corpus over-fragments its minority languages,
    // and this is the audit that prices it. Rides the memoized
    // distinct-word vocab (bpeWtok — zero re-training, zero re-encode)
    // through the same salted word join as x_bpe_encode, then one
    // per-language aggregate; fertility and chars-per-token in integer
    // micro-units. Cost on top of the standing vocab: one doc-words
    // explode + |langs| aggregate rows.
    "x_fertility" -> ((s, dir) => {
      val dw = docs(s, dir)
        .select(col("lang"), col("doc_id"), explode(wordsCol).as("w"))
        .filter(length(col("w")) > 0)
      // DECIMAL(38,0) sums: these are per-language CORPUS totals, and
      // (n_tokens * 1e6) in plain longs wraps silently past ~9e12
      // tokens — far below the design point.
      graft.operators.SkewJoin.salted(dw, bpeWtok(s, dir),
          key = "w", uniqueCol = "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_tok").cast("decimal(38,0)")).as("toks"),
          sum(length(col("w")).cast("decimal(38,0)")).as("cp"))
        .select(col("lang"), col("n_words"),
          col("toks").cast("long").as("n_tokens"),
          expr("CAST((toks * 1000000) div n_words AS BIGINT)")
            .as("fertility_micro"),
          expr("CAST((cp * 1000000) div toks AS BIGINT)").as("cpt_micro"))
        .orderBy("lang")
    }),

    // cross-document duplicated-span detection (the exact-substring
    // dedup signal of Lee et al. 2022, "Deduplicating Training Data
    // Makes Language Models Better"): every doc explodes to its
    // SpanW-word windows (stride 1), a window present in >= 2 DISTINCT
    // documents is a duplicated span, and each doc reports how much of
    // it is covered by such spans. Distinct from x_repetition
    // (within-doc) and x_contamination (vs a benchmark set): this is
    // corpus-internal copy detection. The window df aggregation is
    // map-side combined and the df lookup join is SALTED — a viral
    // paragraph is the textbook hot key.
    "x_dup_spans" -> ((s, dir) =>
      dupSpansFrom(spanRel(s, dir)).orderBy("doc_id")),

    // exact-substring dedup REMOVAL (the other half of x_dup_spans,
    // completing the Lee et al. operator): every duplicated window
    // keeps exactly one owner copy — the MINIMUM doc_id containing it,
    // a deterministic choice both engines agree on — and every other
    // doc drops the window's word positions (overlapping windows union
    // their coverage), then reassembles in original position order.
    // One doc can own one span and lose another; a doc that only
    // repeats ITSELF keeps everything (cross-doc df gate, same as
    // x_dup_spans).
    "x_span_strip" -> ((s, dir) => spanStrip(
      docs(s, dir).repartition(s.sparkContext.defaultParallelism))
      .orderBy("doc_id")),

    // line-level exact dedup (C4/RefinedWeb boilerplate strip): explode
    // every document into normalized lines, count each line's DOCUMENT
    // frequency across the corpus, drop lines appearing in more than
    // LineDfMax documents (cookie banners, nav bars, license headers),
    // and reassemble each document from its kept lines in original
    // position order. This corpus has no newlines, so a "line" is a
    // non-overlapping LineSeg-word segment (the segmentation is the
    // pluggable part — a web corpus splits on '\n'; the df-count /
    // threshold-drop / positional-reassembly pipeline is the operator).
    // Scale shape: the df aggregation is map-side combined; the df
    // lookup join is SALTED like x_lm_score's (boilerplate lines are
    // the textbook hot key — millions of docs share one banner line),
    // and reassembly is a per-doc sort of kept positions, never a
    // global sort.
    "x_line_dedup" -> ((s, dir) =>
      lineDedupFrom(lineRel(s, dir)).orderBy("doc_id")),

    // TF-IDF-style top terms: two-pass corpus computation (per-doc term
    // frequency + corpus document frequency) joined and ranked. Ranked
    // by the INTEGER key (tf DESC, df ASC, term) — "frequent in doc,
    // rare in corpus" — so no transcendental (ln) enters the compare.
    "x_top_terms" -> ((s, dir) => {
      val terms = docs(s, dir)
        .select(col("doc_id"), explode(wordsCol).as("term"))
        .filter(!col("term").isInCollection(stopwords) && length(col("term")) >= 3)
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      // the term join key is Zipf-skewed (a hot term has one tf row per
      // containing doc), so the df lookup joins SALTED: each hot term
      // spreads over 8 reducers and the vocabulary-sized df side
      // replicates 8-fold — still shuffle-sized, never a broadcast
      // (vocabulary grows with the corpus; broadcasting it is the same
      // fixed-resource-vs-growing-data trap as a modulo centroid set)
      graft.operators.SkewJoin.salted(tf, df, key = "term", uniqueCol = "doc_id")
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df")
        .orderBy("doc_id", "rank")
    }),

    // COUNT-MIN sketch heavy hitters — the fixed-memory streaming
    // sibling of x_top_terms' exact counts: CmsD hash rows × CmsW
    // buckets (a CONSTANT-size table whatever the corpus — the whole
    // point of the sketch), counts folded per (row, bucket), estimate
    // = min over rows, one-sided error (est ≥ true, never under).
    // Built from the per-term count relation, not the raw token
    // stream — hashing |vocab| rows instead of |tokens| rows; the
    // term-count aggregation subtree feeds both the sketch fold and
    // the exact top-10 probe set (ReusedExchange dedups the shared
    // shuffle). The probe joins the top terms' CmsD positions against
    // the ≤ CmsD·CmsW-row sketch — broadcast-sized by construction.
    // The `over` column prices the collision error the fixed memory
    // bought; the oracle reproduces sketch AND estimates exactly.
    "x_cms_terms" -> ((s, dir) => {
      val tc = docs(s, dir)
        .select(explode(wordsCol).as("term"))
        .filter(!col("term").isInCollection(stopwords) && length(col("term")) >= 3)
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      def pos(i: Int, c: Column): Column =
        Determinism.md5Idx(concat(lit(s"cms$i#"), c)) % CmsW
      val cms = tc.select(col("cnt"),
          explode(array((0 until CmsD).map(i =>
            struct(lit(i).as("i"), pos(i, col("term")).as("pos"))): _*)).as("b"))
        .groupBy(col("b.i").as("i"), col("b.pos").as("pos"))
        .agg(sum("cnt").as("c"))
      val top = tc.orderBy(col("cnt").desc, col("term").asc).limit(10)
        .select(col("term"), col("cnt").as("true_cnt"))
      val est = broadcast(top)
        .select(col("term"), col("true_cnt"),
          explode(array((0 until CmsD).map(i =>
            struct(lit(i).as("i"), pos(i, col("term")).as("pos"))): _*)).as("b"))
        .select(col("term"), col("true_cnt"),
          col("b.i").as("i"), col("b.pos").as("pos"))
        .join(cms, Seq("i", "pos"))
        .groupBy("term", "true_cnt").agg(min("c").as("est_cnt"))
      est.select(col("term"), col("true_cnt"), col("est_cnt"),
          (col("est_cnt") - col("true_cnt")).as("over"))
        .orderBy(col("true_cnt").desc, col("term").asc)
    }),

    // BLOOM-filter membership — the approximate set-membership
    // primitive an incremental ingest gates on ("have I seen this
    // document before?") priced with EXACT false-positive accounting:
    // the member set is every doc's text, the filter is BloomK
    // md5-derived positions per key into a BloomM-bit space (held as
    // a distinct-position relation — the relational stand-in for the
    // real bitmap artifact; ≤ BloomM rows, broadcast-sized by
    // construction), and the probe set pairs every 10th doc's real
    // text (present) with a perturbed variant (novel). Membership =
    // all BloomK positions set; ground truth joins on md5(key) — a
    // fixed-width hash, never the raw string, so the truth join
    // shuffles 32-char keys at any corpus size. No false negative is
    // possible by construction; is_fp counts the collisions the
    // BloomM/BloomK sizing bought (FP rate ≈ fill^BloomK — at the
    // bench scale the filter runs ~37% full, FP ≈ 5%, and real FPs
    // appear; the smaller scales leave it near-empty and FP-free).
    "x_bloom_membership" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      def pos(c: Column): Column =
        explode(array((0 until BloomK).map(j =>
          Determinism.md5Idx(concat(lit(s"bl$j#"), c)) % BloomM): _*))
      val bits = d.select(pos(col("text")).as("pos")).distinct()
      val probes = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), explode(array(
          struct(lit("novel").as("kind"),
            concat(col("text"), lit("~novel")).as("key")),
          struct(lit("present").as("kind"), col("text").as("key")))).as("p"))
        .select(col("doc_id"), col("p.kind").as("kind"), col("p.key").as("key"))
      val hits = probes.select(col("doc_id"), col("kind"), pos(col("key")).as("pos"))
        .join(bits, Seq("pos"))
        .groupBy("doc_id", "kind").agg(count(lit(1)).as("nhit"))
      val corpusKeys = d.select(md5(col("text").cast("binary")).as("kh"))
        .distinct().withColumn("inc", lit(1))
      probes.join(hits, Seq("doc_id", "kind"), "left")
        .withColumn("kh", md5(col("key").cast("binary")))
        .join(corpusKeys, Seq("kh"), "left")
        .select(col("doc_id"), col("kind"),
          (coalesce(col("nhit"), lit(0L)) === BloomK).as("bloom_member"),
          col("inc").isNotNull.as("true_member"),
          (coalesce(col("nhit"), lit(0L)) === BloomK && col("inc").isNull).as("is_fp"))
        .orderBy("doc_id", "kind")
    })
  )

  /** x_cms_terms: sketch rows × buckets (CONSTANT size in the corpus). */
  private[graft] val CmsD = 4
  private[graft] val CmsW = 1024
  /** x_bloom_membership: bit-space size / hashes per key. */
  private[graft] val BloomM = 32768
  private[graft] val BloomK = 3
  /** x_mask_spans: 1/gate-mod of positions start a span / span words. */
  private[graft] val MaskGateMod = 20
  private[graft] val MaskSpanW = 3

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"
  private val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  private val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val CardRe = "\\b[0-9]{16}\\b"

  /** Unrolled Luhn checksum over a 16-digit string expression `v` —
    * sixteen static CAST+CASE terms (digit k from the LEFT of a
    * 16-char string sits at even position from the right exactly when
    * k is odd, so odd-k digits double, subtracting 9 past 9 via the
    * d >= 5 branch). Pure integer SQL both engines parse identically —
    * no lambda-interpreted arithmetic, no string reversal. */
  private def luhnSum(v: String): String =
    (1 to 16).map { k =>
      val d = s"CAST(substring($v, $k, 1) AS INT)"
      if (k % 2 == 1) s"(CASE WHEN $d >= 5 THEN 2 * $d - 9 ELSE 2 * $d END)"
      else d
    }.mkString(" + ")
  /** x_line_dedup: words per synthesized "line" / max document
    * frequency a line may have and still be kept (df > LineDfMax =
    * boilerplate, dropped). */
  private[queries] val LineSeg = 4
  private[queries] val LineDfMax = 2
  /** x_dup_spans: words per window. Lee et al. use 50 BPE tokens on web
    * text; 13 words scales that to this corpus's 20-80-word docs. */
  private[queries] val SpanW = 13

  /** Per-language head/middle/tail tercile split of `db` = (doc_id,
    * lang, lm_kilo). Thresholds t1/t2 are the smallest bucket whose
    * per-language cumulative histogram count reaches ceil(n/3) /
    * ceil(2n/3) (3·cum ≥ n integer form); ties share a label, so the
    * split is deterministic with no row-order dependence. The window
    * runs over the HISTOGRAM (≤ ~1001 rows per language), never the
    * corpus; labeling is one broadcast join. CcnetSpec holds this equal
    * to the naive sorted-scores cut, including tie pile-ups. */
  private[graft] def ccnetSplit(db: DataFrame): DataFrame = {
    val hist = db.groupBy("lang", "lm_kilo").agg(count(lit(1)).as("hc"))
    val cum = hist.withColumn("cum",
      sum("hc").over(Window.partitionBy("lang").orderBy("lm_kilo")))
    // per-language totals off the HISTOGRAM (≤1001 rows/lang), not a
    // second aggregation of the corpus-sized scored relation
    val tot = hist.groupBy("lang").agg(sum("hc").as("nl"))
    val th = cum.join(tot, "lang")
      .groupBy("lang")
      .agg(min(when(col("cum") * 3 >= col("nl"), col("lm_kilo"))).as("t1"),
        min(when(col("cum") * 3 >= col("nl") * 2, col("lm_kilo"))).as("t2"))
    db.join(broadcast(th), "lang")
      .select(col("doc_id"), col("lang"), col("lm_kilo"),
        when(col("lm_kilo") <= col("t1"), "head")
          .when(col("lm_kilo") <= col("t2"), "middle")
          .otherwise("tail").as("split"))
  }

  /** x_dsir: hashed-feature space size (DSIR hashes n-grams into a
    * FIXED bucket count, which is what makes the weight table
    * broadcastable at any corpus size) and the target-corpus id bound
    * (doc_id < DsirBench plays the high-quality target the importance
    * ratio aims at — the same held-out convention as x_contamination). */
  private[queries] val DsirBuckets = 4096
  private[queries] val DsirBench = 50
  /** x_dsir_sample: resample size (k smallest priorities). */
  private[queries] val DsirSampleK = 25

  /** x_qclf: hashed-feature dimensionality of the embedded linear
    * quality model — FIXED whatever the corpus (the x_dsir bucket
    * trick), so the whole model is [[qclfWeights]] and never a join. */
  private[queries] val QclfBuckets = 512
  private[queries] val QclfThresholdMicro = 1000000L

  /** Scalar (per-row) form of the x_qclf scorer for STREAMS: the same
    * hashed unigram+bigram feature mean over the embedded weight
    * vector, computed as ONE higher-order fold instead of
    * explode+groupBy — STATELESS on a stream, so the quality gate
    * runs in append mode with no state store. The interpreted-lambda
    * fold is the accepted delta-side trade (the streamBands
    * contract); batch entries keep the codegen explode+groupBy path.
    * Returns struct(nf, sw) — score = sw div nf, the x_qclf contract. */
  private[queries] def qclfParts(words: Column): Column = {
    val feats = concat(shingleHashes(words, 1), shingleHashes(words, 2))
    struct(
      size(feats).cast("long").as("nf"),
      aggregate(feats, lit(0L), (acc, h) =>
        acc + element_at(lit(qclfWeights),
          (pmod(h, lit(QclfBuckets.toLong)) + 1).cast("int"))).as("sw"))
  }
  /** The embedded "trained" fasttext-style linear model: one integer
    * micro-unit weight per hashed unigram/bigram bucket. Weights are
    * derived deterministically (jvmMd5Idx — the benfordPpm pattern:
    * ONE Scala table feeds both the Column tree and the oracle SQL);
    * the buckets of the stopword unigrams carry a +0.8 boost, so the
    * score correlates with natural-prose stopword mass the way a
    * fluency-trained classifier does (hash collisions boost whatever
    * else shares those buckets — exactly how hashed linear models
    * behave in production). All weights are NONNEGATIVE by
    * construction: the per-doc mean stays in truncating-division
    * agreement across engines (Spark `div` truncates toward zero,
    * DuckDB `//` floors — they only agree at ≥ 0). */
  /** Per-doc classifier readout (doc_id, n_feats, qclf_micro) — the
    * ONE scorer x_qclf ships and x_qclf_auc grades; a copy in the eval
    * would let it silently grade a different model than the deployed
    * one (the gopherRuleFlags sharing rule). Named memo (round 14 OPT):
    * x_qclf and x_qclf_auc each re-ran the full hashed-ngram explode
    * (~8 cpu-s apiece, the two entries' whole cost); the scorer now
    * materializes once per (session, corpus) and the eval reads the
    * |docs|-row checkpoint. */
  private def qclfScored(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "x", "x:qclf_scored", dir)(xFrame(s, "x:qclf_scored") {
      docs(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(concat(shingleHashes(wordsCol, 1), shingleHashes(wordsCol, 2)))
            .as("h"))
        .select(col("doc_id"),
          element_at(lit(qclfWeights),
            (pmod(col("h"), lit(QclfBuckets.toLong)) + 1).cast("int")).as("wm"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nf"), sum("wm").as("sw"))
        .select(col("doc_id"), col("nf").cast("int").as("n_feats"),
          expr("sw div nf").as("qclf_micro"))
    })

  private[graft] val qclfWeights: Array[Long] = {
    val boosted = stopwords
      .map(w => Determinism.jvmMd5Idx(w, 12) % QclfBuckets).toSet
    Array.tabulate(QclfBuckets) { b =>
      Determinism.jvmMd5Idx(s"qw#$b", 12) % 1200001L +
        (if (boosted(b.toLong)) 800000L else 0L)
    }
  }

  /** Gopher-rules core shared by the x_gopher_filter gate query and
    * GopherFilterSpec: per doc (n_words, keep, reasons) with
    * machine-readable reason codes in fixed rule order. Every rule is
    * integer cross-multiplication — no division, no float — so the
    * keep/drop decision is bit-identical cross-engine. Row-local
    * scalar pipeline: no join, no aggregation, scales with the scan. */
  /** The five gopher rule flags over (text, wordsCol) — the single
    * place the thresholds exist; the filter query and the calibration
    * curve both read them (a copy in either would let the curve
    * silently calibrate against a different filter than the one
    * deployed). */
  private def gopherRuleFlags: Seq[(String, Column)] = {
    val w = wordsCol
    val n = size(w)
    val wc = length(translate(col("text"), " ", ""))
    val nStop = size(filter(w, x => x.isInCollection(stopwords)))
    val g = shingles(w, 3)
    Seq(
      "too_short" -> (n < 20),
      "too_long" -> (n > 90),
      "word_len" -> ((wc * 1000L < n * 3800L) || (wc * 1000L > n * 5000L)),
      "low_stop" -> (nStop < 2),
      "repetitive" ->
        ((size(g) - size(array_distinct(g))).cast("long") * 50L > size(g)))
  }

  /** The keep/drop decision Column of the gopher rules. */
  private def gopherKeep: Column =
    when(gopherRuleFlags.map(_._2).reduce(_ || _), 0).otherwise(1).cast("int")

  private[graft] def gopherFilter(d: DataFrame): DataFrame = {
    val reasons = concat_ws(",",
      gopherRuleFlags.map { case (nm, c) => when(c, nm) }: _*)
    d.select(col("doc_id"),
      size(wordsCol).cast("int").as("n_words"),
      gopherKeep.as("keep"),
      when(reasons === "", "ok").otherwise(reasons).as("reasons"))
  }

  /** Span-strip core shared by the x_span_strip gate query and
    * SpanStripSpec: per input doc_id, (n_words, n_removed, cleaned)
    * under the owner-keeps contract — a window in >= 2 distinct docs
    * is removed from every doc EXCEPT the minimum doc_id containing
    * it. Coverage explodes each flagged window to its w positions and
    * unions them (distinct), so overlapping flagged windows never
    * double-remove; reassembly is a per-doc sort of kept positions,
    * never a global sort. Scale shape: spans/words relations are
    * corpus-sized but carry (long, long) keys; the span-stat join is
    * SALTED on the hashed window key (hot key = viral paragraph). */
  private[graft] def spanStrip(d: DataFrame, w: Int = SpanW): DataFrame = {
    val spans = d
      .select(col("doc_id"), posexplode(shingleHashes(wordsCol, w)).as(Seq("pos", "g")))
    val agg = spans.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("df"), min("doc_id").as("owner"))
    val cov = graft.operators.SkewJoin.salted(spans, agg, key = "g", uniqueCol = "doc_id")
      .filter(col("df") >= 2 && col("doc_id") =!= col("owner"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + w - 1)).as("pos"))
      .distinct()
    val words = d.select(col("doc_id"), posexplode(wordsCol).as(Seq("pos", "word")))
    words.join(cov.withColumn("rm", lit(true)), Seq("doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_words"),
        sum(when(col("rm"), 1).otherwise(0)).cast("int").as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("rm").isNull, struct(col("pos"), col("word"))))),
          p => p.getField("word"))).as("cleaned"))
  }

  /** Duplicated-span core shared by the x_dup_spans gate query and
    * DupSpansSpec: per input doc_id, (n_spans, n_dup, dup_frac) over
    * SpanW-word stride-1 windows, where a window is duplicated iff it
    * occurs in >= 2 distinct documents. Input needs (doc_id, text). */
  private[graft] def dupSpans(d: DataFrame, w: Int = SpanW): DataFrame =
    // hash the windows to 48-bit longs AT THE SCAN (ShingleHashes, one
    // codegen loop per row — no window string ever materializes, no
    // interpreted HOF lambda): the df aggregation and the join back
    // then shuffle/compare longs, not ~100-char strings — at corpus
    // scale the window relation is the biggest thing this query moves
    dupSpansFrom(d
      .select(col("doc_id"), explode(shingleHashes(wordsCol, w)).as("span")))

  private[graft] def dupSpansFrom(spans: DataFrame): DataFrame = {
    val df = spans.groupBy("span").agg(countDistinct(col("doc_id")).as("df"))
    graft.operators.SkewJoin.salted(spans, df, key = "span", uniqueCol = "doc_id")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_spans"),
        sum(when(col("df") >= 2, 1).otherwise(0)).cast("int").as("n_dup"))
      .select(col("doc_id"), col("n_spans"), col("n_dup"),
        (expr("(n_dup * 1000000) div n_spans") / 1000000.0).as("dup_frac"))
  }

  /** Learned BPE merges, memoized per (session, corpus): x_bpe_encode
    * and x_bpe_merges consume the same training run — one session pays
    * the k iterated argmax jobs once. The cell holds a driver-side Seq
    * (metadata, like the argmax rows it came from), so release is just
    * the map entry. */
  private def bpeMerges(s: SparkSession, dir: String): Seq[(String, String, Long)] =
    graft.CacheBook.memo(s, "x", "bpe_merges", dir) {
      graft.operators.BpeVocab.learn(docs(s, dir), "text", 10)
    }

  /** Separator character wrapping each BPE symbol in the string-encoded
    * form — absent from the corpus, so replace() on the wrapped pair
    * can only match at whole-symbol boundaries. Same trick as the
    * [[sqlBpeMerges]] oracle, here on the Spark side. */
  private val BpeSep = "\u001F"

  /** Encode each distinct word by the learned merges: initial symbols
    * are CODE POINTS ("(?s)." matches one code point — a supplementary
    * char is one symbol, matching [[graft.operators.BpeVocab]]), each
    * merge is one codegen'd replace() over the separator-wrapped form
    * (left-to-right resume-after-replacement IS the greedy
    * non-overlapping merge rule; BpeEncodeSpec holds equivalence with
    * mergePair on the overlap cases), and the token count is the
    * separator count / 2 — every token is wrapped exactly once. */
  private[graft] def bpeWordTokens(
      words: DataFrame, merges: Seq[(String, String, Long)]): DataFrame = {
    val wrapped0 = concat(lit(BpeSep),
      array_join(regexp_extract_all(col("w"), lit("(?s)."), lit(0)), BpeSep + BpeSep),
      lit(BpeSep))
    val encoded = merges.foldLeft(wrapped0) { case (c, (l, r, _)) =>
      call_function("replace", c,
        lit(BpeSep + l + BpeSep + BpeSep + r + BpeSep), lit(BpeSep + l + r + BpeSep))
    }
    words.select(col("w"),
      ((length(encoded) - length(translate(encoded, BpeSep, ""))) / 2)
        .cast("int").as("n_tok"))
  }

  /** Line-dedup core shared by the x_line_dedup gate query and
    * CuratePipeline's boilerplate-strip stage: per input doc_id,
    * (n_lines, n_kept, cleaned) with kept lines reassembled in
    * original position order. Input needs (doc_id, text). */
  def lineDedup(d: DataFrame, seg: Int = LineSeg, dfMax: Int = LineDfMax): DataFrame =
    lineDedupFrom(linesOf(d, seg), dfMax)

  /** The (doc_id, pos, line) relation lineDedup consumes: every doc's
    * non-overlapping seg-word lines, built by
    * [[graft.functions.WordWindows]] (window = stride = seg, coverAll)
    * — ONE codegen loop per row (O(words) per doc; the equivalent
    * transform/slice lambda evaluates interpreted and re-runs the
    * inlined split per line element, O(words²/seg) per doc). */
  private[graft] def linesOf(d: DataFrame, seg: Int = LineSeg): DataFrame =
    d.repartition(d.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.WordWindows(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              split(col("text"), " ")), seg, seg, coverAll = true)))
          .as(Seq("pos", "line")))

  private[graft] def lineDedupFrom(lines: DataFrame, dfMax: Int = LineDfMax): DataFrame = {
    val lineDf = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("df"))
    graft.operators.SkewJoin.salted(lines, lineDf, key = "line", uniqueCol = "doc_id")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_lines"),
        sum(when(col("df") <= dfMax, 1).otherwise(0)).cast("int").as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("df") <= dfMax, struct(col("pos"), col("line"))))),
          p => p.getField("line"))).as("cleaned"))
  }
  private val SampleRates =
    Seq("en" -> 50, "es" -> 30, "de" -> 30, "fr" -> 20, "zh" -> 10)

  /** The DSIR scoring CTE chain shared by x_dsir and x_dsir_sample —
    * hashed unigram+bigram features, smoothed target/raw micro-unit
    * weights, per-doc sums (mirrors [[dsirScores]]). */
  private def sqlDsirCtes: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       feats AS MATERIALIZED (SELECT doc_id,
           (${Determinism.sqlMd5IdxK("x", 12)} % $DsirBuckets) AS b
         FROM (SELECT doc_id, unnest(list_concat(
           ${sqlShingles("w", 1)}, ${sqlShingles("w", 2)})) AS x FROM w)),
       tgt AS (SELECT b, count(*) AS tc FROM feats
         WHERE doc_id < $DsirBench GROUP BY b),
       rawc AS (SELECT b, count(*) AS rc FROM feats
         WHERE doc_id >= $DsirBench GROUP BY b),
       tot AS (SELECT (SELECT sum(tc) FROM tgt) AS tgt_t,
                      (SELECT sum(rc) FROM rawc) AS raw_t),
       wtab AS (SELECT b,
           ((coalesce(tc, 0) + 1) * ((raw_t * 1000000) // tgt_t)) // (rc + 1) AS wm
         FROM rawc LEFT JOIN tgt USING (b), tot),
       scored AS (SELECT doc_id, count(*) AS nf, sum(wm) AS sw
         FROM feats JOIN wtab USING (b)
         WHERE doc_id >= $DsirBench GROUP BY doc_id)"""

  val oracleSql: Map[String, String] = Map(
    "x_build" ->
      s"""WITH bg AS (SELECT count(DISTINCT bg) AS n FROM (
             SELECT unnest(${sqlShingles("string_split(text, ' ')", 2)}) AS bg
             FROM documents)),
         sp AS (SELECT count(DISTINCT s) AS n FROM (
             SELECT unnest(list_transform(
               ${sqlShingles("string_split(text, ' ')", SpanW)},
               x -> ${Determinism.sqlMd5IdxK("x", 12)})) AS s
             FROM documents)),
         ln AS (SELECT count(DISTINCT line) AS n FROM (
             SELECT array_to_string(
               w[CAST(t.i*$LineSeg+1 AS INT):CAST(t.i*$LineSeg+$LineSeg AS INT)], ' ') AS line
             FROM (SELECT string_split(text, ' ') AS w FROM documents),
               unnest(range(0, (len(w) - 1) // $LineSeg + 1)) AS t(i))),
         bp AS (SELECT count(DISTINCT w) AS n FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE length(w) > 0),
         ds AS (SELECT count(*) AS n FROM documents WHERE doc_id >= $DsirBench),
         ls AS (SELECT count(DISTINCT doc_id) AS n FROM (
             SELECT doc_id FROM documents,
               unnest(${sqlShingles("string_split(text, ' ')", 2)}) AS t(bg)))
         SELECT item, CAST(n AS BIGINT) AS n FROM (
           SELECT 'bigram_kinds' AS item, n FROM bg
           UNION ALL SELECT 'bpe_vocab', n FROM bp
           UNION ALL SELECT 'dsir_docs', n FROM ds
           UNION ALL SELECT 'line_kinds', n FROM ln
           UNION ALL SELECT 'lm_docs', n FROM ls
           UNION ALL SELECT 'span_kinds', n FROM sp)
         ORDER BY item""",

    "x_token_count" ->
      s"""SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
           CAST(len(regexp_extract_all(text, '$bpeish')) AS INT) AS n_bpe,
           CAST(length(text) AS INT) AS len
         FROM documents ORDER BY doc_id""",

    "x_ttr" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT)
             AS n_types,
           CAST((1000000 * CAST(len(list_distinct(string_split(text, ' ')))
             AS BIGINT)) // len(string_split(text, ' ')) AS BIGINT)
             AS ttr_ppm
         FROM documents ORDER BY doc_id""",

    "x_simpson" ->
      """WITH tc AS (SELECT source, term, count(*) AS n
           FROM (SELECT source, unnest(string_split(text, ' ')) AS term
             FROM documents)
           GROUP BY source, term),
         a AS (SELECT source, sum(n) AS n_tokens, count(*) AS n_types,
             sum(CAST(n AS HUGEINT) * (n - 1)) AS coll
           FROM tc GROUP BY source)
         SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           CAST((1000000 * coll) // (CAST(n_tokens AS HUGEINT)
             * (n_tokens - 1)) AS BIGINT) AS simpson_ppm
         FROM a ORDER BY source""",

    "x_heaps" ->
      """WITH ids AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
             FROM documents),
         f AS (SELECT term, min(doc_id) AS first_id
           FROM (SELECT doc_id,
               unnest(list_distinct(string_split(text, ' '))) AS term
             FROM documents)
           GROUP BY term),
         vk AS (SELECT k, count(*) AS vocab FROM (
             SELECT unnest(range(
               (10 * (first_id - lo + 1) + (hi - lo + 1) - 1)
                 // (hi - lo + 1),
               CAST(11 AS BIGINT))) AS k
             FROM f, ids) GROUP BY k),
         dk AS (SELECT k, count(*) AS n_docs, sum(nt) AS n_tokens FROM (
             SELECT doc_id, nt, unnest(range(
               (10 * (doc_id - lo + 1) + (hi - lo + 1) - 1)
                 // (hi - lo + 1),
               CAST(11 AS BIGINT))) AS k
             FROM (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
               FROM documents), ids) GROUP BY k)
         SELECT CAST(dk.k AS INT) AS k,
           lo + ((hi - lo + 1) * dk.k) // 10 - 1 AS cut_id,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab
         FROM dk JOIN vk ON dk.k = vk.k, ids ORDER BY k""",

    "x_quality" ->
      s"""SELECT doc_id,
           CAST(len(w) AS INT) AS n_words,
           CAST(len(list_filter(w, x -> x IN ($stopSqlList))) AS INT) AS n_stop,
           (${sqlQualityMicro(s"len(list_filter(w, x -> x IN ($stopSqlList)))", "len(w)")}
            / 1000000.0) AS quality,
           (floor(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1000000
             / length(text)) / 1000000.0) AS punct_ratio
         FROM (SELECT *, string_split(text, ' ') AS w FROM documents) ORDER BY doc_id""",

    "x_token_budget" ->
      s"""WITH base AS (SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           ${sqlQualityMicro(s"len(list_filter(w, x -> x IN ($stopSqlList)))", "len(w)")} AS score_micro
         FROM (SELECT *, string_split(text, ' ') AS w FROM documents)),
         b2 AS (SELECT *, score_micro // 10000 AS bin FROM base),
         tot AS (SELECT sum(n_tokens) AS total FROM base),
         hist AS (SELECT bin, sum(n_tokens) AS btok FROM b2 GROUP BY bin),
         cum AS (SELECT bin, coalesce(sum(btok) OVER (ORDER BY bin DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumbefore
           FROM hist),
         thr AS (SELECT min(bin) AS bmin FROM cum, tot
           WHERE cumbefore * 5 < total * 2)
         SELECT doc_id, n_tokens, score_micro, bin, (bin >= bmin) AS kept
         FROM b2, thr ORDER BY doc_id""",

    "x_langid" -> s"$sqlLangid ORDER BY doc_id",

    // composes the per-doc prediction SQL (sqlLangid — the ONE copy
    // x_langid also ships) — the eval cannot drift from the
    // classifier it scores
    "x_langid_eval" ->
      s"""WITH p AS ($sqlLangid),
         cells AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
           FROM p GROUP BY 1, 2)
         SELECT lang, pred_lang, n,
           CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS row_total,
           CAST((1000000 * n) // sum(n) OVER (PARTITION BY lang)
             AS BIGINT) AS cell_ppm
         FROM cells ORDER BY lang, pred_lang""",

    "x_fingerprint" ->
      s"""SELECT doc_id,
           CAST(list_aggregate(list_transform(sh, x -> ${Determinism.sqlMd5IdxK("x", 12)}), 'min') AS BIGINT) AS fp,
           CAST(len(sh) AS INT) AS n_shingles
         FROM (SELECT doc_id, ${sqlShingles("string_split(text, ' ')", 5)} AS sh
               FROM documents) ORDER BY doc_id""",

    "x_redact_pii" ->
      s"""SELECT doc_id,
           CAST(len(regexp_extract_all(t, '$EmailRe')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '$UrlRe')) AS INT) AS n_urls,
           CAST(len(regexp_extract_all(t, '$PhoneRe')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(t, '$IpRe')) AS INT) AS n_ips,
           CAST(len(regexp_extract_all(t, '$CardRe')) AS INT) AS n_cards,
           CAST(len(list_filter(regexp_extract_all(t, '$CardRe'),
             c -> (${luhnSum("c")}) % 10 = 0)) AS INT) AS n_cards_luhn,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
             '$UrlRe', '<URL>', 'g'), '$CardRe', '<CARD>', 'g'),
             '$PhoneRe', '<PHONE>', 'g'), '$IpRe', '<IP>', 'g') AS redacted
         FROM (SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN t3
                 || ' card 4111111111111111 or card 4111111111111112'
               ELSE t3 END AS t
           FROM (SELECT doc_id,
               CASE WHEN doc_id % 9 = 0 THEN t2 || ' from 192.168.10.42'
                 ELSE t2 END AS t3
             FROM (SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN t1 || ' call 555-867-5309'
                   ELSE t1 END AS t2
               FROM (SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN text
                     || ' contact bob@example.com or https://example.com/x'
                     ELSE text END AS t1
                 FROM documents))))
         ORDER BY doc_id""",

    "x_sample_strata" -> {
      val rateSql = "CASE lang " + SampleRates.map { case (l, r) =>
        s"WHEN '$l' THEN $r" }.mkString(" ") + " ELSE 5 END"
      s"""SELECT doc_id, lang FROM documents
         WHERE (${Determinism.sqlMd5Idx("'smp#' || CAST(doc_id AS VARCHAR)")} % 100) < $rateSql
         ORDER BY doc_id"""
    },

    "x_novelty" ->
      s"""WITH grams AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
             ${sqlShingles("string_split(text, ' ')", 5)},
             x -> ${Determinism.sqlMd5IdxK("x", 12)}))) AS g
           FROM documents),
         f AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
         SELECT doc_id, CAST(count(*) AS INT) AS n_grams,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
             AS INT) AS n_novel,
           CAST((1000000 * sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END))
             // count(*) AS BIGINT) AS novelty_ppm
         FROM grams JOIN f USING (g) GROUP BY doc_id ORDER BY doc_id""",

    "x_contamination" ->
      s"""WITH grams AS (
           SELECT doc_id, lang, unnest(list_distinct(list_transform(
             ${sqlShingles("string_split(text, ' ')", 5)},
             x -> ${Determinism.sqlMd5IdxK("x", 12)}))) AS g
           FROM documents),
         bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 50)
         SELECT doc_id, lang, count(DISTINCT g) AS n_shared FROM grams
         WHERE doc_id >= 50 AND g IN (SELECT g FROM bench)
         GROUP BY doc_id, lang ORDER BY doc_id""",

    "x_dsir" ->
      s"""WITH $sqlDsirCtes
         SELECT doc_id, CAST(nf AS INT) AS n_feats,
           CAST(sw // nf AS BIGINT) AS dsir_micro,
           CAST(sw // nf AS BIGINT) / 1000000.0 AS dsir,
           CAST(CASE WHEN sw // nf >= 1000000 THEN 1 ELSE 0 END AS INT) AS kept
         FROM scored ORDER BY doc_id""",

    // the 512 weight literals come from the SAME Scala table the Column
    // tree embeds (qclfWeights), so the two engines cannot drift
    "x_qclf" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         feats AS (SELECT doc_id,
             (${Determinism.sqlMd5IdxK("x", 12)} % $QclfBuckets) AS b
           FROM (SELECT doc_id, unnest(list_concat(
             ${sqlShingles("w", 1)}, ${sqlShingles("w", 2)})) AS x FROM w)),
         scored AS (SELECT doc_id, count(*) AS nf,
             sum((${qclfWeights.mkString("[", ", ", "]")})[CAST(b + 1 AS INT)]) AS sw
           FROM feats GROUP BY doc_id)
         SELECT doc_id, CAST(nf AS INT) AS n_feats,
           CAST(sw // nf AS BIGINT) AS qclf_micro,
           CAST(CASE WHEN sw // nf >= $QclfThresholdMicro THEN 1 ELSE 0 END
             AS INT) AS kept,
           CAST(sw // nf - $QclfThresholdMicro AS BIGINT) AS margin_micro
         FROM scored ORDER BY doc_id""",

    "x_qclf_auc" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         feats AS (SELECT doc_id,
             (${Determinism.sqlMd5IdxK("x", 12)} % $QclfBuckets) AS b
           FROM (SELECT doc_id, unnest(list_concat(
             ${sqlShingles("w", 1)}, ${sqlShingles("w", 2)})) AS x FROM w)),
         sc AS (SELECT doc_id,
             sum((${qclfWeights.mkString("[", ", ", "]")})[CAST(b + 1 AS INT)])
               // count(*) AS score
           FROM feats GROUP BY doc_id),
         m AS (${sqlGopherM()}),
         lbl AS (SELECT doc_id, CAST($sqlGopherKeep AS BIGINT) AS lbl FROM m),
         j AS (SELECT score, lbl,
             CASE WHEN score >= $QclfThresholdMicro THEN 1 ELSE 0 END AS pred
           FROM sc JOIN lbl USING (doc_id)),
         r AS (SELECT score, count(*) AS c, sum(lbl) AS ca,
             sum(count(*)) OVER (ORDER BY score) - count(*) AS r0
           FROM j GROUP BY score),
         a AS (SELECT sum(ca) AS n_pos, sum(c - ca) AS n_neg,
             sum(CAST(ca AS HUGEINT) * (2 * r0 + c + 1)) AS r2p FROM r),
         conf AS (SELECT sum(lbl * pred) AS tp, sum((1 - lbl) * pred) AS fp,
             sum(lbl * (1 - pred)) AS fn, sum((1 - lbl) * (1 - pred)) AS tn
           FROM j),
         pr AS (SELECT tp, fp, fn, tn,
             CAST((1000000 * tp) // greatest(1, tp + fp) AS BIGINT)
               AS precision_ppm,
             CAST((1000000 * tp) // greatest(1, tp + fn) AS BIGINT)
               AS recall_ppm
           FROM conf)
         SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           CAST((1000000 * (r2p - n_pos * (CAST(n_pos AS HUGEINT) + 1)))
             // (2 * greatest(1, CAST(n_pos AS HUGEINT) * n_neg))
             AS BIGINT) AS auc_ppm,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           precision_ppm, recall_ppm,
           CAST((2 * precision_ppm * recall_ppm)
             // greatest(1, precision_ppm + recall_ppm) AS BIGINT) AS f1_ppm
         FROM a, pr""",

    "x_dsir_sample" ->
      s"""WITH $sqlDsirCtes,
         mic AS (SELECT doc_id, CAST(sw // nf AS BIGINT) AS dsir_micro
           FROM scored)
         SELECT doc_id, dsir_micro,
           CAST(${Determinism.sqlMd5IdxK("'dsm#' || CAST(doc_id AS VARCHAR)", 12)}
             AS DOUBLE) / CAST(greatest(dsir_micro, 1) AS DOUBLE) AS priority
         FROM mic ORDER BY priority, doc_id LIMIT $DsirSampleK""",

    "x_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         c AS (SELECT doc_id, w,
             unnest(range(0, (len(w) - 1) // 40 + 1)) AS i FROM d)
         SELECT doc_id, CAST(i AS INT) AS chunk_id,
           array_to_string(w[CAST(i*40+1 AS INT):CAST(i*40+50 AS INT)], ' ') AS chunk,
           CAST(len(string_split(
             array_to_string(w[CAST(i*40+1 AS INT):CAST(i*40+50 AS INT)], ' '), ' ')) AS INT) AS n_tokens
         FROM c ORDER BY doc_id, chunk_id""",

    "x_repetition" ->
      s"""SELECT doc_id,
           CAST(len(g) AS INT) AS n_grams,
           CAST(len(list_distinct(g)) AS INT) AS n_distinct,
           (floor((len(g) - len(list_distinct(g))) * 1000000 / len(g))
             / 1000000.0) AS dup_frac
         FROM (SELECT doc_id, ${sqlShingles("string_split(text, ' ')", 3)} AS g
               FROM documents) ORDER BY doc_id""",

    "x_gopher_filter" ->
      s"""WITH m AS (${sqlGopherM()}),
         r AS (SELECT doc_id, n, concat_ws(',', ${sqlGopherRules.map {
           case (nm, c) => s"CASE WHEN $c THEN '$nm' END"
         }.mkString(", ")}) AS reasons,
             CAST($sqlGopherKeep AS INT) AS keep
           FROM m)
         SELECT doc_id, CAST(n AS INT) AS n_words, keep,
           CASE WHEN reasons = '' THEN 'ok' ELSE reasons END AS reasons
         FROM r ORDER BY doc_id""",

    "x_quality_calib" ->
      s"""WITH m AS (${sqlGopherM(
           s""", ${sqlQualityMicro("n_stop", "n")} AS qmicro""")}),
         r AS (SELECT doc_id, qmicro, $sqlGopherKeep AS keep FROM m)
         SELECT CAST(qmicro // 100000 AS INT) AS band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(keep) AS BIGINT) AS n_keep,
           CAST((1000000 * sum(keep)) // count(*) AS BIGINT)
             AS keep_rate_micro
         FROM r GROUP BY band ORDER BY band""",

    "x_corpus_stats" ->
      """WITH d AS (SELECT *, string_split(text, ' ') AS w FROM documents),
         base AS (SELECT source,
             count(*) AS n_docs,
             CAST(sum(len(w)) AS BIGINT) AS n_tokens,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
             count(DISTINCT lang) AS n_langs
           FROM d GROUP BY source),
         vocab AS (SELECT source, count(DISTINCT wd) AS n_vocab
           FROM (SELECT source, unnest(w) AS wd FROM d) GROUP BY source)
         SELECT source, n_docs, n_tokens, n_vocab, n_chars, avg_chars, n_langs
         FROM base JOIN vocab USING (source) ORDER BY source""",

    "x_lm_score" ->
      s"""WITH grams AS (
           SELECT doc_id, unnest(${sqlShingles("string_split(text, ' ')", 2)}) AS bg
           FROM documents),
         cnt AS (SELECT bg, count(*) AS c FROM grams GROUP BY bg)
         SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
           ((CAST(sum(1000000 // c) AS BIGINT) // count(*)) / 1000000.0) AS lm_score
         FROM grams JOIN cnt USING (bg)
         GROUP BY doc_id ORDER BY doc_id""",

    // tercile thresholds: smallest histogram bucket whose cumulative
    // count reaches ceil(n/3) / ceil(2n/3) — 3*cum >= n is the exact
    // integer form, identical on both engines
    "x_ccnet_buckets" ->
      s"""WITH grams AS (
           SELECT doc_id, unnest(${sqlShingles("string_split(text, ' ')", 2)}) AS bg
           FROM documents),
         cnt AS (SELECT bg, count(*) AS c FROM grams GROUP BY bg),
         scored AS (
           SELECT doc_id,
             (CAST(sum(1000000 // c) AS BIGINT) // count(*)) // 1000 AS lm_kilo
           FROM grams JOIN cnt USING (bg) GROUP BY doc_id),
         db AS (SELECT d.doc_id, d.lang, s.lm_kilo
           FROM documents d JOIN scored s USING (doc_id)),
         hist AS (SELECT lang, lm_kilo, count(*) AS hc
           FROM db GROUP BY lang, lm_kilo),
         cum AS (SELECT lang, lm_kilo,
             sum(hc) OVER (PARTITION BY lang ORDER BY lm_kilo) AS cum
           FROM hist),
         tot AS (SELECT lang, sum(hc) AS nl FROM hist GROUP BY lang),
         th AS (SELECT lang,
             min(CASE WHEN 3 * cum >= nl THEN lm_kilo END) AS t1,
             min(CASE WHEN 3 * cum >= 2 * nl THEN lm_kilo END) AS t2
           FROM cum JOIN tot USING (lang) GROUP BY lang)
         SELECT db.doc_id, db.lang, db.lm_kilo,
           CASE WHEN lm_kilo <= t1 THEN 'head'
                WHEN lm_kilo <= t2 THEN 'middle'
                ELSE 'tail' END AS split
         FROM db JOIN th USING (lang) ORDER BY db.doc_id""",

    "x_line_dedup" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         lines AS (SELECT doc_id, t.i AS pos,
             array_to_string(w[CAST(t.i*$LineSeg+1 AS INT):CAST(t.i*$LineSeg+$LineSeg AS INT)], ' ') AS line
           FROM w, unnest(range(0, (len(w) - 1) // $LineSeg + 1)) AS t(i)),
         df AS (SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line)
         SELECT doc_id, CAST(count(*) AS INT) AS n_lines,
           CAST(count(*) FILTER (df <= $LineDfMax) AS INT) AS n_kept,
           coalesce(array_to_string(
             list(line ORDER BY pos) FILTER (df <= $LineDfMax), ' '), '') AS cleaned
         FROM lines JOIN df USING (line)
         GROUP BY doc_id ORDER BY doc_id""",

    "x_top_terms" ->
      s"""WITH terms AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         filtered AS (
           SELECT doc_id, term FROM terms
           WHERE term NOT IN ($stopSqlList) AND length(term) >= 3),
         tf AS (SELECT doc_id, term, count(*) AS tf
           FROM filtered GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         ranked AS (
           SELECT doc_id, term, tf, df,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY tf DESC, df ASC, term ASC) AS INT) AS rank
           FROM tf JOIN df USING (term))
         SELECT doc_id, rank, term, tf, df FROM ranked
         WHERE rank <= 3 ORDER BY doc_id, rank""",

    "x_cms_terms" ->
      s"""WITH tc AS (
           SELECT term, count(*) AS cnt FROM (
             SELECT unnest(string_split(text, ' ')) AS term FROM documents)
           WHERE term NOT IN ($stopSqlList) AND length(term) >= 3
           GROUP BY term),
         dd AS (SELECT unnest(range(0, $CmsD)) AS i),
         cms AS MATERIALIZED (SELECT dd.i,
             (${Determinism.sqlMd5Idx("'cms' || dd.i || '#' || tc.term")} % $CmsW) AS pos,
             CAST(sum(cnt) AS BIGINT) AS c
           FROM tc, dd GROUP BY 1, 2),
         top10 AS MATERIALIZED (SELECT term, cnt AS true_cnt FROM tc
           ORDER BY cnt DESC, term LIMIT 10),
         pp AS (SELECT t.term, t.true_cnt, dd.i,
             (${Determinism.sqlMd5Idx("'cms' || dd.i || '#' || t.term")} % $CmsW) AS pos
           FROM top10 t, dd)
         SELECT pp.term, pp.true_cnt, min(cms.c) AS est_cnt,
           min(cms.c) - pp.true_cnt AS over
         FROM pp JOIN cms ON cms.i = pp.i AND cms.pos = pp.pos
         GROUP BY pp.term, pp.true_cnt
         ORDER BY pp.true_cnt DESC, pp.term""",

    "x_bloom_membership" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         js AS (SELECT unnest(range(0, $BloomK)) AS j),
         bits AS MATERIALIZED (SELECT DISTINCT
             (${Determinism.sqlMd5Idx("'bl' || js.j || '#' || d.text")} % $BloomM) AS pos
           FROM d, js),
         probes AS MATERIALIZED (
           SELECT doc_id, 'novel' AS kind, text || '~novel' AS key
           FROM d WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id, 'present', text FROM d WHERE doc_id % 10 = 0),
         pp AS (SELECT p.doc_id, p.kind,
             (${Determinism.sqlMd5Idx("'bl' || js.j || '#' || p.key")} % $BloomM) AS pos
           FROM probes p, js),
         hits AS (SELECT doc_id, kind, count(*) AS nhit
           FROM pp JOIN bits USING (pos) GROUP BY doc_id, kind),
         ck AS (SELECT DISTINCT md5(text) AS kh FROM d)
         SELECT p.doc_id, p.kind,
           coalesce(h.nhit, 0) = $BloomK AS bloom_member,
           ck.kh IS NOT NULL AS true_member,
           coalesce(h.nhit, 0) = $BloomK AND ck.kh IS NULL AS is_fp
         FROM probes p
         LEFT JOIN hits h ON h.doc_id = p.doc_id AND h.kind = p.kind
         LEFT JOIN ck ON ck.kh = md5(p.key)
         ORDER BY p.doc_id, p.kind""",

    "x_mask_spans" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         words AS (SELECT doc_id, CAST(t.i - 1 AS INT) AS pos,
             ws[CAST(t.i AS INT)] AS word
           FROM w, unnest(range(1, len(ws) + 1)) AS t(i)),
         starts AS (SELECT doc_id, pos FROM words
           WHERE ${Determinism.sqlMd5Idx(
             "'msk#' || CAST(doc_id AS VARCHAR) || '#' || CAST(pos AS VARCHAR)")}
             % $MaskGateMod = 0),
         cov AS (SELECT DISTINCT s.doc_id, CAST(u.p AS INT) AS pos
           FROM starts s, unnest(range(s.pos, s.pos + $MaskSpanW)) AS u(p)),
         flags AS (SELECT wd.doc_id, wd.pos, wd.word,
             c.pos IS NOT NULL AS cov,
             c.pos IS NOT NULL AND NOT coalesce(
               lag(c.pos IS NOT NULL) OVER (PARTITION BY wd.doc_id
                 ORDER BY wd.pos), false) AS st
           FROM words wd LEFT JOIN cov c
             ON c.doc_id = wd.doc_id AND c.pos = wd.pos),
         ks AS (SELECT *, sum(CAST(st AS INT)) OVER (PARTITION BY doc_id
             ORDER BY pos) AS k FROM flags),
         toks AS (SELECT doc_id, pos, cov, st,
             CASE WHEN NOT cov THEN word
               WHEN st THEN '<extra_id_' || CAST(k - 1 AS VARCHAR) || '>'
               END AS in_tok,
             CASE WHEN cov THEN
               (CASE WHEN st THEN '<extra_id_' || CAST(k - 1 AS VARCHAR)
                 || '> ' ELSE '' END) || word END AS tg_tok
           FROM ks)
         SELECT doc_id, CAST(count(*) AS INT) AS n_words,
           CAST(count(*) FILTER (st) AS INT) AS n_spans,
           CAST(count(*) FILTER (cov) AS INT) AS n_masked,
           coalesce(array_to_string(list(in_tok ORDER BY pos)
             FILTER (in_tok IS NOT NULL), ' '), '') AS input_text,
           coalesce(array_to_string(list(tg_tok ORDER BY pos)
             FILTER (tg_tok IS NOT NULL), ' '), '') AS target_text
         FROM toks GROUP BY doc_id ORDER BY doc_id""",

    "x_span_strip" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         spans AS (SELECT doc_id, CAST(t.i AS INT) AS pos,
             ${Determinism.sqlMd5IdxK(
               s"array_to_string(ws[CAST(t.i+1 AS INT):CAST(t.i+$SpanW AS INT)], ' ')", 12)} AS g
           FROM w, unnest(range(0, greatest(len(ws) - $SpanW, 0) + 1)) AS t(i)),
         agg AS (SELECT g, count(DISTINCT doc_id) AS df, min(doc_id) AS owner
           FROM spans GROUP BY g),
         cov AS (SELECT DISTINCT s.doc_id, CAST(u.p AS INT) AS pos
           FROM spans s JOIN agg USING (g), unnest(range(s.pos, s.pos + $SpanW)) AS u(p)
           WHERE df >= 2 AND s.doc_id <> owner),
         words AS (SELECT doc_id, CAST(t.i - 1 AS INT) AS pos, ws[CAST(t.i AS INT)] AS word
           FROM w, unnest(range(1, len(ws) + 1)) AS t(i)),
         flagged AS (SELECT wd.doc_id, wd.pos, wd.word, c.pos IS NOT NULL AS rm
           FROM words wd LEFT JOIN cov c ON c.doc_id = wd.doc_id AND c.pos = wd.pos)
         SELECT doc_id, CAST(count(*) AS INT) AS n_words,
           CAST(count(*) FILTER (rm) AS INT) AS n_removed,
           coalesce(array_to_string(list(word ORDER BY pos) FILTER (NOT rm), ' '), '')
             AS cleaned
         FROM flagged GROUP BY doc_id ORDER BY doc_id""",

    "x_bpe_merges" -> sqlBpeMerges(10),

    "x_bpe_encode" -> sqlBpeEncode(10),

    "x_fertility" -> sqlFertility(10),

    "x_dup_spans" ->
      s"""WITH spans AS (
           SELECT doc_id, unnest(list_transform(
             ${sqlShingles("string_split(text, ' ')", SpanW)},
             x -> ${Determinism.sqlMd5IdxK("x", 12)})) AS span
           FROM documents),
         df AS (SELECT span, count(DISTINCT doc_id) AS df FROM spans GROUP BY span)
         SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
           CAST(count(*) FILTER (df >= 2) AS INT) AS n_dup,
           ((CAST(count(*) FILTER (df >= 2) AS BIGINT) * 1000000 // count(*))
             / 1000000.0) AS dup_frac
         FROM spans JOIN df USING (span)
         GROUP BY doc_id ORDER BY doc_id"""
  )

  /** Generated k-stage BPE oracle mirroring [[graft.operators.BpeVocab]]:
    * stage i counts adjacent pairs over the stage-(i-1) vocab (weighted
    * by word frequency), argmaxes with the (cnt DESC, l, r) tie-break,
    * and greedily re-merges. The greedy LEFT-TO-RIGHT NON-OVERLAPPING
    * re-merge is the part SQL can't express over arrays directly, so
    * each word rides as a STRING with every symbol wrapped in a
    * separator char (chr(31), absent from the corpus): the wrapped form
    * of the pair, 'lr', can only match at whole-symbol
    * boundaries, and SQL replace() — which scans left to right and
    * resumes after each replacement — IS the greedy non-overlapping
    * rule (verified against mergePair on the 'aaa'/'aaaa' overlap
    * cases). */
  private def sqlBpeMerges(k: Int): String = {
    val ranks = (1 to k).map(i =>
      s"""SELECT $i AS rank, l AS "left", r AS "right", cnt FROM m$i""")
      .mkString(" UNION ALL ")
    s"WITH ${bpeCtes(k, carryW = false)}\nSELECT * FROM ($ranks) ORDER BY rank"
  }

  /** Encode oracle: the same k training stages, CARRYING each word
    * through every re-merge (carryW), then the final vocab's per-word
    * token count (separator-split length) joins back to the exploded
    * doc words — mirroring the Spark side's distinct-word encode +
    * vocab join, with the identical integer-micro-unit ratio. */
  private def sqlBpeEncode(k: Int): String = {
    val US = "chr(31)"
    s"""WITH ${bpeCtes(k, carryW = true)},
       wtok AS (SELECT w,
           CAST(len(string_split(trim(s, $US), $US || $US)) AS INT) AS n_tok
         FROM v$k),
       dw AS (SELECT doc_id, w
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE length(w) > 0)
       SELECT doc_id, CAST(count(*) AS INT) AS n_words,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         ((CAST(sum(length(w)) AS BIGINT) * 1000000 // CAST(sum(n_tok) AS BIGINT))
           / 1000000.0) AS chars_per_token
       FROM dw JOIN wtok USING (w)
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** SQL mirror of x_fertility: the encode pipeline's final vocab
    * token counts joined to doc words carrying lang, aggregated per
    * language with the same integer-micro ratios. */
  private def sqlFertility(k: Int): String = {
    val US = "chr(31)"
    s"""WITH ${bpeCtes(k, carryW = true)},
       wtok AS (SELECT w,
           CAST(len(string_split(trim(s, $US), $US || $US)) AS INT) AS n_tok
         FROM v$k),
       dw AS (SELECT lang, doc_id, w
         FROM (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents)
         WHERE length(w) > 0)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST((sum(n_tok) * 1000000 // count(*)) AS BIGINT)
           AS fertility_micro,
         CAST((sum(length(w)) * 1000000 // sum(n_tok)) AS BIGINT)
           AS cpt_micro
       FROM dw JOIN wtok USING (w)
       GROUP BY lang ORDER BY lang"""
  }

  /** The shared k-stage training pipeline: v0 = word-frequency table
    * with each word's symbols separator-wrapped into one string; stage
    * i counts adjacent pairs, argmaxes into m$i, re-merges into v$i.
    * carryW additionally threads the word itself through every stage
    * (the encode oracle needs the final per-word form; the merges
    * oracle only reads the m$i rows). */
  private def bpeCtes(k: Int, carryW: Boolean): String = {
    val US = "chr(31)"
    val w0 = if (carryW) "w, " else ""
    val wa = if (carryW) "a.w, " else ""
    val v0 =
      s"""v0 AS (SELECT $w0$US || array_to_string(
             list_transform(range(1, length(w) + 1), i -> w[CAST(i AS INT)]),
             $US || $US) || $US AS s, n
           FROM (SELECT w, count(*) AS n
             FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             WHERE length(w) > 0 GROUP BY w))"""
    val stages = (1 to k).map { i =>
      s"""a$i AS (SELECT ${w0}string_split(trim(s, $US), $US || $US) AS syms, s, n
           FROM v${i - 1}),
         pc$i AS (SELECT syms[CAST(t.i AS INT)] AS l, syms[CAST(t.i + 1 AS INT)] AS r,
             CAST(sum(n) AS BIGINT) AS cnt
           FROM a$i, unnest(range(1, len(syms))) AS t(i) GROUP BY l, r),
         m$i AS (SELECT l, r, cnt FROM pc$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         v$i AS (SELECT ${wa}replace(a.s, $US || m.l || $US || $US || m.r || $US,
             $US || m.l || m.r || $US) AS s, a.n
           FROM a$i a, m$i m)"""
    }.mkString(",\n")
    s"$v0,\n$stages"
  }
}
