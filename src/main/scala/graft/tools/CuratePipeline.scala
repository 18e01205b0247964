package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** End-to-end training-data curation — the composition the LLM-pipeline
  * packs exist for, as one CLI:
  *
  *   documents → quality filter → language filter → exact dedup →
  *   line-level boilerplate strip (corpus df threshold, positional
  *   reassembly) → MinHash-LSH near-dedup (canonical = highest
  *   quality) → eval-set DECONTAMINATION (when a benchmark corpus is
  *   given: fuzzy shingle-Jaccard at the 0.5 leak bar, broadcast
  *   bench bands — the d_decontaminate contract) → exact-substring
  *   span strip (owner keeps; RefinedWeb order, after doc-level
  *   dedup) → token stats → curated parquet + a one-line report.
  *
  * Every stage is a DataFrame transform from the query packs; nothing
  * collects to the driver except the final counts. At 100 TB the only
  * shuffles are the dedup group-bys/band-joins, all bucket-bounded.
  *
  * Usage: CuratePipeline <sfDir> <outDir> [minQuality] [parquet|jsonl]
  *        [benchDir]
  */
object CuratePipeline {

  /** @param benchDocs benchmark corpus as a frame (overrides benchDir's
    *   load when both are given) — pipeline_curate passes the in-corpus
    *   first-50-docs convention here
    * @param releaseDedupCaches release the "d"-scope band memos this
    *   run built before returning (the standalone-CLI default); the
    *   gate query passes false — inside a shared Verify session
    *   a whole-scope release would drop the d-family's live memos out
    *   from under concurrent queries */
  def curate(spark: SparkSession, dir: String, minQuality: Double,
      benchDir: Option[String] = None, benchDocs: Option[DataFrame] = None,
      releaseDedupCaches: Boolean = true): (DataFrame, Map[String, Long]) = {
    val docs = Tables.load(spark, dir, "documents")
    val stages = collection.mutable.LinkedHashMap[String, Long]("input" -> docs.count())

    // 1. quality: integer-exact score from TextAnalysis' contract
    val w = split(col("text"), " ")
    val nStop = size(filter(w, x => x.isInCollection(
      Seq("the", "a", "of", "and", "to", "in", "is", "on"))))
    val scored = docs.withColumn("quality",
      (least(length(col("text")), lit(500)) * 1000L
        + floor(nStop * lit(500000L) / size(w))) / 1000000.0)
    val quality = scored.filter(col("quality") >= minQuality)
    stages += "after_quality" -> quality.count()

    // 2. language: keep docs whose predicted language is confident-ish
    // (>=1 marker hit for the winning language) OR tagged en. langKept
    // IS the quality frame (markers are sparse; keep all, record), so
    // its count is the SAME NUMBER by identity — the oracle counts the
    // same CTE twice; re-running the scan+filter for it was pure waste.
    val langKept = quality
    stages += "after_lang" -> stages("after_quality")

    // 3. exact dedup on normalized text (canonical = min doc_id) — the
    // exactPairs window idiom: ONE shuffle on the hash instead of
    // groupBy + equi-join (same keep set, same rows). LAZY checkpoint:
    // the stage count below is the materializing action, and the two
    // line-dedup readers then re-read blocks instead of re-running
    // quality -> md5 -> window from the scan per reference.
    val wH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val exact = graft.CacheBook.keep(spark, "curate")(langKept.withColumn("h",
        md5(trim(lower(regexp_replace(col("text"), "\\s+", " "))).cast("binary")))
      .withColumn("keep_id", min("doc_id").over(wH))
      .filter(col("doc_id") === col("keep_id"))
      .drop("h", "keep_id")
      .localCheckpoint(false))
    stages += "after_exact_dedup" -> exact.count()

    // 3b. line-level boilerplate strip (C4-style, the x_line_dedup
    // contract): drop lines whose corpus document frequency exceeds
    // the threshold, reassemble each doc from its kept lines in
    // order; a doc left with NO kept lines (pure boilerplate) drops
    // out entirely. Runs after exact dedup so a doc's own exact
    // copies don't inflate its lines' document frequency.
    val cleaned = graft.queries.TextAnalysis.lineDedup(exact)
    val lineDeduped = graft.CacheBook.keep(spark, "curate")(exact.drop("text")
      .join(cleaned.filter(col("n_kept") > 0)
        .select(col("doc_id"), col("cleaned").as("text")), "doc_id")
      // n_chars must describe the text the row now carries, not the
      // pre-strip original (quality intentionally stays the stage-1
      // ADMISSION score — it gated entry, it isn't a live attribute)
      .withColumn("n_chars", length(col("text")).cast("long"))
      // checkpoint the reassembled corpus: every downstream stage and
      // stage-count action reads it, and uncheckpointed each would
      // re-run quality→exact-dedup→line-dedup from the scan (the line
      // strip alone is two corpus shuffles). At 100 TB this is where a
      // pipeline writes its post-cleaning staging parquet; in-session
      // the local checkpoint is that staging artifact. LAZY: the stage
      // count is the materializing action (one job, not two).
      .localCheckpoint(false))
    stages += "after_line_dedup" -> lineDeduped.count()

    // 4. near-dedup: the ONE LSH implementation (Dedup.lshPairs —
    // 8-signature universal-hash MinHash, 4x2 bands, exact-Jaccard
    // verify) over ShingleHashSet's codegen'd sorted shingle arrays;
    // drop the higher doc_id of any pair with Jaccard >= 0.5
    val sh = lineDeduped.select(col("doc_id"),
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.ShingleHashSet(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(w), 3, 12))
        .as("sh"))
    val pairs = graft.queries.Dedup.lshPairs(sh, minJac = 0.5).select("a", "b")
    // transitive cluster-keep (standard corpus-dedup semantics: one
    // canonical doc per connected near-dup component, not per pair —
    // a chain a~b~c keeps one of {a,b,c} even if a!~c directly).
    // Canonical = the highest-QUALITY member (the x_canon contract:
    // quality desc, ties to min doc_id) — selection by score, not by
    // id; the score is stage 1's quality column, already on every row.
    val labels = graft.operators.ConnectedComponents.run(pairs)
    val withQ = labels.join(
      lineDeduped.select(col("doc_id").as("id"), col("quality")), "id")
    val keepIds = withQ.groupBy("cluster")
      .agg(max(struct(col("quality"), (-col("id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("doc_id"))
    val dupIds = labels.select(col("id").as("doc_id"))
      .join(keepIds, Seq("doc_id"), "left_anti")
    // LAZY checkpoint + count-fold: near0 feeds three consumers (the
    // decontamination probe side, its anti-join, and the image-dedup
    // semi-join) — materialized once here, they re-read blocks instead
    // of replaying the near-dedup anti-join chain per action.
    val near0 = graft.CacheBook.keep(spark, "curate")(
      lineDeduped.join(dupIds, Seq("doc_id"), "left_anti").localCheckpoint(false))
    stages += "after_near_dedup" -> near0.count()

    // 4b'. eval-set DECONTAMINATION (when a benchmark corpus is
    // given): drop every surviving pool doc whose shingle-Jaccard to
    // ANY benchmark doc reaches the 0.5 leak bar — the release gate
    // exact n-gram overlap cannot close (a paraphrased leak shares
    // few exact 5-grams but keeps a high Jaccard). The benchmark is
    // an EXTERNAL input (its docs are never emitted); its band table
    // broadcasts, so the stage costs one band probe over survivors.
    val near = benchDocs.orElse(benchDir.map(bd =>
        Tables.load(spark, bd, "documents"))) match {
      case Some(bdocs) =>
        val benchSh = bdocs
          .select(col("doc_id"), graft.queries.Dedup.shingleHashCol(col("text")).as("sh"))
        val poolSh = near0.select(col("doc_id"),
          graft.queries.Dedup.shingleHashCol(col("text")).as("sh"))
        // the drop list is a tiny doc_id set whose plan embeds the
        // whole pipeline-so-far twice (both band sides) — checkpoint
        // it so the downstream count/strip/export actions re-read a
        // materialized set instead of re-running near-dedup per action
        val leaked = graft.CacheBook.keep(spark, "curate")(graft.queries.Dedup
          .contaminatedIds(poolSh, benchSh, minJac = 0.5)
          .localCheckpoint(true))
        val kept = near0.join(leaked, Seq("doc_id"), "left_anti")
        stages += "after_decontaminate" -> kept.count()
        kept
      case None => near0
    }

    // 4c. IMAGE dedup — the multimodal doc-level stage: each surviving
    // doc's image runs the REAL decode → perceptual-hash path (the
    // m_phash contract; here the synthetic PNG stands in for the
    // media column a production corpus carries via MediaSource) and
    // exact-phash groups collapse to the min-id canonical. Sits at
    // the doc-level dedup layer, before passage stripping; only
    // (doc_id, 64-char hash) ever crosses a shuffle — never pixels.
    val imgDeduped = locally {
      import spark.implicits._
      val ph = graft.operators.Multimodal.phashSynthetic(
        near.select(col("doc_id")).as[Long]).toDF()
      // the keep set is a tiny id frame whose plan embeds the
      // full-corpus image DECODE over the pipeline-so-far — checkpoint
      // it so every downstream action (stage counts, span strip's two
      // references, export) re-reads ids instead of re-decoding the
      // corpus (the `leaked` discipline above)
      val keepImg = graft.CacheBook.keep(spark, "curate")(
        ph.groupBy("phash").agg(min("doc_id").as("doc_id"))
          .select("doc_id").localCheckpoint(true))
      // checkpoint the surviving corpus: span strip walks it several
      // times (spans + words + the reassembly join) and each walk would
      // otherwise replay the dedup/decontam anti-join chain. LAZY: the
      // stage count below materializes it.
      graft.CacheBook.keep(spark, "curate")(
        near.join(keepImg, Seq("doc_id"), "left_semi").localCheckpoint(false))
    }
    stages += "after_image_dedup" -> imgDeduped.count()

    // 4b. exact-substring strip (the x_span_strip contract) AFTER
    // doc-level near-dedup — the RefinedWeb order: whole-doc copies
    // are already gone, this removes the remaining cross-doc copied
    // PASSAGES (quotes, syndicated paragraphs), with the minimum
    // doc_id keeping the one surviving copy. A doc entirely covered
    // by spans owned by others (a mosaic of copies) drops out, like
    // the all-boilerplate case in 3b.
    val strip = graft.queries.TextAnalysis.spanStrip(imgDeduped)
    val stripped = imgDeduped.drop("text")
      .join(strip.filter(col("n_removed") < col("n_words"))
        .select(col("doc_id"), col("cleaned").as("text")), "doc_id")
      .withColumn("n_chars", length(col("text")).cast("long"))

    // 5. token stats on the curated set. MATERIALIZE the survivors
    // FIRST and take the span-strip stage count off the checkpoint (a
    // separate pre-checkpoint count would run the span-strip shuffles
    // a second time), then release the build-side caches: lshPairs
    // memoizes a persisted band table per shingle frame (scope "d"),
    // and a long-lived session running curate() nightly would
    // otherwise grow the block store by one band table per run — the
    // monotonic-growth mode CacheBook exists to prevent. The
    // checkpoint cuts the curated frame's lineage first, so the
    // release can't force a rebuild downstream.
    // The curated frame's own checkpoint blocks are the caller's to
    // release: kept under the "curate" scope so a long-lived session
    // running curate() nightly frees each run's blocks with
    // CacheBook.release(spark, "curate") once the export lands —
    // otherwise one checkpoint RDD accumulates per run (the same
    // monotonic-growth mode the "d" release below exists to prevent)
    val curated = graft.CacheBook.keep(spark, "curate")(
      stripped.withColumn("n_tokens", size(split(col("text"), " ")))
        .localCheckpoint(false)) // lazy: the stage count materializes it
    stages += "after_span_strip" -> curated.count()
    if (releaseDedupCaches) graft.CacheBook.release(spark, "d")
    (curated, stages.toMap)
  }

  /** 6. export stage: train/val/test assignment + per-shard sequence
    * packing, both from the oracle-verified Curation contracts (same
    * hash gates, so a doc's split/shard here matches x_split/x_pack on
    * the same corpus). The output layout is the training-reader shape:
    * one directory per (split, shard), bins contiguous within a shard.
    */
  def exportSet(curated: DataFrame): DataFrame =
    graft.queries.Curation.packed(
      curated.withColumn("split", graft.queries.Curation.splitOf(col("doc_id"))),
      "doc_id", "n_tokens")

  /** Write the export frame in the training-reader layout (one
    * directory per (split, shard), each a single task's sorted run).
    * `jsonl` emits newline-delimited JSON — the LLM-corpus interchange
    * format (Spark's json sink IS JSONL: one object per line);
    * `parquet` stays the columnar default. */
  def writeShards(exported: DataFrame, outDir: String, format: String = "parquet"): Unit = {
    val w = exported.write.mode("overwrite").partitionBy("split", "shard")
    format match {
      case "parquet" => w.parquet(outDir)
      case "jsonl"   => w.json(outDir)
      case other => throw new IllegalArgumentException(
        s"unknown shard format '$other' (expected parquet or jsonl)")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val minQuality = if (args.length > 2) args(2).toDouble else 0.3
    val format = if (args.length > 3) args(3) else "parquet"
    val benchDir = if (args.length > 4) Some(args(4)) else None
    graft.Sessions.run { spark =>
      val (curated, stages) = curate(spark, sfDir, minQuality, benchDir)
      curated.write.mode("overwrite").parquet(s"$outDir/curated")
      // partition dirs are the unit a training reader consumes (and the
      // unit of write parallelism — each (split, shard) is one task's
      // sorted run; no global sort anywhere in the pipeline)
      writeShards(exportSet(curated), s"$outDir/shards", format)
      // coalesce: sum over an empty curated set is NULL, not 0
      val toks = curated.agg(coalesce(sum("n_tokens"), lit(0L))).collect()(0).getLong(0)
      println(("input" :: "after_quality" :: "after_exact_dedup"
          :: "after_line_dedup" :: "after_near_dedup" :: Nil)
        .++(if (stages.contains("after_decontaminate"))
          Seq("after_decontaminate") else Nil)
        .:+("after_image_dedup").:+("after_span_strip")
        .map(k => s"$k=${stages(k)}").mkString("[curate] ", " ", s" total_tokens=$toks"))
    }
  }
}
