package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Determinism
import graft.operators.Multimodal

/** Pack G — multimodal plumbing queries. The decode stage is a stub (no
  * codecs in the container) but the schema/partitioning/batching is the
  * real pipeline; features derive from md5 so DuckDB mirrors them. */
object MultimodalQueries {

  /** m_blur keep bar: Laplacian variance below this reads as
    * out-of-focus. One constant, both engines. */
  private val BlurKeepVar = 100L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // EXPLICIT family build — the d_build / x_build / s_index_build
    // convention for the m family: materializes every memoized decode
    // artifact the m_* queries share (the phash chunk corpus, the audio
    // fingerprint corpus, the scene-keyframe fingerprint relation, and
    // the nightly boundary scalar) as its own priced entry, so
    // m_scene_dedup_inc and the other probes measure their OWN work
    // instead of absorbing whichever decode build they touch first
    // (the r13 verdict: the inc entry's clean retry paid the shared
    // decode+fingerprint build its budget never priced). At 100 TB
    // these are standing artifacts, not query latency. Returns
    // build-size counts (plus the boundary) the oracle recomputes.
    "m_build" -> ((s, dir) => {
      import s.implicits._
      // independent decode pipelines overlap on graft.Par (each memo is
      // a build-once cell); counts over eager checkpoints are block-read
      // cheap
      graft.Par.each(Seq[() => (String, Long)](
        () => "audio_fp_rows" -> audioFp(s, dir).count(),
        () => "phash_rows" -> phashChunks(s, dir).count(),
        () => "scene_sigs" -> sceneSigs(s, dir).count(),
        () => "tnew" -> mNewThreshold(s, dir)))(_())
        .toDF("item", "n").orderBy("item")
    }),

    // opaque binary + typed metadata
    "m_binary_meta" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("blob"))
        .select(col("doc_id"),
          length(col("blob")).as("n_bytes"),
          md5(col("blob")).as("content_hash"),
          lit("text/plain").as("kind"))
        .orderBy("doc_id")),

    // mapPartitions decode -> features (typed Dataset path)
    "m_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.blobs(s, Tables.load(s, dir, "documents")))
        .toDF().orderBy("doc_id")),

    // aspect-preserving resize plan (longest edge -> 64), exact integer
    // shape math over the batched pipeline; pixel scaling is the stub
    "m_resize" -> ((s, dir) =>
      Multimodal.resize(
        Multimodal.blobs(s, Tables.load(s, dir, "documents")), target = 64)
        .toDF().orderBy("doc_id")),

    // frame sampling: one row per stride-sampled frame (explode-shaped
    // stage a video pipeline feeds into per-frame embedding)
    "m_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.blobs(s, Tables.load(s, dir, "documents")), stride = 8)
        .toDF().orderBy("doc_id", "frame_idx")),

    // SCENE segmentation — the step BEFORE frame sampling in a real
    // video pipeline (sample per scene, not per stride, or dedup
    // within a scene): every frame's integer signature level streams
    // through a per-video window; a cut opens where consecutive levels
    // jump by >= half the range, and the running cut count is the
    // scene id (the sessionize shape over media). The window
    // partitions by doc_id — per-video frame counts are codec-bounded
    // (here <= 64, in production minutes x fps), so no partition ever
    // scales with the corpus, and only (doc_id, frame_idx, level)
    // rows cross the shuffle, never frames. All integer arithmetic.
    "m_scenes" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("frame_idx")
      // frameLevels row-balances internally on (doc_id, content-hash)
      // — 16 bytes/row, never media bytes (the module invariant): the
      // real JPEG decode (round 13) scales with rows, not input bytes,
      // and a single-split scan would serialize it on one core.
      Multimodal.frameLevels(
        Multimodal.blobs(s, Tables.load(s, dir, "documents")))
        .toDF()
        // coalesce makes the first-frame contract EXPLICIT (lag is null
        // there; a null diff is "no cut", not an accident of three-valued
        // logic falling through to otherwise)
        .withColumn("cut",
          when(coalesce(abs(col("level") - lag(col("level"), 1).over(w)),
            lit(0)) >= 128, 1).otherwise(0))
        .withColumn("scene_id", sum(col("cut")).over(w).cast("int"))
        .groupBy("doc_id", "scene_id")
        .agg(min(col("frame_idx")).as("start_frame"),
          count(lit(1)).as("n_frames"))
        .orderBy("doc_id", "scene_id")
    }),

    // REAL image decode (javax.imageio — PNG needs no external codec):
    // deterministic synthetic PNGs are encoded AND decoded inside the
    // batched pipeline, and every output value — dimensions, full-image
    // mean gray, thumbnail shape, nearest-neighbor-resampled mean gray —
    // derives from decoded pixels. The synthetic pixel function is
    // reproducible in SQL, so this entry is decode-VERIFIED by its
    // oracle, not just plumbing-checked like the stub path.
    "m_decode" -> ((s, dir) => {
      import s.implicits._
      Multimodal.decodeSynthetic(
        Tables.load(s, dir, "documents").select(col("doc_id")).as[Long],
        target = 64)
        .toDF().orderBy("doc_id")
    }),

    // IMAGE BLUR / SHARPNESS audit — the quality gate an image
    // curation run applies before anything trains (drop the blurry):
    // variance of the 4-neighbor Laplacian, THE classic focus
    // measure, over REAL-decoded interior pixels. The decode returns
    // only the three exact integer moments (n, ΣL, ΣL²) — pixels
    // never leave the partition — and the variance is one integer
    // floor division (numerator ≥ 0 by Cauchy–Schwarz, so truncate ==
    // floor cross-engine). Decode-VERIFIED like m_decode: the oracle
    // replays the Laplacian arithmetic on the closed-form pixels.
    "m_blur" -> ((s, dir) => {
      import s.implicits._
      Multimodal.blurSynthetic(
        Tables.load(s, dir, "documents").select(col("doc_id")).as[Long])
        .toDF()
        .select(col("doc_id"), col("n_lap"), col("s_lap"), col("s_lap2"),
          expr("""CAST((n_lap * s_lap2 - s_lap * s_lap)
            div (CAST(n_lap AS BIGINT) * n_lap) AS BIGINT)""").as("lapvar"),
          when(expr("""(n_lap * s_lap2 - s_lap * s_lap)
            div (CAST(n_lap AS BIGINT) * n_lap)""") >= BlurKeepVar, 1)
            .otherwise(0).cast("int").as("kept"))
        .orderBy("doc_id")
    }),

    // IMAGE DEDUP via perceptual hash — the multimodal sibling of
    // d_exact: each image decodes to its 8×8 average-hash (real
    // ImageIO decode, integer-exact bit string) and exact-hash groups
    // are duplicate clusters (ids congruent mod 256 render identical
    // synthetic images, so real dup groups exist in the gate data).
    // Only (doc_id, 64-char hash) crosses the shuffle — never pixels;
    // the group count is a window over the hash partition.
    "m_phash" -> ((s, dir) => {
      import s.implicits._
      val ph = Multimodal.phashSynthetic(
        Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]).toDF()
      ph.withColumn("n_dup",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("phash")).cast("int"))
        .orderBy("doc_id")
    }),

    // REAL audio decode (javax.sound.sampled — WAV PCM needs no
    // external codec): deterministic synthetic 16-bit mono WAVs are
    // encoded AND decoded inside the batched pipeline; sample count +
    // rate come from the parsed RIFF header, peak/mean amplitude and
    // mean square power from decoded frames. The synthetic sample
    // function is reproducible in SQL — the second decode-VERIFIED
    // modality next to m_decode's PNG path.
    "m_audio" -> ((s, dir) => {
      import s.implicits._
      Multimodal.decodeSyntheticWav(
        Tables.load(s, dir, "documents").select(col("doc_id")).as[Long])
        .toDF().orderBy("doc_id")
    }),

    // IMAGE NEAR-DUP at hamming ≤ 3 — real image dedup is hamming-
    // banded, not hash-equality: the 64-bit average-hash splits into
    // four 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ at least one chunk
    // identical), candidates share a chunk, and the verify popcount is
    // four xor+bit_count terms over longs — the d_simhash shape lifted
    // to decoded images. The corpus is each document's synthetic PNG
    // plus a one-pixel-retouched twin (real encode→decode→hash both
    // sides), so true near-pairs exist at gate scale; only
    // (doc_id, 4 longs) crosses the candidate shuffle, never pixels.
    //
    // EXACT GROUPS COLLAPSE FIRST, banding runs over DISTINCT-hash
    // representatives only: identical-hash cliques (heavy in any real
    // dup-laden corpus, degenerate in this synthetic one) would
    // otherwise inflate the banded self-join by Σ|clique|² rows ×4
    // bands and force a distinct() over the multiplied candidates. On
    // representatives, a pair is emitted only from its LOWEST matching
    // band (earlier-chunks-differ predicate) — no post-join dedup at
    // all — and the member×member expansion happens exactly once, at
    // output, where it IS the contract (all doc pairs at hamming ≤ 3;
    // within-group pairs are dist 0 by construction).
    "m_phash_near" -> ((s, dir) =>
      // the hash relation is tiny ((doc_id, 4 longs) × 2N rows) but its
      // decode subtree is ~40k ImageIO calls — the NAMED memo
      // (m/phash_chunks, round 14) materializes it once per (session,
      // corpus) so the group/band/expand subtrees here, the sweep and
      // the incremental probe all read the same checkpoint instead of
      // each re-running the decode
      chunkNearDup(phashChunks(s, dir))),

    // HAMMING-THRESHOLD tuning curve for image near-dup — the
    // d_jaccard_bands / s_probe_sweep discipline on the perceptual-hash
    // modality: pair counts and cumulative pairs per hamming distance
    // band (0..3, the pigeonhole-complete range of the 4-chunk
    // banding), read before a rollout commits its near-dup cut line
    // (dist 0 = exact decoded duplicates; each extra bit admits more
    // retouch variants). One aggregation over the same banded verify
    // relation m_phash_near emits — candidate volume unchanged.
    "m_phash_sweep" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      chunkNearDup(phashChunks(s, dir))
        .groupBy("dist").agg(count(lit(1)).as("n_pairs"))
        .withColumn("cum_pairs",
          sum("n_pairs").over(Window.orderBy("dist")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("dist")
    }),

    // AUDIO NEAR-DUP at hamming ≤ 3 — the m_phash_near discipline on
    // the audio modality: each clip's REAL-decoded PCM folds into a
    // 64-bit per-window energy-delta fingerprint (chromaprint shape,
    // operators/Multimodal.audioFpChunks), packed as the same four
    // 16-bit chunks, so the identical pigeonhole banding finds every
    // pair at hamming ≤ 3 with only (doc_id, 4 longs) crossing the
    // shuffle — never PCM. The corpus is each document's synthetic WAV
    // plus a four-sample-retouched twin (both through the real
    // encode→decode path), so true near-pairs exist at gate scale; the
    // retouch is sub-window, so delta coding bounds the twin's hamming
    // at 2 (AudioFpSpec proves band recall on exactly that).
    "m_audio_near" -> ((s, dir) =>
      // same single-materialization discipline as m_phash_near: the
      // fingerprint relation is tiny but its subtree is ~40k WAV
      // encode+decode calls — the named memo m/audio_fp holds it
      chunkNearDup(audioFp(s, dir))),

    // INCREMENTAL image near-dup — the nightly media-ingest shape the
    // d_incremental / s_ivf_upsert entries establish, applied to the m
    // family: the last 20% of doc ids play tonight's batch, the old
    // hash-chunk relation plays the standing index (at a deployment it
    // is last night's persisted chunk table), and ONLY delta bands
    // join the full relation — candidate volume is DELTA-bounded, the
    // standing side is probed never self-joined. Emits exactly the
    // pairs with >= 1 new endpoint (new-new + new-old): the increment
    // to the pair set, which IncPhashSpec proves equal to the full
    // m_phash_near recompute restricted to those pairs. Identical-hash
    // pairs arrive through band 0 (chunk equality IS a band match), so
    // no separate within-group pass is needed on the delta-bounded
    // volume.
    "m_phash_inc" -> ((s, dir) => {
      // the nightly boundary — the memoized m-family scalar (underlying
      // id: twins share their base's novelty; twin-id guard inside)
      val tNew = mNewThreshold(s, dir)
      // the standing chunk relation is the shared named memo — this
      // entry prices the delta-band probe, not a second decode
      val ph = phashChunks(s, dir)
      val isNew = (col("doc_id") % 100000L) >= tNew
      val hk = Seq("c0", "c1", "c2", "c3")
      def bandsOf(df: DataFrame) = df.select(col("doc_id") +: hk.map(col) :+
          explode(array((0 to 3).map(ci =>
            struct(lit(ci).as("ci"), col(s"c$ci").as("cv"))): _*)).as("ch"): _*)
        .select(col("doc_id") +: hk.map(col) :+
          col("ch.ci").as("ci") :+ col("ch.cv").as("cv"): _*)
      val deltaB = bandsOf(ph.filter(isNew))
      val allB = bandsOf(ph)
      // lowest-matching-band emit (the m_phash_near discipline) keeps
      // each pair exactly once without a post-join distinct
      val firstBand = when(col("x.ci") === 0, lit(true))
        .when(col("x.ci") === 1, col("x.c0") =!= col("y.c0"))
        .when(col("x.ci") === 2,
          col("x.c0") =!= col("y.c0") && col("x.c1") =!= col("y.c1"))
        .otherwise(col("x.c0") =!= col("y.c0")
          && col("x.c1") =!= col("y.c1") && col("x.c2") =!= col("y.c2"))
      // both-new pairs would arrive twice (each side is in the delta):
      // order them; new-old pairs arrive once (y old)
      val once = (col("y.doc_id") % 100000L < tNew) ||
        col("x.doc_id") < col("y.doc_id")
      deltaB.as("x").join(allB.as("y"),
          col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv")
            && col("x.doc_id") =!= col("y.doc_id") && firstBand && once)
        .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
          hk.map(c => bit_count(col(s"x.$c").bitwiseXOR(col(s"y.$c"))))
            .reduce(_ + _).cast("int").as("dist"))
        .filter(col("dist") <= 3)
        .orderBy("a", "b")
    }),

    // SCENE-KEYFRAME VIDEO DEDUP — how video dedup actually runs:
    // m_scenes' segmentation picks each scene's keyframe, a 64-bit
    // keyframe fingerprint (64 content-derived patch levels, delta-
    // coded — the audioFp bit rule at frame granularity) packs into
    // the same four 16-bit chunks, and the m_phash_near banding finds
    // CROSS-VIDEO scene pairs at hamming ≤ 3. Only (scene id, 4 longs)
    // crosses the candidate shuffle — never frames, never pixels; the
    // per-video window is codec-bounded exactly as in m_scenes. The
    // corpus adds a twin per video (same frames, every keyframe's
    // patch 0 retouched) so true shared-scene pairs exist at gate
    // scale; delta coding bounds each twin scene's hamming at 2.
    "m_scene_dedup" -> ((s, dir) =>
      chunkNearDup(sceneSigs(s, dir))
        .filter(expr("a div 1000") =!= expr("b div 1000")) // cross-video only
        .select(expr("a div 1000").as("video_a"),
          (col("a") % 1000).cast("int").as("scene_a"),
          expr("b div 1000").as("video_b"),
          (col("b") % 1000).cast("int").as("scene_b"), col("dist"))
        .orderBy("video_a", "scene_a", "video_b", "scene_b")),

    // INCREMENTAL scene-keyframe video dedup — m_phash_inc's nightly
    // shape on the video modality, completing the video family's
    // lifecycle (segment → fingerprint → near-dup → INCREMENTAL):
    // tonight's videos (underlying id past the 80% boundary, twins
    // share their base's novelty) fingerprint their scenes and ONLY
    // those delta bands probe the standing scene-chunk relation —
    // candidate volume is delta-bounded, the standing side is probed
    // never self-joined. Emits exactly the cross-video pairs with
    // >= 1 new video (new-new + new-old), emit-once via the
    // lowest-matching-band predicate + both-new ordering. The scene
    // fingerprint relation is built ONCE per (session, corpus) — a
    // named memo m_scene_dedup shares — so this entry prices the
    // delta probe, not a second decode+md5 pipeline.
    "m_scene_dedup_inc" -> ((s, dir) => {
      val tNew = mNewThreshold(s, dir)
      val sid = sceneSigs(s, dir)
      // sid = (video*1000 + scene); underlying video = (sid div 1000) % 100000
      val isNew = (expr("doc_id div 1000") % 100000L) >= tNew
      val hk = Seq("c0", "c1", "c2", "c3")
      def bandsOf(df: DataFrame) = df.select(col("doc_id") +: hk.map(col) :+
          explode(array((0 to 3).map(ci =>
            struct(lit(ci).as("ci"), col(s"c$ci").as("cv"))): _*)).as("ch"): _*)
        .select(col("doc_id") +: hk.map(col) :+
          col("ch.ci").as("ci") :+ col("ch.cv").as("cv"): _*)
      val deltaB = bandsOf(sid.filter(isNew))
      val allB = bandsOf(sid)
      val firstBand = when(col("x.ci") === 0, lit(true))
        .when(col("x.ci") === 1, col("x.c0") =!= col("y.c0"))
        .when(col("x.ci") === 2,
          col("x.c0") =!= col("y.c0") && col("x.c1") =!= col("y.c1"))
        .otherwise(col("x.c0") =!= col("y.c0")
          && col("x.c1") =!= col("y.c1") && col("x.c2") =!= col("y.c2"))
      // both-new pairs arrive twice (each side is in the delta): order
      // them; new-old pairs arrive once (y old)
      val once = ((expr("y.doc_id div 1000") % 100000L) < tNew) ||
        col("x.doc_id") < col("y.doc_id")
      deltaB.as("x").join(allB.as("y"),
          col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv")
            && expr("x.doc_id div 1000") =!= expr("y.doc_id div 1000") // cross-video
            && firstBand && once)
        .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
          hk.map(c => bit_count(col(s"x.$c").bitwiseXOR(col(s"y.$c"))))
            .reduce(_ + _).cast("int").as("dist"))
        .filter(col("dist") <= 3)
        .select(expr("a div 1000").as("video_a"),
          (col("a") % 1000).cast("int").as("scene_a"),
          expr("b div 1000").as("video_b"),
          (col("b") % 1000).cast("int").as("scene_b"), col("dist"))
        .orderBy("video_a", "scene_a", "video_b", "scene_b")
    })
  )

  /** The m-family's nightly boundary (last 20% of underlying doc ids =
    * tonight's batch), ONE memoized scalar action shared by m_phash_inc
    * and m_scene_dedup_inc (each builder used to run its own head() at
    * plan-construction time — the r12 nit). The twin-id guard lives
    * here too: the +100000 twin convention is only sound below it. */
  private def mNewThreshold(s: SparkSession, dir: String): Long =
    graft.CacheBook.memo(s, "m", "tnew", dir) {
      val maxId = Tables.load(s, dir, "documents")
        .agg(max("doc_id")).head().getLong(0)
      require(maxId < 100000L,
        s"twin id convention requires base doc_id < 100000, got max $maxId")
      maxId * 4 / 5
    }

  /** Memoized twin-corpus hash-chunk relation ((doc_id, c0..c3) × 2N —
    * each doc's synthetic PNG + its one-pixel-retouched twin, through
    * the REAL encode→decode→hash path), shared by m_phash_near,
    * m_phash_sweep and m_phash_inc: the relation is 4 longs/row but its
    * subtree is the whole ImageIO pipeline, so it materializes once per
    * (session, corpus) as the named memo m/phash_chunks (m_build prices
    * it). */
  private def phashChunks(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "m", "phash_chunks", dir) {
      import s.implicits._
      graft.CacheBook.keep(s, "m")(Multimodal.phashNearCorpus(
        Tables.load(s, dir, "documents").select(col("doc_id")).as[Long])
        .toDF().localCheckpoint(true))
    }

  /** Memoized twin-corpus audio fingerprint relation (same shape as
    * [[phashChunks]], WAV encode→decode→energy-delta fingerprint) —
    * the named memo m/audio_fp behind m_audio_near. */
  private def audioFp(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "m", "audio_fp", dir) {
      import s.implicits._
      graft.CacheBook.keep(s, "m")(Multimodal.audioFpCorpus(
        Tables.load(s, dir, "documents").select(col("doc_id")).as[Long])
        .toDF().localCheckpoint(true))
    }

  /** Memoized per-scene keyframe fingerprint relation
    * ((video*1000 + scene_id), c0..c3), shared by m_scene_dedup and
    * m_scene_dedup_inc: segment base + twin videos (m_scenes' cut
    * rule), fingerprint each scene's keyframe with 64 delta-coded
    * patch levels (the twin's patch 0 retouched — a sub-signature
    * edit, like m_phash_near's one-pixel retouch), pack into four
    * 16-bit chunks. MATERIALIZED once per (session, corpus) as a named
    * memo — chunkNearDup references its input five times and the inc
    * entry probes it again, and this input's subtree is the whole
    * decode + 5.7M-patch-md5 + window pipeline (uncheckpointed it
    * recomputed per reference: 37 cpu-s for a ~7 cpu-s fingerprint
    * stage — the round-12 review catch). */
  private def sceneSigs(s: SparkSession, dir: String): DataFrame =
    graft.CacheBook.memo(s, "m", "scene_sigs", dir) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("frame_idx")
      // materialize the DECODED level relation once: the twin union
      // references it twice (base + re-tag), and since the levels come
      // from real JPEG decode (round 13) a lazy double reference would
      // run the container-parse + decode pipeline twice (measured:
      // 37.8 -> ~22 cpu-s on m_scene_dedup at sf0.1)
      val lv0 = graft.CacheBook.keep(s, "m")(Multimodal.frameLevels(
        Multimodal.blobs(s, Tables.load(s, dir, "documents"))).toDF()
        .localCheckpoint(true))
      // twin = the SAME frame stream re-tagged (+100000): scenes align
      // exactly, so near-dup pairs are decided at the keyframe layer
      val lv = lv0.unionByName(lv0.select((col("doc_id") + 100000L).as("doc_id"),
        col("frame_idx"), col("level")))
      val scenes = lv
        .withColumn("cut",
          when(coalesce(abs(col("level") - lag(col("level"), 1).over(w)),
            lit(0)) >= 128, 1).otherwise(0))
        .withColumn("scene_id", sum(col("cut")).over(w).cast("int"))
        .groupBy("doc_id", "scene_id")
        .agg(min(col("frame_idx")).as("start_frame"))
      val vh0 = Tables.load(s, dir, "documents")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      val vh = vh0.unionByName(vh0.select((col("doc_id") + 100000L).as("doc_id"), col("h")))
      def patch(idx: org.apache.spark.sql.Column) = {
        val base = pmod(graft.functions.Determinism.md5IdxK(
          concat(col("h"), lit("#"), col("start_frame").cast("string"),
            lit(":"), idx.cast("string")), 6), lit(256L))
        when(col("doc_id") >= 100000L && idx === 0,
          pmod(base + 8, lit(256L))).otherwise(base)
      }
      val pj = scenes.join(vh, "doc_id")
        .select(col("doc_id"), col("scene_id"), col("start_frame"), col("h"),
          explode(sequence(lit(0), lit(63))).as("j"))
      // ONE md5 per patch: the delta neighbor p((j+1) mod 64) comes from
      // lead() (+ first() for the wraparound at j=63) over the same
      // 64-row keyframe window instead of a second md5 evaluation —
      // the fingerprint stage is md5-bound (A/B: 8.8 -> ~6 s wall)
      val wk = Window.partitionBy("doc_id", "scene_id").orderBy("j")
      val bits = pj.withColumn("p", patch(col("j")))
        .withColumn("bit",
          (col("p") > coalesce(lead(col("p"), 1).over(wk),
            first(col("p")).over(wk))).cast("long"))
      val chunkAggs = (0 to 3).map(ci =>
        sum(when(col("j").between(ci * 16, ci * 16 + 15),
          col("bit") * expr("shiftleft(1L, CAST(j % 16 AS INT))"))
          .otherwise(0L)).as(s"c$ci"))
      val sigs = bits.groupBy("doc_id", "scene_id")
        .agg(chunkAggs.head, chunkAggs.tail: _*)
      // flatten (video, scene) into one band id (scene_id < 64 << 1000)
      graft.CacheBook.keep(s, "m")(
        sigs.select((col("doc_id") * 1000 + col("scene_id")).as("doc_id"),
          col("c0"), col("c1"), col("c2"), col("c3"))
          .localCheckpoint(true))
    }

  /** The shared 4×16-bit-chunk near-dup pipeline behind m_phash_near
    * and m_audio_near: collapse identical-chunk groups to a
    * representative, band on each chunk (pigeonhole-complete for
    * hamming ≤ 3), verify with four xor+popcount terms, expand back to
    * member pairs. Input: (doc_id, c0, c1, c2, c3). Output:
    * (a, b, dist) at dist ≤ 3. */
  private def chunkNearDup(ph: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val hk = Seq("c0", "c1", "c2", "c3")
      val grp = ph.groupBy(hk.map(col): _*).agg(min("doc_id").as("rep"))
      val bands = grp.select(col("rep") +: hk.map(col) :+
          explode(array((0 to 3).map(ci =>
            struct(lit(ci).as("ci"), col(s"c$ci").as("cv"))): _*)).as("ch"): _*)
        .select(col("rep") +: hk.map(col) :+
          col("ch.ci").as("ci") :+ col("ch.cv").as("cv"): _*)
      // lowest-matching-band emit: bands 1..3 additionally require every
      // earlier chunk to DIFFER, so each rep pair survives exactly once
      val firstBand = when(col("x.ci") === 0, lit(true))
        .when(col("x.ci") === 1, col("x.c0") =!= col("y.c0"))
        .when(col("x.ci") === 2,
          col("x.c0") =!= col("y.c0") && col("x.c1") =!= col("y.c1"))
        .otherwise(col("x.c0") =!= col("y.c0")
          && col("x.c1") =!= col("y.c1") && col("x.c2") =!= col("y.c2"))
      val repPairs = bands.as("x").join(bands.as("y"),
          col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv")
            && col("x.rep") < col("y.rep") && firstBand)
        .select(hk.map(c => col(s"x.$c").as(s"x$c"))
          ++ hk.map(c => col(s"y.$c").as(s"y$c"))
          :+ hk.map(c => bit_count(col(s"x.$c").bitwiseXOR(col(s"y.$c"))))
            .reduce(_ + _).cast("int").as("dist"): _*)
        .filter(col("dist") <= 3)
      // expand rep-level near-pairs to member pairs (each unordered doc
      // pair is one (member-of-A, member-of-B) combination — no dedup)
      val cross = repPairs
        .join(ph.as("ma"), hk.map(c => col(s"ma.$c") === col(s"x$c")).reduce(_ && _))
        .join(ph.as("mb"), hk.map(c => col(s"mb.$c") === col(s"y$c")).reduce(_ && _))
        .select(least(col("ma.doc_id"), col("mb.doc_id")).as("a"),
          greatest(col("ma.doc_id"), col("mb.doc_id")).as("b"), col("dist"))
      // identical-hash members: all within-group pairs at dist 0
      val within = ph.as("u").join(ph.as("v"),
          hk.map(c => col(s"u.$c") === col(s"v.$c")).reduce(_ && _)
            && col("u.doc_id") < col("v.doc_id"))
        .select(col("u.doc_id").as("a"), col("v.doc_id").as("b"),
          lit(0).cast("int").as("dist"))
      cross.union(within).orderBy("a", "b")
  }

  private def f(seedSql: String): String = Determinism.sqlMd5IdxK(seedSql, 6)

  /** The twin-corpus hash-chunk CTE chain (base → dims → th → s → ch →
    * ph): every image (each doc + its retouched twin) reduced to its
    * four 16-bit average-hash chunks — the ONE SQL copy of the
    * synthetic-pixel + hash pipeline that m_phash_near, m_phash_inc and
    * st_media_dedup all band over. */
  private[queries] val sqlPhashChunkCtes: String =
    """base AS (SELECT doc_id, doc_id AS img, false AS tw FROM documents
           UNION ALL
           SELECT doc_id + 100000, doc_id, true FROM documents),
         dims AS (SELECT doc_id, img, tw,
             CAST(16 + img % 32 AS INT) AS w,
             CAST(16 + (img * 7) % 32 AS INT) AS h
           FROM base),
         th AS (SELECT doc_id, k.i AS k,
             CASE WHEN tw AND (((k.i % 8) * w) // 8) = 0
                 AND (((k.i // 8) * h) // 8) = 0 THEN 255
               ELSE (img + 3 * (((k.i % 8) * w) // 8)
                 + 5 * (((k.i // 8) * h) // 8)) % 256 END AS p
           FROM dims, unnest(range(0, 64)) AS k(i)),
         s AS (SELECT doc_id, sum(p) AS sp FROM th GROUP BY doc_id),
         ch AS (SELECT th.doc_id, th.k // 16 AS ci,
             CAST(sum(CASE WHEN th.p * 64 > s.sp
               THEN 1 << (th.k % 16) ELSE 0 END) AS BIGINT) AS cv
           FROM th JOIN s USING (doc_id) GROUP BY th.doc_id, th.k // 16),
         ph AS (SELECT doc_id,
             max(CASE WHEN ci = 0 THEN cv END) AS c0,
             max(CASE WHEN ci = 1 THEN cv END) AS c1,
             max(CASE WHEN ci = 2 THEN cv END) AS c2,
             max(CASE WHEN ci = 3 THEN cv END) AS c3
           FROM ch GROUP BY doc_id)"""

  val oracleSql: Map[String, String] = Map(
    // build-size accounting recomputed exactly: the two twin corpora
    // are 2 rows per doc by construction; the scene-sig count re-runs
    // the m_scenes segmentation (the twin re-tags the same frame
    // stream, so sigs = 2 x base scenes); tnew is the 80% boundary
    "m_build" ->
      s"""WITH t AS (SELECT max(doc_id) * 4 // 5 AS tnew FROM documents),
         nd AS (SELECT count(*) AS n FROM documents),
         nf AS (SELECT doc_id, md5(text) AS h,
             CAST(1 + ${f("md5(text) || 'f'")} % 64 AS INT) AS n
           FROM documents),
         fr AS (SELECT doc_id, CAST(t.i AS INT) AS frame_idx,
             CAST(${f("h || '#' || CAST(t.i AS VARCHAR)")} % 256 AS INT) AS level
           FROM nf, unnest(range(0, n, 1)) AS t(i)),
         cfr AS (SELECT doc_id, frame_idx,
             CASE WHEN abs(level - lag(level) OVER
                 (PARTITION BY doc_id ORDER BY frame_idx)) >= 128
               THEN 1 ELSE 0 END AS cut
           FROM fr),
         sc AS (SELECT DISTINCT doc_id,
             sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS scene_id
           FROM cfr),
         ns AS (SELECT count(*) AS n FROM sc)
         SELECT 'audio_fp_rows' AS item, CAST(2 * nd.n AS BIGINT) AS n FROM nd
         UNION ALL SELECT 'phash_rows', CAST(2 * nd.n AS BIGINT) FROM nd
         UNION ALL SELECT 'scene_sigs', CAST(2 * ns.n AS BIGINT) FROM ns
         UNION ALL SELECT 'tnew', CAST(tnew AS BIGINT) FROM t
         ORDER BY item""",

    // strlen (bytes), not length (characters): Spark's length(blob)
    // counts BYTES of the UTF-8 cast, so the two agree only while the
    // corpus is pure ASCII unless the oracle counts bytes too.
    "m_binary_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes,
           md5(text) AS content_hash, 'text/plain' AS kind
         FROM documents ORDER BY doc_id""",

    "m_features" ->
      s"""SELECT doc_id,
           CAST(16 + ${f("text")} % 1024 AS INT) AS width,
           CAST(16 + ${f("md5(text) || 'h'")} % 1024 AS INT) AS height,
           CAST(1 + ${f("md5(text) || 'f'")} % 64 AS INT) AS n_frames,
           ((${f("md5(text) || 'i'")} % 256) / 255.0) AS mean_intensity
         FROM documents ORDER BY doc_id""",

    "m_resize" ->
      s"""WITH dims AS (SELECT doc_id,
             CAST(16 + ${f("text")} % 1024 AS INT) AS width,
             CAST(16 + ${f("md5(text) || 'h'")} % 1024 AS INT) AS height
           FROM documents)
         SELECT doc_id, width, height,
           CAST(greatest(1, (width * 64) // greatest(width, height)) AS INT) AS out_w,
           CAST(greatest(1, (height * 64) // greatest(width, height)) AS INT) AS out_h
         FROM dims ORDER BY doc_id""",

    "m_frames" ->
      s"""WITH nf AS (SELECT doc_id, text,
             CAST(1 + ${f("md5(text) || 'f'")} % 64 AS INT) AS n
           FROM documents)
         SELECT doc_id, CAST(i AS INT) AS frame_idx,
           ((${f("md5(text) || '#' || CAST(i AS VARCHAR)")} % 256) / 255.0) AS brightness
         FROM nf, unnest(range(0, n, 8)) AS t(i)
         ORDER BY doc_id, frame_idx""",

    // every frame's integer level -> lag-jump cuts -> running scene id
    "m_scenes" ->
      s"""WITH nf AS (SELECT doc_id, text,
             CAST(1 + ${f("md5(text) || 'f'")} % 64 AS INT) AS n
           FROM documents),
         fr AS (SELECT doc_id, CAST(i AS INT) AS frame_idx,
             CAST(${f("md5(text) || '#' || CAST(i AS VARCHAR)")} % 256 AS INT) AS level
           FROM nf, unnest(range(0, n, 1)) AS t(i)),
         c AS (SELECT doc_id, frame_idx,
             CASE WHEN abs(level - lag(level) OVER
                 (PARTITION BY doc_id ORDER BY frame_idx)) >= 128
               THEN 1 ELSE 0 END AS cut
           FROM fr),
         sc AS (SELECT doc_id, frame_idx,
             CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS INT)
               AS scene_id
           FROM c)
         SELECT doc_id, scene_id, CAST(min(frame_idx) AS INT) AS start_frame,
           CAST(count(*) AS BIGINT) AS n_frames
         FROM sc GROUP BY doc_id, scene_id ORDER BY doc_id, scene_id""",

    // the synthetic pixel function gray(x,y) = (id + 3x + 5y) % 256 over
    // w = 16 + id%32, h = 16 + (id*7)%32 — summed directly, so the oracle
    // verifies the DECODED means, not the stub hash contract
    "m_decode" ->
      """WITH dims AS (SELECT doc_id,
             CAST(16 + doc_id % 32 AS INT) AS w,
             CAST(16 + (doc_id * 7) % 32 AS INT) AS h
           FROM documents),
         px AS (SELECT doc_id,
             CAST(sum((doc_id + 3 * x.i + 5 * y.i) % 256) AS BIGINT) AS sg
           FROM dims, unnest(range(0, w)) AS x(i), unnest(range(0, h)) AS y(i)
           GROUP BY doc_id),
         rs AS (SELECT doc_id, w, h,
             greatest(1, (w * 64) // greatest(w, h)) AS ow,
             greatest(1, (h * 64) // greatest(w, h)) AS oh
           FROM dims),
         rpx AS (SELECT r.doc_id,
             CAST(sum((r.doc_id + 3 * ((i.i * r.w) // r.ow)
               + 5 * ((j.i * r.h) // r.oh)) % 256) AS BIGINT) AS rsg
           FROM rs r, unnest(range(0, r.ow)) AS i(i), unnest(range(0, r.oh)) AS j(i)
           GROUP BY r.doc_id),
         out AS (SELECT d.doc_id, d.w, d.h, p.sg, r.ow, r.oh, x.rsg
           FROM dims d JOIN px p USING (doc_id) JOIN rs r USING (doc_id)
             JOIN rpx x USING (doc_id))
         SELECT doc_id, w AS width, h AS height,
           (((sg * 1000000) // (w * h)) / 1000000.0) AS mean_gray,
           CAST(ow AS INT) AS out_w, CAST(oh AS INT) AS out_h,
           (((rsg * 1000000) // (ow * oh)) / 1000000.0) AS resized_mean_gray
         FROM out ORDER BY doc_id""",

    // the 4-neighbor Laplacian replayed on the closed-form pixels over
    // the interior range — verifies the DECODED moments
    "m_blur" ->
      s"""WITH dims AS (SELECT doc_id,
             CAST(16 + doc_id % 32 AS INT) AS w,
             CAST(16 + (doc_id * 7) % 32 AS INT) AS h
           FROM documents),
         lap AS (SELECT doc_id, count(*) AS n_lap,
             sum(l) AS s_lap, sum(l * l) AS s_lap2
           FROM (SELECT d.doc_id,
               4 * ((d.doc_id + 3 * x.i + 5 * y.i) % 256)
               - ((d.doc_id + 3 * (x.i - 1) + 5 * y.i) % 256)
               - ((d.doc_id + 3 * (x.i + 1) + 5 * y.i) % 256)
               - ((d.doc_id + 3 * x.i + 5 * (y.i - 1)) % 256)
               - ((d.doc_id + 3 * x.i + 5 * (y.i + 1)) % 256) AS l
             FROM dims d, unnest(range(1, w - 1)) AS x(i),
               unnest(range(1, h - 1)) AS y(i))
           GROUP BY doc_id)
         SELECT doc_id, CAST(n_lap AS INT) AS n_lap,
           CAST(s_lap AS BIGINT) AS s_lap, CAST(s_lap2 AS BIGINT) AS s_lap2,
           CAST((n_lap * s_lap2 - s_lap * s_lap) // (n_lap * n_lap)
             AS BIGINT) AS lapvar,
           CAST(CASE WHEN (n_lap * s_lap2 - s_lap * s_lap)
               // (n_lap * n_lap) >= $BlurKeepVar
             THEN 1 ELSE 0 END AS INT) AS kept
         FROM lap ORDER BY doc_id""",

    // thumbnail pixel (i, j) = formula at ((i*w)//8, (j*h)//8); bit k
    // row-major (i = k%8, j = k//8), set iff 64*p > sum — the same
    // integer comparisons the decoder makes on real pixels
    "m_phash" ->
      """WITH dims AS (SELECT doc_id,
             CAST(16 + doc_id % 32 AS INT) AS w,
             CAST(16 + (doc_id * 7) % 32 AS INT) AS h
           FROM documents),
         th AS (SELECT doc_id, k.i AS k,
             (doc_id + 3 * (((k.i % 8) * w) // 8)
               + 5 * (((k.i // 8) * h) // 8)) % 256 AS p
           FROM dims, unnest(range(0, 64)) AS k(i)),
         s AS (SELECT doc_id, sum(p) AS sp FROM th GROUP BY doc_id),
         ph AS (SELECT th.doc_id,
             string_agg(CASE WHEN th.p * 64 > s.sp THEN '1' ELSE '0' END,
               '' ORDER BY th.k) AS phash
           FROM th JOIN s USING (doc_id) GROUP BY th.doc_id),
         grp AS (SELECT phash, count(*) AS n_dup FROM ph GROUP BY phash)
         SELECT ph.doc_id, ph.phash, CAST(grp.n_dup AS INT) AS n_dup
         FROM ph JOIN grp USING (phash) ORDER BY ph.doc_id""",

    // sample(i) = ((id + 11i) % 65536) - 32768 over n = 256+(id*13)%512
    // frames — summed directly, verifying the DECODED pcm, not a stub
    "m_audio" ->
      """WITH d AS (SELECT doc_id,
             CAST(256 + (doc_id * 13) % 512 AS INT) AS n
           FROM documents),
         sm AS (SELECT doc_id, n,
             ((doc_id + 11 * i.i) % 65536) - 32768 AS v
           FROM d, unnest(range(0, n)) AS i(i)),
         ag AS (SELECT doc_id, max(n) AS n, max(abs(v)) AS pk,
             sum(abs(v)) AS sa, sum(v * v) AS sq
           FROM sm GROUP BY doc_id)
         SELECT doc_id, CAST(n AS INT) AS n_samples,
           CAST(8000 AS INT) AS sample_rate,
           CAST(pk AS INT) AS peak_abs,
           (((sa * 1000000) // n) / 1000000.0) AS mean_abs,
           CAST(sq // n AS BIGINT) AS mean_square
         FROM ag ORDER BY doc_id""",

    // corpus + retouched twin (img pixel (0,0) -> 255, only thumbnail
    // cell 0 samples it since w,h >= 16); chunk ci packs bits
    // [ci*16, ci*16+16) little-endian — the same packing phashChunks
    // uses — and the candidate/verify pipeline mirrors the Spark plan
    "m_phash_near" ->
      s"""WITH $sqlPhashChunkCtes,
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM ch x JOIN ch y
           ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id)
         SELECT a, b, dist FROM (
           SELECT cand.a, cand.b,
             CAST(bit_count(xor(pa.c0, pb.c0)) + bit_count(xor(pa.c1, pb.c1))
               + bit_count(xor(pa.c2, pb.c2)) + bit_count(xor(pa.c3, pb.c3))
               AS INT) AS dist
           FROM cand JOIN ph pa ON pa.doc_id = cand.a
             JOIN ph pb ON pb.doc_id = cand.b)
         WHERE dist <= 3 ORDER BY a, b""",

    // distance-band curve over the SAME verified pair relation
    "m_phash_sweep" ->
      s"""WITH $sqlPhashChunkCtes,
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM ch x JOIN ch y
           ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id),
         v AS (SELECT a, b, dist FROM (
           SELECT cand.a, cand.b,
             CAST(bit_count(xor(pa.c0, pb.c0)) + bit_count(xor(pa.c1, pb.c1))
               + bit_count(xor(pa.c2, pb.c2)) + bit_count(xor(pa.c3, pb.c3))
               AS INT) AS dist
           FROM cand JOIN ph pa ON pa.doc_id = cand.a
             JOIN ph pb ON pb.doc_id = cand.b)
         WHERE dist <= 3),
         g AS (SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs
           FROM v GROUP BY dist)
         SELECT dist, n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY dist
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_pairs
         FROM g ORDER BY dist""",

    // incremental = the full near-dup pair set restricted to pairs
    // with >= 1 new endpoint (underlying id past the 80% boundary);
    // the oracle states the CONTRACT, the Spark side must reach it
    // with delta-bounded work
    "m_phash_inc" ->
      s"""WITH t AS (SELECT max(doc_id) * 4 // 5 AS tnew FROM documents),
         $sqlPhashChunkCtes,
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM ch x JOIN ch y
           ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id)
         SELECT a, b, dist FROM (
           SELECT cand.a, cand.b,
             CAST(bit_count(xor(pa.c0, pb.c0)) + bit_count(xor(pa.c1, pb.c1))
               + bit_count(xor(pa.c2, pb.c2)) + bit_count(xor(pa.c3, pb.c3))
               AS INT) AS dist
           FROM cand JOIN ph pa ON pa.doc_id = cand.a
             JOIN ph pb ON pb.doc_id = cand.b)
         WHERE dist <= 3
           AND (a % 100000 >= (SELECT tnew FROM t)
             OR b % 100000 >= (SELECT tnew FROM t))
         ORDER BY a, b""",

    // audio fingerprint near-dup: regenerate each clip's PCM from the
    // shared sample formula (the decode oracle's contract), fold the
    // 64 window energies, delta-code the bits, then the same banded
    // candidate + popcount verify as m_phash_near
    "m_audio_near" ->
      """WITH base AS (SELECT doc_id, doc_id AS id, false AS tw FROM documents
           UNION ALL
           SELECT doc_id + 100000, doc_id, true FROM documents),
         smp AS (SELECT b.doc_id,
             abs(((b.id + 11 * t.i
               + CASE WHEN b.tw AND t.i < 4 THEN 500 ELSE 0 END) % 65536)
               - 32768) AS av,
             ((t.i * 64) // (256 + (b.id * 13) % 512)) AS w
           FROM base b, unnest(range(0, 256 + (b.id * 13) % 512)) AS t(i)),
         en AS (SELECT doc_id, w, sum(av) AS e FROM smp GROUP BY doc_id, w),
         bits AS (SELECT a.doc_id, a.w,
             CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
           FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.w = (a.w + 1) % 64),
         ch AS (SELECT doc_id, w // 16 AS ci,
             CAST(sum(CASE WHEN bit = 1 THEN 1 << (w % 16) ELSE 0 END)
               AS BIGINT) AS cv
           FROM bits GROUP BY doc_id, w // 16),
         ph AS (SELECT doc_id,
             max(CASE WHEN ci = 0 THEN cv END) AS c0,
             max(CASE WHEN ci = 1 THEN cv END) AS c1,
             max(CASE WHEN ci = 2 THEN cv END) AS c2,
             max(CASE WHEN ci = 3 THEN cv END) AS c3
           FROM ch GROUP BY doc_id),
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM ch x JOIN ch y
           ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id)
         SELECT a, b, dist FROM (
           SELECT cand.a, cand.b,
             CAST(bit_count(xor(pa.c0, pb.c0)) + bit_count(xor(pa.c1, pb.c1))
               + bit_count(xor(pa.c2, pb.c2)) + bit_count(xor(pa.c3, pb.c3))
               AS INT) AS dist
           FROM cand JOIN ph pa ON pa.doc_id = cand.a
             JOIN ph pb ON pb.doc_id = cand.b)
         WHERE dist <= 3 ORDER BY a, b""",

    // scene-keyframe dedup: the m_scenes CTEs segment base + twin,
    // 64 delta-coded patch levels fingerprint each keyframe (twin's
    // patch 0 retouched +8), then the m_phash_near band/verify over
    // (video*1000+scene) ids, cross-video pairs only
    "m_scene_dedup" -> sqlSceneDedup(""),

    // incremental = the full cross-video pair set restricted to pairs
    // with >= 1 new VIDEO (underlying id past the 80% boundary); the
    // oracle states the contract, the Spark side reaches it with a
    // delta-bounded probe of the shared fingerprint memo
    "m_scene_dedup_inc" -> sqlSceneDedup(
      """ AND ((a // 1000) % 100000 >= (SELECT tnew FROM t)
           OR (b // 1000) % 100000 >= (SELECT tnew FROM t))""")
  )

  /** The m_scene_dedup CTE chain with an optional extra predicate over
    * the verified (a, b) scene pairs — shared by the full and the
    * incremental oracles so both answer to ONE fingerprint pipeline. */
  private def sqlSceneDedup(extraWhere: String): String = {
      val fh = (seed: String) => Determinism.sqlMd5IdxK(seed, 6)
      s"""WITH t AS (SELECT max(doc_id) * 4 // 5 AS tnew FROM documents),
         nf AS (SELECT doc_id, md5(text) AS h,
             CAST(1 + ${fh("md5(text) || 'f'")} % 64 AS INT) AS n
           FROM documents),
         vids AS (SELECT doc_id, h, n, false AS tw FROM nf
           UNION ALL SELECT doc_id + 100000, h, n, true FROM nf),
         fr AS (SELECT v.doc_id, v.h, v.tw, CAST(t.i AS INT) AS frame_idx,
             CAST(${fh("v.h || '#' || CAST(t.i AS VARCHAR)")} % 256 AS INT) AS level
           FROM vids v, unnest(range(0, v.n, 1)) AS t(i)),
         cfr AS (SELECT doc_id, h, tw, frame_idx,
             CASE WHEN abs(level - lag(level) OVER
                 (PARTITION BY doc_id ORDER BY frame_idx)) >= 128
               THEN 1 ELSE 0 END AS cut
           FROM fr),
         sc AS (SELECT doc_id, h, tw, frame_idx,
             CAST(sum(cut) OVER
                 (PARTITION BY doc_id ORDER BY frame_idx) AS INT) AS scene_id
           FROM cfr),
         kf AS (SELECT doc_id, h, tw, scene_id,
             CAST(min(frame_idx) AS INT) AS start_frame
           FROM sc GROUP BY doc_id, h, tw, scene_id),
         pat AS (SELECT doc_id, scene_id, t.j AS pidx,
             CASE WHEN tw AND t.j = 0
               THEN (${fh("kf.h || '#' || CAST(kf.start_frame AS VARCHAR) || ':' || CAST(t.j AS VARCHAR)")} % 256 + 8) % 256
               ELSE ${fh("kf.h || '#' || CAST(kf.start_frame AS VARCHAR) || ':' || CAST(t.j AS VARCHAR)")} % 256
             END AS p
           FROM kf, unnest(range(0, 64, 1)) AS t(j)),
         bits AS (SELECT a.doc_id, a.scene_id, a.pidx AS j,
             CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit
           FROM pat a JOIN pat b ON b.doc_id = a.doc_id
             AND b.scene_id = a.scene_id AND b.pidx = (a.pidx + 1) % 64),
         chs AS (SELECT doc_id * 1000 + scene_id AS sid, j // 16 AS ci,
             CAST(sum(CASE WHEN bit = 1 THEN 1 << (j % 16) ELSE 0 END)
               AS BIGINT) AS cv
           FROM bits GROUP BY doc_id * 1000 + scene_id, j // 16),
         phs AS (SELECT sid,
             max(CASE WHEN ci = 0 THEN cv END) AS c0,
             max(CASE WHEN ci = 1 THEN cv END) AS c1,
             max(CASE WHEN ci = 2 THEN cv END) AS c2,
             max(CASE WHEN ci = 3 THEN cv END) AS c3
           FROM chs GROUP BY sid),
         cand AS (SELECT DISTINCT x.sid AS a, y.sid AS b
           FROM chs x JOIN chs y
           ON x.ci = y.ci AND x.cv = y.cv AND x.sid < y.sid)
         SELECT a // 1000 AS video_a, CAST(a % 1000 AS INT) AS scene_a,
           b // 1000 AS video_b, CAST(b % 1000 AS INT) AS scene_b, dist
         FROM (
           SELECT cand.a, cand.b,
             CAST(bit_count(xor(pa.c0, pb.c0)) + bit_count(xor(pa.c1, pb.c1))
               + bit_count(xor(pa.c2, pb.c2)) + bit_count(xor(pa.c3, pb.c3))
               AS INT) AS dist
           FROM cand JOIN phs pa ON pa.sid = cand.a
             JOIN phs pb ON pb.sid = cand.b)
         WHERE dist <= 3 AND a // 1000 <> b // 1000$extraWhere
         ORDER BY video_a, scene_a, video_b, scene_b"""
  }
}
