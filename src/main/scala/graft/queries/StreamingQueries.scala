package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.StreamingOps

/** Pack H query — a real Structured Streaming execution (file source →
  * watermark → windowed state → memory sink) whose bounded result equals
  * the batch SQL the oracle runs. */
object StreamingQueries {

  @volatile private var runId = 0

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_window_agg" -> ((s, dir) => {
      val name = synchronized { runId += 1; s"st_window_agg_$runId" }
      val out = StreamingOps.runToMemory(
        s, StreamingOps.windowAgg(StreamingOps.eventsStream(s, dir)), name)
      out.orderBy("wstart", "event_type")
    }),

    // STREAMING quality gate — x_qclf's learned classifier applied ON
    // INGEST (the scoring a landing zone runs before anything lands):
    // the per-doc score computes as ONE per-row scalar fold over the
    // hashed unigram+bigram features against the embedded weight
    // vector — no explode, no aggregation, NO STATE STORE, so the
    // gate runs in append mode and restarts are trivially safe. Every
    // doc streams through with its score and keep/drop decision (the
    // synthetic gate corpus scores entirely below the natural-prose
    // keep bar, so a kept-only emission would be a zero-row gate);
    // the oracle is the batch x_qclf pipeline, so the entry proves
    // streamed scalar fold == batch explode+groupBy doc for doc.
    "st_qclf_gate" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val name = synchronized { runId += 1; s"st_qclf_gate_$runId" }
      val stream = s.readStream.schema(StreamingOps.docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val scored = stream
        .select(col("doc_id"),
          TextAnalysis.qclfParts(split(col("text"), " ")).as("p"))
        .select(col("doc_id"), col("p.nf").cast("int").as("n_feats"),
          expr("p.sw div p.nf").as("qclf_micro"))
        .withColumn("kept",
          when(col("qclf_micro") >= TextAnalysis.QclfThresholdMicro, 1)
            .otherwise(0).cast("int"))
      StreamingOps.runToMemory(s, scored, name,
          org.apache.spark.sql.streaming.OutputMode.Append(),
          noDataBatch = false) // stateless: every row emits in its data batch
        .orderBy("doc_id")
    }),

    // STREAMING ANN probe-on-ingest — the query half of real-time
    // index maintenance (StreamingOps.annIngest is the write half):
    // every newly arrived embedding immediately retrieves its standing
    // near-neighbors above the radius bar (online semantic dedup /
    // alerting). The standing index predates the stream: the
    // old-seeded centroid table is COLLECTED into the plan as literals
    // (kFor(old-count) rows — the DATA-DERIVED ⌊√N⌋-with-floor-24
    // centroid count, e.g. 44 at sf0.1; the executor-shipped index
    // snapshot every vector DB ships; the per-row probe is then a
    // stateless scalar sort over that bounded literal array — no
    // window, no state store), and the old assignment is the static
    // join side, persisted once for the run. The stream-static
    // equi-join on cid keeps candidates cell-bounded; the radius
    // compares in floored micro-units (integer-exact cross-engine).
    // New and old id domains are disjoint, so no self-pair exists.
    "st_ann_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val name = synchronized { runId += 1; s"st_ann_ingest_$runId" }
      val S = Similarity
      val (tNew, seed) = S.oldSeed(s, dir) // shared delta convention, persisted once
      val old = S.vecs(s, dir).filter(col("vec_id") < tNew)
      val cents = seed.collect() // bounded: kFor(old-count) rows (≈√N, floor 24)
      // eager localCheckpoint, not persist: the stream-static join
      // re-plans per micro-batch, and behind a persist each batch
      // re-codegen'd the old-corpus assignment subtree
      val standing = graft.CacheBook.keep(s, "s")(S.assignTo(old, seed).localCheckpoint(true))
      val newVecs = s.readStream.schema(StreamingOps.embRawSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        .filter(col("vec_id") >= tNew)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("n", graft.functions.VecOps.norm(col("v")))
      // round 15: constant-bank top-NProbe expression instead of the
      // K-struct literal array + per-row array_sort — same rows, same
      // ranking (cosine desc == negated-cosine asc, ties cid-asc),
      // and the streaming plan loses the K-wide literal tree it
      // re-codegen'd every micro-batch
      val bank = graft.functions.NearestCentroids.cosineBank(
        cents.toSeq.map(r =>
          (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))))
      val probed = newVecs
        .select(col("vec_id").as("q"), col("v").as("qv"), col("n").as("qn"),
          explode(graft.functions.NearestCentroids.nearest(
            bank, col("v"), S.NProbe, col("n"))).as("cid"))
      val matches = probed.join(standing, "cid")
        .select(col("q"), col("vec_id"),
          graft.functions.VecOps.cosine(
            col("qv"), col("v"), col("qn"), col("n")).as("cos"))
        .filter(floor(col("cos") * lit(1000000.0)).cast("long")
          >= S.RangeTauMicro)
      StreamingOps.runToMemory(s, matches, name,
          org.apache.spark.sql.streaming.OutputMode.Append(),
          noDataBatch = false) // stateless probe: emits in the data batch
        .orderBy("q", "vec_id")
    }),

    // STREAMING token-index probe-on-ingest — st_ann_ingest's pattern
    // on the WINNING retrieval architecture (per-token late
    // interaction), completing the token index's lifecycle across both
    // engines' modes (build -> store -> probe -> upsert -> STREAM):
    // the standing OLD-token index (the memoized nightly artifact
    // s_tok_upsert also reads) is static; each arriving vector's 8
    // token slices probe their nearest token cells STATELESSLY (the
    // K-row centroid table rides the plan as a constant array — a
    // per-row sort, no shuffle, no state), candidates come from a
    // stream-static join against the standing cells, and each
    // candidate MaxSim-scores against the arriving vector's own
    // self-score: 10·ms >= 7·self keeps matches reaching 70% of a
    // perfect multi-vector alignment (integer products — exact
    // cross-engine; the batch mirror is the oracle). The one stateful
    // op is the candidate de-dup, keyed on (q, vec_id) — bounded by
    // the probed-cell candidate volume, never the corpus. The GATE
    // entry streams the delta's first sixteenth-of-standing slice
    // (tnew..tnew+tnew/16 — a micro-batch's worth): per-arrival work
    // is identical at any batch size, and the FULL delta's cost is
    // priced where it belongs, in the batch upsert entries.
    "st_tok_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val name = synchronized { runId += 1; s"st_tok_ingest_$runId" }
      val S = Similarity
      val (tNew, kOld, cents, standing) = S.tokOldIndex(s, dir)
      val centRows = cents.collect() // bounded: K(old tokens) rows by design
      val np = S.nProbeTok(kOld)
      val tHi = tNew + tNew / 16 // first ingest micro-batch's bound
      val newVecs = s.readStream.schema(StreamingOps.embRawSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
        .filter(col("vec_id") >= tNew && col("vec_id") < tHi)
        .select(col("vec_id").as("q"),
          col("embedding").cast("array<double>").as("qv"))
      val toks = newVecs
        .withColumn("t", explode(array((1 to 8).map(lit(_)): _*)))
        .withColumn("tv", slice(col("qv"), (col("t") - 1) * 8 + 1, lit(8)))
      // round 15: constant-bank top-np expression instead of the
      // K-struct literal array + per-row array_sort — same rows, same
      // ranking (dot desc == negated-dot asc, ties cid-asc), and the
      // streaming plan loses the K-wide literal tree it re-codegen'd
      // every micro-batch.
      // keys ONLY through the candidate join + dedup: the pre-dedup
      // candidate volume is q·8·np·cellpop rows, and carrying the
      // 64-double query vector through that shuffle measured 3x the
      // whole entry — both vectors rejoin from the static corpus after
      // the (q, vec_id) pairs are distinct
      val bank = graft.functions.NearestCentroids.dotBank(
        centRows.toSeq.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)))
      // WIDTH ANCHOR (the r14 item-21 class, found here at decade in
      // round 15): the probe explode, the broadcast candidate join and
      // the dedup's partial aggregate all evaluate MAP-SIDE at the
      // stream scan's partitioning — 2 partitions on a single-file
      // corpus — so the q·8·np·cellpop candidate expansion serialized
      // on 2 tasks (22 s of a 38 s decade wall in one stage). The keyed
      // repartition spreads it; sf0.1 cost is one narrow 8k-row shuffle.
      val probed = toks
        .repartition(S.assignWidth(s), col("q"), col("t"))
        .select(col("q"),
          explode(graft.functions.NearestCentroids.nearest(
            bank, col("tv"), np)).as("cid"))
      val cand = probed.join(standing.select("vec_id", "cid"), "cid")
        .filter(col("vec_id") =!= col("q"))
        .select("q", "vec_id")
        .dropDuplicates("q", "vec_id")
      val e = S.vecs(s, dir)
      // self-scores are per-QUERY constants: one static 1-row-per-new-
      // vector relation (computed once, broadcast) instead of a second
      // 1024-element_at MaxSim evaluation on every candidate pair —
      // the scorer is element_at-bound, so this halves the entry's cpu
      val selfTbl = broadcast(e.filter(col("vec_id") >= tNew && col("vec_id") < tHi)
        .select(col("vec_id").as("q"),
          S.maxSimMicro(col("v"), col("v")).as("selfms")))
      val matches = cand
        .join(e.select(col("vec_id").as("q"), col("v").as("qv2")), "q")
        .join(e.select(col("vec_id"), col("v").as("dv")), "vec_id")
        .select(col("q"), col("vec_id"),
          S.maxSimMicro(col("qv2"), col("dv")).as("ms"))
        .join(selfTbl, "q")
        .filter(col("ms") * 10 >= col("selfms") * 7)
        .select(col("q"), col("vec_id"), col("ms").as("maxsim_micro"))
      StreamingOps.runToMemory(s, matches, name,
          org.apache.spark.sql.streaming.OutputMode.Append(),
          // the one stateful op (candidate dropDuplicates) emits first
          // occurrences eagerly — the flush batch would only evict
          noDataBatch = false)
        .orderBy("q", "vec_id")
    }),

    // Streaming dedup with watermark-bounded state: distinct
    // (user_id, hour) pairs emitted in append mode; the batch oracle is
    // a plain SELECT DISTINCT over the same projection.
    "st_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val name = synchronized { runId += 1; s"st_dedup_$runId" }
      val stream = StreamingOps.eventsStream(s, dir)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      val dd = StreamingOps.dedup(stream, Seq("user_id"), "h", "2 hours")
      StreamingOps.runToMemory(s, dd, name,
          org.apache.spark.sql.streaming.OutputMode.Append(),
          noDataBatch = false) // dropDuplicates emits first-seen eagerly
        .orderBy("user_id", "h")
    }),

    // Sliding windows (1h every 30min): each event contributes to two
    // overlapping windows; the oracle replicates events against both
    // candidate window starts.
    "st_sliding_agg" -> ((s, dir) => {
      val name = synchronized { runId += 1; s"st_sliding_agg_$runId" }
      val out = StreamingOps.runToMemory(
        s, StreamingOps.slidingAgg(StreamingOps.eventsStream(s, dir)), name)
      out.orderBy("wstart", "event_type")
    }),

    // Streaming sessionization via flatMapGroupsWithState — the same
    // custom-state operator the MemoryStream ScalaTest drives, here run
    // over the file stream and oracle-checked against the batch
    // gaps-and-islands SQL. A sentinel stream (same source, timestamps
    // pinned far past the data) closes every real session inside the
    // bounded run: the sentinel lands outside any real session's gap,
    // so the operator emits all real sessions and only the unclosed
    // sentinel sessions stay in state (filtered by construction).
    "st_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.streaming.StreamingOps.SessEvent
      val name = synchronized { runId += 1; s"st_sessionize_$runId" }
      val ev = StreamingOps.eventsStream(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
      val sentinel = StreamingOps.eventsStream(s, dir)
        .select(col("user_id"), col("event_id"),
          lit("2030-01-01 00:00:00").cast("timestamp").as("ts"))
      val sessions = {
        import s.implicits._
        StreamingOps.sessionize(
          ev.unionByName(sentinel).as[SessEvent], gapSeconds = 1800)
      }
      StreamingOps.runToMemory(s, sessions.toDF(), name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy("user_id", "session_idx")
    }),

    // STREAM-STATIC ingest dedup — the real-time half of the ingest
    // story (d_incremental is the nightly batch half): new documents
    // arrive as a stream, are shingled + banded STATELESSLY per row
    // (scalar ShingleHashSet + array_min minhash — no streaming
    // aggregation), probe the standing corpus's band index, and each
    // band hit is exact-Jaccard-verified against the standing shingle
    // set. Entirely stateless except the final pair dropDuplicates, so
    // state is O(emitted dups), not O(stream). The oracle is the
    // from-scratch batch LSH pipeline filtered to old-a/new-b pairs —
    // the gate proves the streaming path equals the batch path.
    "st_ingest_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      val name = synchronized { runId += 1; s"st_ingest_dedup_$runId" }
      val t = graft.Tables.load(s, dir, "documents")
        .agg(max("doc_id")).head().getLong(0) * 4 / 5
      val newDocs = s.readStream.schema(StreamingOps.docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(col("doc_id") >= t)
        .select(col("doc_id"), Dedup.shingleHashCol(col("text")).as("sh"))
      val probes = Dedup.streamBands(newDocs)
      val standing = Dedup.standingIndex(s, dir, t)
      val verified = Dedup.jaccardVerified(
          probes.join(standing, Seq("bi", "bk"))
            .select(col("old_id").as("a"), col("doc_id").as("b"),
              col("old_sh"), col("sh")),
          col("old_sh"), col("sh"), minJac = 0.2)
        .dropDuplicates("a", "b")
      StreamingOps.runToMemory(s, verified, name,
          org.apache.spark.sql.streaming.OutputMode.Append(),
          noDataBatch = false) // band-verify emits eagerly; dedup is first-seen
        .orderBy("a", "b")
    }),

    // Stream-stream LEFT OUTER interval join: unmatched purchases
    // null-pad (e_id -1) only after the watermark closes their join
    // window — the state-eviction semantics the inner join can't show.
    // Oracle = the equivalent batch left join.
    "st_left_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val name = synchronized { runId += 1; s"st_left_join_$runId" }
      val ev = StreamingOps.eventsStream(s, dir)
      val sentinel = StreamingOps.eventsStream(s, dir)
        .withColumn("ts", lit("2030-01-01 00:00:00").cast("timestamp"))
      val out = StreamingOps.runToMemory(s,
        StreamingOps.purchaseErrorLeftJoin(ev, sentinel), name,
        org.apache.spark.sql.streaming.OutputMode.Append())
      out.orderBy("p_id", "e_id")
    }),

    // Stream-stream interval join (purchase ↔ same-user error within
    // the prior hour); the batch oracle is the equivalent interval join.
    "st_join" -> ((s, dir) => {
      val name = synchronized { runId += 1; s"st_join_$runId" }
      val out = StreamingOps.runToMemory(s,
        StreamingOps.purchaseErrorJoin(StreamingOps.eventsStream(s, dir)), name,
        org.apache.spark.sql.streaming.OutputMode.Append(),
        noDataBatch = false) // inner join emits on match; flush only evicts
      out.orderBy("p_id", "e_id")
    }),

    // Streaming incremental rollup: q_inc_agg's standing state
    // maintained from a stream via per-micro-batch IncrementalAgg
    // merges (foreachBatch) — merge associativity makes any batching
    // equal the one-shot aggregate, which is the oracle.
    // CDC apply: the events stream upserts a standing latest-row-per-
    // user table, last-writer-wins on the TOTAL (ts, event_id) version
    // order — batch boundaries and delivery order cannot change the
    // end state, which is the batch argmax the oracle computes.
    "st_cdc_upsert" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = StreamingOps.eventsStream(s, dir)
        .select("event_id", "user_id", "ts", "event_type", "value")
      val acc = new StreamingOps.CdcState(Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc))
      val q = StreamingOps.ingest(ev, acc)
      q.processAllAvailable()
      q.stop()
      val st = acc.current(s, ev.schema)
      graft.CacheBook.register(s, "st")(() => acc.release())
      st.orderBy("user_id")
    }),

    "st_inc_agg" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val stored = s.read.parquet(s"$dir/orders.parquet").schema
      val orders = s.readStream.schema(stored)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
      val acc = new StreamingOps.IncAggState(Seq("o_custkey"), col("o_totalprice"))
      val q = StreamingOps.ingest(orders, acc)
      q.processAllAvailable()
      q.stop()
      val st = acc.current(s, stored)
      graft.CacheBook.register(s, "st")(() => acc.release())
      st.select(col("o_custkey"), col("n"),
          col("total").cast("double").as("total"), col("lo"), col("hi"))
        .orderBy("o_custkey")
    }),

    // STREAMING seasonal-anomaly monitor — q_seasonal's day-of-week
    // readout over daily revenue cells maintained INCREMENTALLY from
    // the order stream (the st_inc_agg mergeable-state machinery
    // keyed on the integer epoch day). The micro-batch merges must be
    // invisible in the end state: the oracle is exactly q_seasonal's
    // batch SQL. At scale the standing state is |days| rows however
    // fast the stream runs — per-batch cost is a day-keyed cell
    // merge, and the seasonal readout is day-grain whenever asked.
    "st_seasonal" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val stored = s.read.parquet(s"$dir/orders.parquet").schema
      val orders = s.readStream.schema(stored)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
        .select(
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
            .as("day"),
          expr("CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)")
            .as("cents"))
      val acc = new StreamingOps.IncAggState(Seq("day"), col("cents"))
      val q = StreamingOps.ingest(orders, acc)
      q.processAllAvailable()
      q.stop()
      val st = acc.current(s, orders.schema)
      graft.CacheBook.register(s, "st")(() => acc.release())
      Relational.seasonalReadout(
        st.select(col("day"), col("total").cast("long").as("tot_cents")))
    }),

    // STREAMING HLL cardinality monitor — q_hll's 64 registers per
    // order priority maintained INCREMENTALLY from the order stream:
    // per-row (grp, reg, rho) is a stateless scalar projection
    // (Relational.hllRows — THE batch observation, shared), and the
    // register table is the st_inc_agg mergeable state keyed on
    // (grp, reg) whose `hi` IS the register max — HLL registers are
    // max-merge state, so micro-batch boundaries are invisible by
    // construction and the oracle is exactly the batch q_hll SQL.
    // Standing state is ≤ groups×64 rows however fast or long the
    // stream runs; the estimate readout is a ≤ 64·|groups|-row fold
    // whenever asked.
    "st_hll" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val stored = s.read.parquet(s"$dir/orders.parquet").schema
      val orders = s.readStream.schema(stored)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
      val obs = Relational.hllRows(orders)
      val acc = new StreamingOps.IncAggState(Seq("grp", "reg"), col("rho"))
      val q = StreamingOps.ingest(obs, acc)
      q.processAllAvailable()
      q.stop()
      val st = acc.current(s, obs.schema)
      graft.CacheBook.register(s, "st")(() => acc.release())
      Relational.hllFinish(
        st.select(col("grp"), col("reg"), col("hi").cast("int").as("mj")),
        s.read.parquet(s"$dir/orders.parquet"))
    }),

    // STREAMING composition-drift monitor — q_chisq's contingency
    // cells maintained INCREMENTALLY from the document stream (the
    // st_inc_agg mergeable-state machinery keyed on (lang, source)),
    // then the chi-square readout runs over the standing cells. The
    // streamed micro-batch merges must be invisible in the end state:
    // the oracle is exactly q_chisq's batch SQL. At scale the cells
    // relation is |langs|·|sources| rows however fast the stream runs
    // — the monitor's cost is the per-batch cell merge, and the
    // readout is cell-sized whenever it is asked for.
    "st_drift" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = s.readStream.schema(StreamingOps.docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val acc = new StreamingOps.IncAggState(Seq("lang", "source"),
        col("n_chars"))
      val q = StreamingOps.ingest(docs, acc)
      q.processAllAvailable()
      q.stop()
      val st = acc.current(s, StreamingOps.docsRawSchema)
      graft.CacheBook.register(s, "st")(() => acc.release())
      Relational.chisqReadout(
        st.select(col("lang"), col("source"), col("n").as("obs")))
    }),

    // STREAMING media-dedup gate — the multimodal sibling of
    // st_ingest_dedup and the streaming half of m_phash_inc: every
    // newly arrived image REAL-decodes to its hash chunks in-stream
    // (stateless mapPartitions — no state store, append mode, restart-
    // safe) and band-probes the STANDING chunk relation (last night's
    // index: the pre-batch images and their twins, built batch-side and
    // persisted as the static join side). A hamming <= 3 hit is the
    // drop/route decision a media landing zone makes before anything
    // lands. Emit-once discipline is the m_phash_near lowest-matching-
    // band predicate (stateless — a streaming DISTINCT would need a
    // state store); new/standing id domains are disjoint by the
    // novelty convention, so no self or new-new pairs exist — the
    // standing side is PROBED, never self-joined, candidate volume is
    // delta-bounded exactly as in m_phash_inc. Only (doc_id, 4 longs)
    // crosses the stream-static join — never pixels.
    "st_media_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val name = synchronized { runId += 1; s"st_media_dedup_$runId" }
      val docsT = graft.Tables.load(s, dir, "documents")
      val maxId = docsT.agg(max("doc_id")).head().getLong(0)
      // the +100000 twin convention bounds novelty recovery (m_phash_inc)
      require(maxId < 100000L,
        s"twin id convention requires base doc_id < 100000, got max $maxId")
      val tNew = maxId * 4 / 5
      val standing = graft.CacheBook.keep(s, "st")(graft.operators.Multimodal.phashNearCorpus(
          docsT.filter(col("doc_id") < tNew).select(col("doc_id")).as[Long])
        .toDF().localCheckpoint(true))
      val hk = Seq("c0", "c1", "c2", "c3")
      def bandsOf(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id") +: hk.map(col) :+
            explode(array((0 to 3).map(ci =>
              struct(lit(ci).as("ci"), col(s"c$ci").as("cv"))): _*)).as("ch"): _*)
          .select(col("doc_id") +: hk.map(col) :+
            col("ch.ci").as("ci") :+ col("ch.cv").as("cv"): _*)
      val standingB = bandsOf(standing)
      val newIds = s.readStream.schema(StreamingOps.docsRawSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(col("doc_id") >= tNew)
        .select(col("doc_id")).as[Long]
      val deltaB = bandsOf(
        graft.operators.Multimodal.phashNearCorpus(newIds).toDF())
      val firstBand = when(col("x.ci") === 0, lit(true))
        .when(col("x.ci") === 1, col("x.c0") =!= col("y.c0"))
        .when(col("x.ci") === 2,
          col("x.c0") =!= col("y.c0") && col("x.c1") =!= col("y.c1"))
        .otherwise(col("x.c0") =!= col("y.c0")
          && col("x.c1") =!= col("y.c1") && col("x.c2") =!= col("y.c2"))
      val matches = deltaB.as("x").join(standingB.as("y"),
          col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv")
            && firstBand)
        .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("dup"),
          hk.map(c => bit_count(col(s"x.$c").bitwiseXOR(col(s"y.$c"))))
            .reduce(_ + _).cast("int").as("dist"))
        .filter(col("dist") <= 3)
      // parquet sink, not memory: the gate harness must not collect
      // the match table to the driver (the decade-corpus match volume
      // broke spark.driver.maxResultSize through the memory sink; the
      // production landing zone writes parquet/kafka anyway)
      StreamingOps.runToParquet(s, matches, name, scope = "st",
        noDataBatch = false) // stateless band gate: emits in the data batch
        .orderBy("doc_id", "dup")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "st_window_agg" ->
      """SELECT date_trunc('hour', ts) AS wstart, event_type,
           count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""",

    // the batch x_qclf pipeline (minus its margin column) — the gate
    // proves the streamed scalar fold == batch explode+groupBy
    "st_qclf_gate" ->
      s"""SELECT doc_id, n_feats, qclf_micro, kept
         FROM (${TextAnalysis.oracleSql("x_qclf")})
         ORDER BY doc_id""",

    // batch mirror of the probe-on-ingest stream: old-seeded centroid
    // draw, old-only assignment, new vectors probe NProbe cells, radius
    // filter in floored micro-units
    "st_ann_ingest" -> {
      import graft.functions.VecOps
      val cos = s"(${VecOps.sqlDot("probes.qv", "assigned.v")}" +
        s" / (probes.qn * assigned.n))"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             ${VecOps.sqlNorm("CAST(embedding AS DOUBLE[])")} AS n
           FROM embeddings),
         t AS (SELECT max(vec_id) * 4 // 5 AS tnew FROM e),
         c0 AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM e
           WHERE vec_id < (SELECT tnew FROM t)
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT ${Similarity.sqlK("e WHERE vec_id < (SELECT tnew FROM t)")}),
         assigned AS (SELECT vec_id, v, n, cid FROM (
             SELECT e.vec_id, e.v, e.n, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS arn
             FROM e, c0 WHERE e.vec_id < (SELECT tnew FROM t)) WHERE arn = 1),
         probes AS (SELECT q, qv, qn, cid FROM (
             SELECT e.vec_id AS q, e.v AS qv, e.n AS qn, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY (${VecOps.sqlDot("e.v", "c0.cv")} / (e.n * c0.cn)) DESC,
                   c0.cid) AS prn
             FROM e, c0 WHERE e.vec_id >= (SELECT tnew FROM t))
           WHERE prn <= ${Similarity.NProbe})
         SELECT probes.q, assigned.vec_id, $cos AS cos
         FROM probes JOIN assigned USING (cid)
         WHERE CAST(floor($cos * 1000000.0) AS BIGINT)
           >= ${Similarity.RangeTauMicro}
         ORDER BY q, vec_id"""
    },

    // batch mirror of the token-index probe-on-ingest (lives in
    // Similarity next to its upsert sibling — shared CTE vocabulary)
    "st_tok_ingest" -> Similarity.sqlTokIngest,

    "st_dedup" ->
      """SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
         FROM events ORDER BY user_id, h""",

    "st_cdc_upsert" ->
      """SELECT event_id, user_id, ts, event_type, value FROM (
           SELECT event_id, user_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id""",

    // streamed cell maintenance must be invisible in the end state:
    // the drift monitor's oracle IS the batch chi-square's SQL
    "st_drift" -> Relational.oracleSql("q_chisq"),

    // the batch seasonal readout verbatim — streamed cell merges must
    // be invisible in the standing daily state
    "st_seasonal" -> Relational.oracleSql("q_seasonal"),

    // register maintenance must be invisible: streamed max-merge state
    // == the batch sketch, so the oracle IS q_hll's SQL
    "st_hll" -> Relational.oracleSql("q_hll"),

    // streaming media-dedup gate: the m_phash_inc chunk pipeline with
    // the candidate join restricted to new-vs-standing (stream side
    // new, static side old — new-new pairs are not the gate's job)
    "st_media_dedup" ->
      s"""WITH t AS (SELECT max(doc_id) * 4 // 5 AS tnew FROM documents),
         ${MultimodalQueries.sqlPhashChunkCtes},
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM ch x JOIN ch y ON x.ci = y.ci AND x.cv = y.cv
           WHERE x.doc_id % 100000 >= (SELECT tnew FROM t)
             AND y.doc_id % 100000 < (SELECT tnew FROM t))
         SELECT a AS doc_id, b AS dup, dist FROM (
           SELECT cand.a, cand.b,
             CAST(bit_count(xor(pa.c0, pb.c0)) + bit_count(xor(pa.c1, pb.c1))
               + bit_count(xor(pa.c2, pb.c2)) + bit_count(xor(pa.c3, pb.c3))
               AS INT) AS dist
           FROM cand JOIN ph pa ON pa.doc_id = cand.a
             JOIN ph pb ON pb.doc_id = cand.b)
         WHERE dist <= 3 ORDER BY doc_id, dup""",

    // streamed micro-batch merges must be invisible in the end state
    "st_inc_agg" ->
      """SELECT o_custkey, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",

    // the batch LSH pipeline restricted to standing-a / new-b pairs:
    // streaming probe == batch from-scratch on exactly those pairs
    "st_ingest_dedup" -> Dedup.sqlMinhash(
      " AND a < (SELECT max(doc_id) * 4 // 5 FROM documents)" +
        " AND b >= (SELECT max(doc_id) * 4 // 5 FROM documents)"),

    "st_join" ->
      """SELECT p.event_id AS p_id, p.user_id, e.event_id AS e_id
         FROM events p JOIN events e
         ON p.event_type = 'purchase' AND e.event_type = 'error'
           AND e.user_id = p.user_id
           AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts < p.ts
         ORDER BY p_id, e_id""",

    "st_left_join" ->
      """SELECT p.event_id AS p_id, p.user_id,
           coalesce(e.event_id, -1) AS e_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
         ON e.user_id = p.user_id
           AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts < p.ts
         ORDER BY p_id, e_id""",

    "st_sliding_agg" ->
      """WITH w AS (
           SELECT make_timestamp(
               (epoch_us(ts) - epoch_us(ts) % 1800000000) - 1800000000 * i) AS wstart,
             event_type, value
           FROM events, unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) AS t(i))
         SELECT wstart, event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM w GROUP BY 1, 2 ORDER BY wstart, event_type""",

    // same gaps-and-islands math as q_sessionize's oracle, with the
    // streaming operator's INT index/count types
    "st_sessionize" ->
      """WITH marked AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_idx
           FROM marked)
         SELECT user_id, session_idx, CAST(count(*) AS INT) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
         FROM sess GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""
  )
}
