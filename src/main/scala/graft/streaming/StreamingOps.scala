package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Pack H — Structured Streaming operators.
  *
  * Streams are the same declarative programs as batch: readStream →
  * transforms → writeStream. At 100 TB/day the state store is the scale
  * concern: watermarks bound state for windows/dedup, and the custom
  * sessionizer evicts per-key state on event-time timeout.
  */
object StreamingOps {

  // (no hardcoded events schema: ts arrives as int64 nanos or as
  // TIMESTAMP_NTZ micros depending on corpus vintage — eventsStream
  // probes the footer and normalizes via graft.Tables.normalizeEventTs)

  /** documents schema as stored — the ingest-dedup stream's source. */
  val docsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** embeddings schema as stored — the ANN probe-on-ingest source. */
  val embRawSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source stream over the events parquet with proper timestamps.
    * The stored schema is probed from the footer via a batch read (one
    * driver-side metadata call) so the stream works against both corpus
    * vintages of events.ts. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val stored = spark.read.parquet(s"$dir/events.parquet").schema
    spark.readStream
      .schema(stored)
      .option("pathGlobFilter", "events.parquet") // file source needs a dir
      .parquet(dir)
      .withColumn("ts", graft.Tables.normalizeEventTs(stored("ts").dataType))
  }

  /** Tumbling 1-hour window aggregation with a watermark. Watermark
    * bounds state at scale; `complete` output in the bounded demo so
    * every window flushes (append would hold the tail window open). */
  def windowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 1-hour windows every 30 minutes: each event lands in two
    * overlapping windows (state = win/slide concurrent windows per key,
    * still watermark-bounded). */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("sum_value"))

  /** Run a bounded stream to completion into a memory sink; returns the
    * materialized result. This is a REAL streaming execution (source →
    * state store → sink), just over a finite input. */
  /** Throwaway session clone carrying the bounded-stream SQL conf —
    * state-store width 8, scoped to stream state volume (each store
    * pays per-commit IO every micro-batch), background snapshot
    * maintenance pushed out (pure IO on short bounded runs), and
    * optionally the no-data-batch policy. A CLONE rather than set/restore on the shared session:
    * graft.Verify submits queries on a 4-thread pool, and a scoped conf
    * on the shared session races concurrent query starts (measured:
    * a leaked no-data-batch=false swallowed st_left_join's
    * watermark-flush emission). The clone dies with the query. */
  private def streamSession(spark: SparkSession,
      noDataBatch: Boolean): SparkSession = {
    val ss = org.apache.spark.sql.graftbridge.SessionBridge.cloneSession(spark)
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    ss.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    // noDataBatch = false (round 15): a query whose every result row is
    // emitted EAGERLY in the data batch (inner stream-stream join,
    // dropDuplicates, stateless projections) gets nothing from the
    // watermark-advance no-data micro-batch — it replans, recommits
    // the WAL and rewrites every state store (~a full batch's fixed
    // cost measured) purely to evict state a bounded run is about to
    // drop anyway. Queries whose EMISSION is watermark-gated (outer
    // join null-padding, sessionize timeouts) keep the default — the
    // flush batch is their output path.
    if (!noDataBatch)
      ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    ss
  }

  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete(),
      noDataBatch: Boolean = true): DataFrame = {
    val ss = streamSession(spark, noDataBatch)
    val q = org.apache.spark.sql.graftbridge.SessionBridge.withSession(ss, df)
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .start()
    q.processAllAvailable()
    q.stop()
    // the memory sink's table registers in the CLONE's temp catalog
    ss.table(name)
  }

  /** [[runToMemory]] with a PARQUET sink (append-mode streams only):
    * the result lands as files and reads back lazily, so the driver
    * never holds the emitted table (the memory sink collects it — at
    * the 10x replica decade corpus st_media_dedup's match volume
    * exceeded spark.driver.maxResultSize through exactly that collect;
    * the production path is a parquet/kafka sink anyway, so the gate
    * harness now exercises the production sink shape). Same width /
    * maintenance scoping; the output+checkpoint dirs register for the
    * caller's CacheBook scope so a session can reclaim them. */
  def runToParquet(spark: SparkSession, df: DataFrame, name: String,
      scope: String, noDataBatch: Boolean = true): DataFrame = {
    // same per-query conf clone as [[runToMemory]] — never the shared
    // session (the Verify pool races scoped set/restore)
    val ss = streamSession(spark, noDataBatch)
    val out = java.nio.file.Files.createTempDirectory(s"graft_stream_$name")
    val q = org.apache.spark.sql.graftbridge.SessionBridge.withSession(ss, df)
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/cp")
      .outputMode(OutputMode.Append())
      .start()
    q.processAllAvailable()
    q.stop()
    graft.CacheBook.register(spark, scope) { () =>
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
      }
      rm(out.toFile)
    }
    // read back via the sink's OWN schema (the stream may emit zero
    // rows; the metadata log still carries the schema)
    spark.read.schema(df.schema).parquet(s"$out/data")
  }

  // --- streaming sessionization (flatMapGroupsWithState) --------------

  final case class SessEvent(user_id: Long, event_id: Long, ts: Timestamp)
  /** start/end in epoch MICROSECONDS — java.sql.Timestamp.getTime alone
    * is millisecond-truncated, which breaks exact-match against the
    * microsecond-precision batch sessionization. */
  final case class SessState(start: Long, end: Long, n: Int, idx: Int)
  final case class Session(user_id: Long, session_idx: Int, n_events: Int,
      session_start: Timestamp, session_end: Timestamp)

  /** Serializable μs↔Timestamp converters: the sessionize closure ships
    * to executors, so these live on a tiny Serializable holder instead
    * of the (non-serializable-capturing) enclosing object. */
  private object Micros extends Serializable {
    def to(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def from(us: Long): Timestamp = {
      val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
  }

  /** Event-time sessionization with a gap timeout: state holds only the
    * OPEN session per key; a session closes (and emits) when a new event
    * arrives past the gap, or when the watermark times the key out. */
  def sessionize(events: Dataset[SessEvent], gapSeconds: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L

    def fn(userId: Long, incoming: Iterator[SessEvent],
        state: GroupState[SessState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(Session(userId, s.idx, s.n, Micros.from(s.start), Micros.from(s.end)))
      }
      val sorted = incoming.toSeq.sortBy(e => (Micros.to(e.ts), e.event_id))
      var out = List.empty[Session]
      var cur = state.getOption
      sorted.foreach { e =>
        val t = Micros.to(e.ts)
        cur match {
          case Some(s) if t - s.end <= gapUs =>
            cur = Some(s.copy(end = math.max(s.end, t), n = s.n + 1))
          case Some(s) =>
            out ::= Session(userId, s.idx, s.n, Micros.from(s.start), Micros.from(s.end))
            cur = Some(SessState(t, t, 1, s.idx + 1))
          case None =>
            cur = Some(SessState(t, t, 1, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // timeout API is millisecond-based; round UP so a timeout never
        // fires a microsecond early
        state.setTimeoutTimestamp(Math.floorDiv(s.end + gapUs + 999L, 1000L))
      }
      out.reverseIterator
    }

    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Stream-stream interval join: purchases matched to same-user errors
    * in the preceding hour. Both sides carry watermarks and the join
    * condition bounds event-time on BOTH ends — that's what lets the
    * state store evict rows once the watermark passes the interval, so
    * state stays O(window), not O(stream). */
  def purchaseErrorJoin(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val e = events.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("e_user"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "2 hours")
    p.join(e,
      col("user_id") === col("e_user")
        && col("e_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
        && col("e_ts") < col("p_ts"))
      .select(col("p_id"), col("user_id"), col("e_id"))
  }

  /** Stream-stream LEFT OUTER interval join: every purchase emits — with
    * its prior-hour same-user errors, or null-padded if none arrived.
    * This is the semantics inner st_join can't show: the null-padded
    * row for an unmatched purchase is held in state and emitted ONLY
    * once the watermark passes its join window (before that, a matching
    * error could still arrive). A far-future sentinel unioned into BOTH
    * inputs pushes the final watermark past every real row inside the
    * bounded run (the st_sessionize trick), flushing all outer results;
    * sentinel-origin rows filter out by timestamp. Sentinels cannot
    * self-match: the condition is strict (e_ts < p_ts) and sentinel
    * rows share one timestamp. State stays O(interval) per key at
    * scale — the two-sided event-time bounds are what let the engine
    * evict. */
  def purchaseErrorLeftJoin(events: DataFrame, sentinel: DataFrame): DataFrame = {
    val src = events.unionByName(sentinel)
    val p = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val e = src.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("e_user"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "2 hours")
    p.join(e,
        col("user_id") === col("e_user")
          && col("e_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
          && col("e_ts") < col("p_ts"),
        "leftOuter")
      .filter(col("p_ts") < lit("2029-01-01 00:00:00").cast("timestamp"))
      .select(col("p_id"), col("user_id"),
        coalesce(col("e_id"), lit(-1L)).as("e_id"))
  }

  /** Streaming dedup by key with bounded state: duplicates within the
    * watermark horizon are dropped; state ages out with the watermark. */
  def dedup(events: DataFrame, keyCols: Seq[String], watermarkCol: String,
      delay: String): DataFrame =
    events.withWatermark(watermarkCol, delay)
      .dropDuplicates(keyCols :+ watermarkCol)

  /** Streaming ANN-index ingest — the REAL-TIME half of standing-index
    * maintenance (the nightly half is [[graft.sources.AnnIndexStore
    * .append]], the repair half [[graft.sources.AnnIndexStore
    * .compact]]): every micro-batch of new embeddings (vec_id, v, n) is
    * assigned to the STANDING centroids and its rows land in the live
    * cell directories via foreachBatch. Because assignment is
    * per-vector against a fixed centroid table, ANY micro-batching of
    * the same vectors produces the identical cells relation as a
    * one-shot batch append — so a query probing the store mid-stream
    * sees a consistent (if partial) index, and streamed == nightly
    * ingest end-state (spec-held in StreamingSpec against the batch
    * path). Exactly-once caveat, stated rather than hidden: the
    * parquet append is not idempotent, so a micro-batch replayed after
    * a sink-side crash would duplicate rows — at scale either
    * dedup-on-read by (vec_id, file) or route replays through
    * [[graft.sources.AnnIndexStore.compact]] with the duplicate ids
    * retired. SINGLE-WRITER contract as every store: pause the stream
    * around a compact/write pointer swap. */
  def annIngest(vecs: DataFrame, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          graft.sources.AnnIndexStore.append(batch.sparkSession, path, batch)
      }
      .start()

  /** Streaming MEDIA ingestion — the landing-zone shape: watch a
    * directory through the binaryFile streaming source (each
    * micro-batch is exactly the newly arrived files; the source
    * tracks seen files in its checkpoint), decode on the executors,
    * append decoded features to the feature store. Stateless —
    * no watermark, no state store; `maxFilesPerTrigger` bounds a
    * micro-batch so one bulk drop of a million files cannot become
    * one giant batch. Decode parallelism inside a batch is
    * file-count-bound like any binaryFile read — the blob bridge
    * row-balances before the ImageIO fan-out
    * ([[graft.sources.MediaSource.blobs]] semantics, inlined here on
    * the batch frame). */
  def mediaIngest(spark: SparkSession, dir: String, glob: String,
      outPath: String, checkpoint: String, maxFilesPerTrigger: Int = 256)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions._
    // the binaryFile schema is FIXED by the source; streaming reads
    // must state it (no inference pass on a stream)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    spark.readStream.format("binaryFile")
      .schema(schema)
      .option("pathGlobFilter", glob)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          import s.implicits._
          val idStr = regexp_extract(col("path"), "(\\d+)\\.[A-Za-z0-9]+$", 1)
          val blobs = batch.select(
              coalesce(when(idStr =!= lit(""), idStr.cast("long")),
                abs(xxhash64(col("content")))).as("doc_id"),
              col("content").as("bytes"),
              lit("image/png").as("kind"))
            .repartition(s.sparkContext.defaultParallelism)
            .as[graft.operators.Multimodal.Blob]
          graft.operators.Multimodal.decodeBlobs(blobs).toDF()
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outPath)
        }
      }
      .start()
  }


  /** Standing state maintained from a stream by per-micro-batch
    * recomputation: `computeNext(batch)` folds the batch into the
    * current state, and the result is eagerly checkpoint-materialized
    * before the trigger completes (the source micro-batch frame is
    * transient — an unmaterialized plan would reference it afterward).
    * The previous checkpoint's blocks free on each swap; `release`
    * frees the last. One swap protocol shared by every ingest flavor. */
  sealed abstract class MicroBatchState {
    protected var state: Option[DataFrame] = None

    /** Fold `batch` into `state` (None = first batch). */
    protected def computeNext(batch: DataFrame): DataFrame

    /** The state to report when NOTHING arrived, from the input schema. */
    protected def emptyState(spark: SparkSession, inputSchema: StructType): DataFrame

    final protected def emptyInput(spark: SparkSession,
        inputSchema: StructType): DataFrame =
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), inputSchema)

    final def absorb(batch: DataFrame): Unit = synchronized {
      val cp = computeNext(batch).localCheckpoint(true)
      state.foreach(graft.CacheBook.unpersistCheckpoint)
      state = Some(cp)
    }

    final def current(spark: SparkSession, inputSchema: StructType): DataFrame =
      synchronized { state.getOrElse(emptyState(spark, inputSchema)) }

    final def release(): Unit = synchronized {
      state.foreach(graft.CacheBook.unpersistCheckpoint)
      state = None
    }
  }

  /** Maintain `acc` from a stream of rows via foreachBatch. Starts from
    * a stream-conf clone ([[streamSession]]) so the per-batch fold
    * plans run at the stream width without touching the shared
    * session's conf (the former withStreamConf set/restore raced
    * graft.Verify's concurrent query submissions). */
  def ingest(rows: DataFrame, acc: MicroBatchState)
      : org.apache.spark.sql.streaming.StreamingQuery =
    org.apache.spark.sql.graftbridge.SessionBridge
      .withSession(streamSession(rows.sparkSession, noDataBatch = true), rows)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) acc.absorb(batch.toDF())
      }
      .start()

  /** Standing per-key rollup state maintained from a stream — the
    * real-time half of q_inc_agg's nightly merge (the batch half is
    * `IncrementalAgg.merge` over a persisted state table). State stays
    * key-sized whatever the stream volume; per-batch merge cost is
    * |state| + |batch keys|. Because merge is associative+commutative
    * (IncAggSpec), ANY micro-batching of the input lands on the
    * one-shot aggregate — what both the DuckDB oracle and the
    * 3-batch StreamingSpec check. */
  final class IncAggState(keys: Seq[String],
      value: org.apache.spark.sql.Column) extends MicroBatchState {
    protected def computeNext(batch: DataFrame): DataFrame = {
      val delta = graft.operators.IncrementalAgg.state(batch, keys, value)
      state match {
        case Some(st) => graft.operators.IncrementalAgg.merge(keys, st, delta)
        case None     => delta
      }
    }
    protected def emptyState(spark: SparkSession,
        inputSchema: StructType): DataFrame =
      graft.operators.IncrementalAgg.state(
        emptyInput(spark, inputSchema), keys, value)
  }

  /** Standing table maintained from a CHANGE stream by
    * last-writer-wins upsert — the CDC-apply operator (the MERGE INTO
    * of a lakehouse table format, expressed as a keyed window): each
    * micro-batch unions into the standing state and the winner per key
    * is picked by the TOTAL version order `ordering` (e.g. ts DESC
    * then a unique id DESC — totality is what makes the result
    * independent of batch boundaries AND of delivery order, unlike
    * insert-only IncAggState which only needs associativity). State
    * stays key-sized; per-batch cost is a key-shuffle of |state| +
    * |batch|. At warehouse scale the same window runs per partition
    * of a date-bucketed state table so a batch only rewrites the
    * buckets it touches. */
  final class CdcState(keys: Seq[String],
      ordering: Seq[org.apache.spark.sql.Column]) extends MicroBatchState {
    protected def computeNext(batch: DataFrame): DataFrame = {
      val merged = state.map(_ unionByName batch).getOrElse(batch)
      // rank-column name must not collide with a payload column (CDC
      // feeds commonly carry upstream row-number metadata)
      val rn = Iterator.from(0).map(i => s"__rn$i")
        .find(n => !merged.columns.contains(n)).get
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(ordering: _*)
      merged.withColumn(rn, row_number().over(w))
        .filter(col(rn) === 1).drop(rn)
    }
    protected def emptyState(spark: SparkSession,
        inputSchema: StructType): DataFrame =
      emptyInput(spark, inputSchema)
  }
}
