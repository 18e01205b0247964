package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans.SchemaGraph

/** Root of a slice: a table plus a SQL condition selecting its seed rows
  * (reference: `DumpRoot`, slice_db/formats/dump.py:57-63). */
final case class SliceRoot(table: String, condition: String)

object Slicer {
  /** Whether forward FK values may be taken as discovered parent keys
    * without a validating scan (see the class-doc INTEGRITY CAVEAT).
    * Default true — matches the reference's enforced-FK source
    * assumption; set SPARK_GRAFT_SLICE_TRUST_FK=false for lake data of
    * unknown integrity. Read per call so tests and long-lived sessions
    * can flip it. */
  def trustForwardKeys: Boolean =
    !sys.env.get("SPARK_GRAFT_SLICE_TRUST_FK").exists(_.equalsIgnoreCase("false")) &&
      !java.lang.Boolean.getBoolean("graft.slice.distrustForwardKeys")

  /** REFCOUNTED discovery execution profile (pinned narrow shuffle
    * width + AQE off — see the rationale at the [[Slicer.discover]]
    * call site). A plain save/set/restore races when two discoveries
    * overlap: the first to finish would restore the session width under
    * the one still running (the reason slice_diff's two discoveries ran
    * sequentially through round 14). Every entrant pins the SAME
    * values, so the scope is safely shared: the first entrant (per
    * session) saves the session conf and pins, later entrants only bump
    * the count, and the LAST exit restores. AQE's per-stage re-planning
    * adds scheduling latency to every exchange in a round's join chain,
    * and discovery already knows what AQE would learn at runtime (key
    * counts gate the broadcast hints explicitly) — A/B-measured; at
    * warehouse scale SPARK_GRAFT_SLICE_AQE=true keeps AQE on. */
  private val scopeState =
    collection.mutable.Map.empty[SparkSession, (Int, String, String)]

  /** Public alias: run `body` under the pinned discovery profile (for
    * slice-entry readouts that materialize small results over the
    * discovered key sets — same refcounting, safe next to a live
    * discovery). */
  def pinned[T](spark: SparkSession)(body: => T): T =
    discoveryScope(spark)(body)

  private[operators] def discoveryScope[T](spark: SparkSession)(body: => T): T = {
    val widthKey = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    scopeState.synchronized {
      scopeState.get(spark) match {
        case Some((depth, w, a)) => scopeState(spark) = (depth + 1, w, a)
        case None =>
          scopeState(spark) = (1, spark.conf.get(widthKey), spark.conf.get(aqeKey))
          spark.conf.set(widthKey,
            sys.env.getOrElse("SPARK_GRAFT_SLICE_PARTITIONS", "8"))
          spark.conf.set(aqeKey,
            sys.env.getOrElse("SPARK_GRAFT_SLICE_AQE", "false"))
      }
    }
    try body
    finally scopeState.synchronized {
      val (depth, w, a) = scopeState(spark)
      if (depth == 1) {
        scopeState.remove(spark)
        spark.conf.set(widthKey, w)
        spark.conf.set(aqeKey, a)
      } else scopeState(spark) = (depth - 1, w, a)
    }
  }
}

/** Graph-guided subsetting — the Spark-native re-expression of the
  * reference's dump discovery loop (slice_db/dump_memory.py,
  * slice_db/dump.py:330-370).
  *
  * The reference walks the FK graph breadth-first, keeping every
  * discovered row ID in driver RAM (`_DiscoveryResult`, an IntSet per
  * table) and issuing one SQL query per (segment, reference). That caps
  * out at RAM; graft instead keeps the discovered key set of each table
  * as a DataFrame and advances the whole frontier one BFS round at a
  * time:
  *
  *   frontier FK values --forward ref--> parent keys  (child pulls parents)
  *   frontier keys --reverse ref--> child keys        (parent pulls children)
  *   new keys = candidates ANTI JOIN discovered       (the IntSet dedup)
  *
  * Scale posture (100 TB): nothing is ever collected to the driver; each
  * round is a handful of semi/anti joins that shuffle on the FK columns.
  * Rounds are bounded by the FK-graph diameter, not the data size, and a
  * round costs exactly ONE Spark action (a fused count+max over every
  * fresh frontier). Three things keep the per-round scan count minimal:
  *
  *   - frontier frames are AUGMENTED with the FK columns the next round
  *     needs, so expansion never re-reads the rows behind the frontier
  *     (the r03 BFS re-scanned the frontier's own table every round);
  *   - FK values aimed at an already-discovered table are anti-joined
  *     against the seen keys FIRST, shrinking the re-discovery
  *     semi-join's build side (under SPARK_GRAFT_SLICE_AQE=true, AQE
  *     can then eliminate the scan at runtime; discovery disables AQE
  *     by default, where the win is the smaller build side);
  *   - when an FK targets the parent's primary key and the parent needs
  *     no aux columns, the FK values ARE the discovered keys — the
  *     parent table is not scanned at all during discovery (the same
  *     FK-value semantics the reference's manifest counts).
  *
  * INTEGRITY CAVEAT (the forward no-scan shortcut): treating FK values
  * as discovered parent keys assumes referential integrity — true for
  * the reference's PostgreSQL source, where the database enforces FKs,
  * but nothing enforces it in parquet/lake data. A dangling FK value
  * becomes a phantom key there: the manifest and sequences over-report
  * (key count / max over keys), while rows() silently returns fewer
  * rows than the manifest claims and restore-side validation fails
  * after the fact. Set SPARK_GRAFT_SLICE_TRUST_FK=false for sources of
  * unknown integrity: every forward candidate then validates through
  * the same semi-join scan the reverse path always uses (one extra
  * scan per parent table per round — correctness over speed).
  */
final class Slicer(
    graph: SchemaGraph,
    loadTable: String => DataFrame,
    broadcastKeyLimit: Long = 1000000L) {

  private def keyCols(t: String): Seq[String] = graph.table(t).key

  /** FK columns a frontier frame of `t` carries so the NEXT round can
    * expand straight off the cached frontier. */
  private def auxCols(t: String): Seq[String] =
    (graph.refsFrom(t).flatMap(_.columns) ++ graph.refsTo(t).flatMap(_.refColumns))
      .distinct.filterNot(keyCols(t).contains)

  private def augCols(t: String): Seq[String] = keyCols(t) ++ auxCols(t)

  /** BFS to fixpoint; returns the discovered key set per table. */
  def discoverKeys(roots: Seq[SliceRoot]): Map[String, DataFrame] =
    discover(roots)._1

  /** Incremental slice: extend a completed discovery with NEW roots
    * without re-walking what it already found. A finished key set is
    * closed under expansion (every neighbor of a discovered key is
    * discovered), so seeding the BFS with `prev`'s keys as the
    * already-seen state and anti-joining the new seeds against it
    * reaches exactly the keys of a from-scratch slice over the union of
    * roots — but the frontier only ever carries the DELTA. At 100 TB
    * this is the refresh path: nightly roots extend yesterday's slice
    * at the cost of the new data only. */
  def extend(prev: SliceResult, roots: Seq[SliceRoot]): SliceResult = {
    val (keys, counts, maxes) =
      discover(roots, prev.keys, prev.keyCounts, prev.keyMaxes)
    new SliceResult(graph, loadTable, keys, counts, maxes, broadcastKeyLimit)
  }

  /** How many persisted key generations a table accumulates before they
    * are compacted into one localCheckpoint'd frame. Generations are
    * individually cached, so anti-joins against their lazy union stay
    * cheap; compaction only exists to bound plan width on FK graphs far
    * deeper than any real schema. Between compactions a BFS round costs
    * exactly ONE Spark action (the fused count+max) — per-round eager
    * checkpoints measured 2-3x slower. */
  private val compactEvery = 8

  /** Discovery plus the exact key count and max(key) per table. Both
    * fall out of the per-round termination test for free: the count
    * gates broadcasts and IS the manifest (keys are the declared primary
    * key, so key count == row count), the max IS the sequence capture —
    * so manifest/sequences consumers cost zero extra Spark jobs.
    *
    * @param priorKeys / @param priorCounts / @param priorMaxes a previous
    *   discovery's closed key state to extend incrementally */
  private def discover(
      roots: Seq[SliceRoot],
      priorKeys: Map[String, DataFrame] = Map.empty,
      priorCounts: Map[String, Long] = Map.empty,
      priorMaxes: Map[String, Long] = Map.empty)
      : (Map[String, DataFrame], Map[String, Long], Map[String, Long]) = {
    // scope shuffle width to the key traffic, not the session default:
    // discovery shuffles key columns only (a reduction of the row data),
    // and a BFS round chains several exchanges whose per-task overhead
    // is the dominant cost once key sets are small relative to the
    // cluster. Same knob pattern as ConnectedComponents; on a cluster
    // size it to the expected key volume via the env var. The scope is
    // REFCOUNTED ([[Slicer.discoveryScope]]) so independent discoveries
    // may run concurrently (slice_diff overlaps its two root cohorts):
    // all entrants pin the same values, and only the last exit restores
    // the session conf.
    Slicer.discoveryScope(SparkSession.active) {
      discoverLoop(roots, priorKeys, priorCounts, priorMaxes)
    }
  }

  private def discoverLoop(
      roots: Seq[SliceRoot],
      priorKeys: Map[String, DataFrame],
      priorCounts: Map[String, Long],
      priorMaxes: Map[String, Long])
      : (Map[String, DataFrame], Map[String, Long], Map[String, Long]) = {
    // per-table KEY-ONLY generations (anti-join state + final output) and
    // the persisted aug frames backing them (unpersisted on compaction)
    var genKeys: Map[String, Vector[DataFrame]] =
      priorKeys.map { case (t, k) => t -> Vector(k) }
    var genBases = Map.empty[String, Vector[DataFrame]]
    var counts = Map.empty[String, Long].withDefaultValue(0L) ++ priorCounts
    var maxes = Map.empty[String, Long] ++ priorMaxes
    var frontier = Map.empty[String, (DataFrame, Long)] // aug frame, count
    def seenOf(t: String): Option[DataFrame] =
      genKeys.get(t).map(_.reduce(_ union _))

    var round = 0

    /** Persist fresh frontiers, materialize the round's count+max stats,
      * fold the survivors into the discovered state. Round 15: one
      * SMALL ACTION PER FRAME, run concurrently, instead of the r14
      * single fused action — the fused plan was one job, but its
      * broadcast builds (one per semi/anti join in the round's chains)
      * ran as strictly SEQUENTIAL driver jobs, and the event-log
      * timeline showed the round's wall dominated by the ~0.1-0.2 s
      * planning gaps between those jobs, not by task time (guide §2.6:
      * actions are only sequential because the driver calls them
      * sequentially). The per-frame actions plan, build broadcasts and
      * schedule concurrently on [[graft.Par]]'s bounded per-call pool,
      * each under the job description `slice/round-<k>/<table>`; the
      * per-table stats rows are identical. */
    def ingest(fresh: Seq[(String, DataFrame)]): Unit = {
      val t0 = System.nanoTime()
      frontier = Map.empty
      val persisted = fresh.map { case (t, df) =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        // session-lifetime discovery state is family-scoped: the cache
        // manager holds persisted frames forever unless unpersisted, so
        // every generation registers for release (double-unpersist from
        // the compaction path below is a harmless no-op)
        graft.CacheBook.register(p.sparkSession, "slice")(() => { p.unpersist(false); () })
        t -> p
      }
      val k = round
      round += 1
      graft.Par.each(persisted) { case (t, df) =>
        df.sparkSession.sparkContext.setJobDescription(s"slice/round-$k/$t")
        val (n, mx) = countMaxOne(t, df)
        (t, (df, n, mx))
      }.foreach { case (t, (df, n, mx)) =>
        if (n > 0) {
          frontier += t -> (df, n)
          counts += t -> (counts(t) + n)
          mx.foreach(m => maxes += t -> math.max(maxes.getOrElse(t, Long.MinValue), m))
          val bases = genBases.getOrElse(t, Vector.empty) :+ df
          val keysV = genKeys.getOrElse(t, Vector.empty) :+
            df.select(keyCols(t).map(col): _*)
          if (keysV.size < compactEvery) {
            genBases += t -> bases
            genKeys += t -> keysV
          } else {
            // compact: one checkpointed frame replaces the generation
            // stack, bounding plan width on very deep FK graphs. The
            // live frontier frame stays persisted (the next round still
            // expands it); it is released on the NEXT compaction.
            val merged = keysV.reduce(_ union _).localCheckpoint(true)
            graft.CacheBook.register(merged.sparkSession, "slice")(() =>
              graft.CacheBook.unpersistCheckpoint(merged))
            bases.filterNot(_ eq df).foreach(_.unpersist())
            genBases += t -> Vector(df)
            genKeys += t -> Vector(merged)
          }
        } else df.unpersist()
      }
      // operational visibility only; no behavior change
      if (sys.env.contains("GRAFT_SLICE_DEBUG"))
        System.err.println(f"[slicer] round: ${(System.nanoTime() - t0) / 1e9}%.2fs " +
          s"fresh=${frontier.map { case (t, (_, n)) => s"$t:$n" }.mkString(",")}")
    }

    // seed: root conditions (multi-root unions on the same table dedup
    // through the same anti-join path as everything else); when
    // extending, seeds already covered by the prior slice drop out here
    val seeds = roots.groupBy(_.table).map { case (t, rs) =>
      val cond = rs.map(r => s"(${r.condition})").mkString(" OR ")
      val sel = loadTable(t).filter(expr(cond))
        .select(augCols(t).map(col): _*).distinct()
      t -> (seenOf(t) match {
        case Some(seen) => sel.join(seen, keyCols(t), "left_anti")
        case None       => sel
      })
    }
    ingest(seeds.toSeq)

    while (frontier.nonEmpty) {
      /** Candidate aug frame for target `tt` reached through join
        * columns `jc` carrying the (distinct, null-free) FK value set
        * `vals`; `small` = the source frontier fits a broadcast;
        * `forward` = a child frontier pulling its parents. */
      def candidate(tt: String, jc: Seq[String], vals: DataFrame,
          small: Boolean, forward: Boolean): DataFrame = {
        val keyRef = jc == keyCols(tt) // join lands on the target's primary key
        // keys already discovered can't be fresh: anti-join the value
        // set against the seen keys FIRST — on the default path (AQE
        // off, see discover()) this shrinks the semi-join's build side
        // (often to empty, making the probe a hash-lookup no-op); only
        // under SPARK_GRAFT_SLICE_AQE=true can AQE go further and
        // eliminate the re-discovery scan outright at runtime
        val fresh = if (keyRef) seenOf(tt) match {
          case Some(seen) if counts(tt) <= broadcastKeyLimit =>
            vals.join(broadcast(seen), jc, "left_anti")
          case Some(seen) => vals.join(seen, jc, "left_anti")
          case None       => vals
        } else vals
        // FORWARD only, and only while FK values can be TRUSTED
        // (Slicer.trustForwardKeys): FK values onto an aux-free PK ARE
        // the candidate keys — no scan. This leans on referential
        // integrity (an FK value names an existing parent row), which
        // holds for an enforced-constraint source but NOT necessarily
        // for lake data — see the class doc for the failure mode and
        // the SPARK_GRAFT_SLICE_TRUST_FK opt-out. The shortcut must
        // NEVER fire on reverse traversal regardless: integrity says
        // nothing about a parent key existing in a child (a 1:1
        // extension table keyed by the parent's key may cover only some
        // parents), so reverse candidates always validate against a
        // real scan of the child.
        if (forward && keyRef && auxCols(tt).isEmpty && Slicer.trustForwardKeys) fresh
        else {
          val build = if (small) broadcast(fresh) else fresh
          loadTable(tt).join(build, jc, "left_semi")
            .select(augCols(tt).map(col): _*)
        }
      }

      // gather candidate keys per adjacent table from every live frontier
      val candidates = collection.mutable.Map.empty[String, Vector[DataFrame]]
      frontier.foreach { case (t, (aug, n)) =>
        val small = n <= broadcastKeyLimit
        def valsOf(cols: Seq[String], renameTo: Seq[String]): DataFrame =
          aug.select(cols.map(col): _*).na.drop("any").distinct()
            .toDF(renameTo: _*)
        graph.refsFrom(t).foreach { r => // forward: child -> parent
          val c = candidate(r.refTable, r.refColumns,
            valsOf(r.columns, r.refColumns), small, forward = true)
          candidates(r.refTable) = candidates.getOrElse(r.refTable, Vector.empty) :+ c
        }
        graph.refsTo(t).foreach { r => // reverse: parent -> children
          val c = candidate(r.table, r.columns,
            valsOf(r.refColumns, r.columns), small, forward = false)
          candidates(r.table) = candidates.getOrElse(r.table, Vector.empty) :+ c
        }
      }

      // one fused action per ROUND (not per table)
      ingest(candidates.toSeq.map { case (tt, dfs) =>
        val cand = dfs.map(_.select(augCols(tt).map(col): _*))
          .reduce(_ union _).distinct()
        tt -> (seenOf(tt) match {
          case Some(seen) => cand.join(seen, keyCols(tt), "left_anti")
          case None       => cand
        })
      })
    }
    (genKeys.map { case (t, v) => t -> v.reduce(_ union _) }, counts, maxes)
  }

  /** Count + max(first key, cast long) of one (persisted) frontier
    * frame — the action each [[ingest]] future runs. The count gates
    * broadcasts and IS the manifest; the max IS the sequence capture.
    * A non-castable (e.g. string) key yields None. */
  private def countMaxOne(t: String, df: DataFrame): (Long, Option[Long]) = {
    val r = df.groupBy().agg(
        count(lit(1)).as("n"),
        max(col(keyCols(t).head).cast("long")).as("mx"))
      .collect().head
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
  }

  /** Run discovery ONCE; everything (rows, manifest, sequences) derives
    * from the cached key sets and their already-known counts/maxes. */
  def run(roots: Seq[SliceRoot]): SliceResult = {
    val (keys, counts, maxes) = discover(roots)
    new SliceResult(graph, loadTable, keys, counts, maxes, broadcastKeyLimit)
  }

  /** Full slice: the actual rows of every discovered table. */
  def slice(roots: Seq[SliceRoot]): Map[String, DataFrame] = run(roots).allRows

  /** One table of a slice (empty if the table is unreachable). */
  def sliceTable(roots: Seq[SliceRoot], table: String): DataFrame =
    run(roots).rows(table)
}

/** A completed discovery: per-table key sets (persisted/checkpointed small
  * DataFrames of key columns only) plus the key counts/maxes the BFS
  * already measured. Row materialization is a single semi-join per table
  * against the full table — filter/column pushdown still reaches the scan
  * because keys are a separate tiny relation. Manifest and sequences are
  * DRIVER-LOCAL metadata (zero Spark jobs) whenever discovery supplied
  * complete counts/maxes. */
final class SliceResult(
    graph: SchemaGraph,
    loadTable: String => DataFrame,
    val keys: Map[String, DataFrame],
    val keyCounts: Map[String, Long] = Map.empty,
    val keyMaxes: Map[String, Long] = Map.empty,
    broadcastKeyLimit: Long = 1000000L) {

  private def keyCols(t: String): Seq[String] = graph.table(t).key

  /** Declared key columns of a sliced table — the default bucket /
    * co-location key for warehouse-landing writers
    * ([[graft.sources.SliceWriter]]'s bucketed layout). */
  def keyColumns(table: String): Seq[String] = keyCols(table)

  /** Rows behind a table's discovered keys. The broadcast hint is gated
    * by the key count discovery already measured: a big slice's key set
    * scales with the slice itself, and an unconditional broadcast would
    * OOM the driver / hit the 8 GB broadcast cap at 100 TB. Unknown
    * count (keyCounts not supplied) = no hint; Catalyst/AQE decide. */
  def rows(table: String): DataFrame = keys.get(table) match {
    case Some(k) =>
      val hinted =
        if (keyCounts.getOrElse(table, Long.MaxValue) <= broadcastKeyLimit) broadcast(k)
        else k
      loadTable(table).join(hinted, keyCols(table), "left_semi")
    case None => loadTable(table).limit(0)
  }

  def allRows: Map[String, DataFrame] = keys.keys.map(t => t -> rows(t)).toMap

  /** Manifest analog (slice_db/formats/manifest.py): per-table row count
    * of the slice. For tables whose declared key is UNIQUE, key count ==
    * row count and discovery already measured it — those entries are
    * driver-local metadata, zero Spark jobs. Tables with a non-unique
    * key (or a SliceResult built without counts) count their
    * materialized rows: key-tuple count would under-report there. */
  def manifest: DataFrame = {
    val (exact, counted) = keys.keys.toSeq.sorted.partition(t =>
      graph.table(t).unique && keyCounts.contains(t))
    val local = metaFrame("row_count", exact.map(t => t -> keyCounts(t)))
    val jobs = counted.map { t =>
      rows(t).groupBy().count()
        .select(lit(t).as("table_id"), col("count").as("row_count"))
    }
    (local +: jobs).reduce(_ union _)
  }

  /** Sequence-capture analog (slice_db/dump.py:216-250): the reference
    * records `last_value` of each serial; graft records max(key) per
    * sliced table so a restore can resume key generation. Discovery
    * already folded the max into its per-round action — driver-local. */
  def sequences: DataFrame =
    if (keys.nonEmpty && keys.keySet.subsetOf(keyMaxes.keySet))
      metaFrame("last_value", keys.keys.toSeq.sorted.map(t => t -> keyMaxes(t)))
    else
      keys.toSeq.sortBy(_._1).map { case (t, k) =>
        k.select(lit(t).as("table_id"),
          max(col(keyCols(t).head).cast("long")).as("last_value"))
      }.reduceOption(_ union _).getOrElse(metaFrame("last_value", Seq.empty))

  /** Tiny driver-local metadata frame (table_id, <valueCol>). */
  private def metaFrame(valueCol: String, data: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    SparkSession.active.createDataFrame(
      data.map { case (t, v) => Row(t, v) }.asJava,
      StructType(Seq(StructField("table_id", StringType),
        StructField(valueCol, LongType))))
  }
}
