package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, LongType, StructType}
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

  /** One relation of the BFS: rows held on the driver (in their table's
    * column types), or a DataFrame (`small` = fits a broadcast). */
  private[operators] sealed trait Rel
  private[operators] final case class Held(rows: Seq[Row]) extends Rel
  private[operators] final case class Frame(df: DataFrame, small: Boolean) extends Rel

  /** Spark's cast of one external value from `from` to `to`, evaluated on
    * the driver (`mode` as in [[Cast]]; null in, null out). */
  private def cast(from: DataType, to: DataType, mode: EvalMode.Value): Any => Any =
    if (from == to) identity
    else {
      val c = Cast(BoundReference(0, from, nullable = true), to,
        Option(SQLConf.get.sessionLocalTimeZone), mode)
      val in = CatalystTypeConverters.createToCatalystConverter(from)
      val out = CatalystTypeConverters.createToScalaConverter(to)
      v => out(c.eval(InternalRow(in(v))))
    }

  /** Coerce a value into a column type as a join would compare it; null
    * when the type cannot hold it. */
  private[operators] def tryCast(from: DataType, to: DataType): Any => Any =
    cast(from, to, EvalMode.TRY)

  /** `cast(v as long)` with the session's semantics — the max a frame's
    * action computes in Spark, for a frame built on the driver. */
  private[operators] def castLong(from: DataType): Any => Any =
    cast(from, LongType, EvalMode.fromSQLConf(SQLConf.get))

  private[operators] def collectUpTo(c: Column, limit: Long): Column =
    ColumnBridge.column(
      CollectUpTo(ColumnBridge.expression(c), limit).toAggregateExpression())
}


/** Graph-guided subsetting — the Spark-native re-expression of the
  * reference's dump discovery loop (slice_db/dump_memory.py,
  * slice_db/dump.py:330-370).
  *
  * The reference walks the FK graph breadth-first, keeping every
  * discovered row ID in driver RAM (`_DiscoveryResult`, an IntSet per
  * table) and issuing one SQL query per (segment, reference). graft
  * advances the whole frontier one BFS round at a time:
  *
  *   frontier FK values --forward ref--> parent keys  (child pulls parents)
  *   frontier keys --reverse ref--> child keys        (parent pulls children)
  *   new keys = candidates minus discovered           (the IntSet dedup)
  *
  * Where the keys live: while a table has at most `broadcastKeyLimit`
  * discovered rows, its key set is HELD on the driver as rows — the gate
  * and bound under which a broadcast pulled it through the driver anyway.
  * Past the limit its new generations stay distributed (persisted
  * DataFrames, compacted every few rounds, shuffle anti-joins), so the
  * driver's share of a 100 TB slice stays bounded. Measuring a fresh
  * frame is one action: its count, max(first key cast to long) and, if
  * it fits, its rows ([[CollectUpTo]]: each partition keeps at most its
  * share of the table's remaining room, so the shuffle to the one
  * reducer carries at most room + #partitions rows, and the driver never
  * receives more than the limit). A held table's candidates are measured
  * before deduplication; only if they overflow is the deduplicated frame
  * measured by a second action. From held frontiers, FK value sets, set
  * differences against held keys and forward hops onto an aux-free
  * primary key are driver work; only a real scan launches a job — a
  * semi-join of `loadTable` against the held values as a broadcast
  * LocalRelation (the values stay in Spark: a JDBC source never receives
  * them in its WHERE). A table may hold keys and later receive a
  * distributed generation; its set differences then run in Spark. Rounds are bounded by the FK-graph diameter, not the data
  * size. Three things keep the per-round scan count minimal:
  *
  *   - frontier frames are AUGMENTED with the FK columns the next round
  *     needs, so expansion never re-reads the rows behind the frontier;
  *   - FK values aimed at an already-discovered table lose the seen keys
  *     FIRST, so a re-discovery scan whose values are all seen is skipped
  *     (held) or has an empty build side (distributed);
  *   - when an FK targets the parent's primary key and the parent needs
  *     no aux columns, the FK values ARE the discovered keys — the
  *     parent table is not scanned at all during discovery (the same
  *     FK-value semantics the reference's manifest counts).
  *
  * Held rows keep their table's own column types: FK values crossing a
  * reference are try-cast to the target's column types (an int FK onto a
  * bigint key becomes the bigint the join would compare; a value the
  * target type cannot hold matches no row and drops), so a driver-side
  * set difference drops exactly what the anti-join would.
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
  * the same scan the reverse path always uses (one extra scan per
  * parent table per round — correctness over speed).
  */
final class Slicer(
    graph: SchemaGraph,
    loadTable: String => DataFrame,
    broadcastKeyLimit: Long = 1000000L) {
  import Slicer.{Frame, Held, Rel}

  private def keyCols(t: String): Seq[String] = graph.table(t).key

  /** FK columns a frontier frame of `t` carries so the NEXT round can
    * expand straight off the frontier. */
  private def auxCols(t: String): Seq[String] =
    (graph.refsFrom(t).flatMap(_.columns) ++ graph.refsTo(t).flatMap(_.refColumns))
      .distinct.filterNot(keyCols(t).contains)

  /** Key columns first: a held row's key is its prefix. */
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

  /** How many distributed key generations a table accumulates before
    * they are compacted into one localCheckpoint'd frame. Generations are
    * individually cached, so anti-joins against their lazy union stay
    * cheap; compaction only exists to bound plan width on FK graphs far
    * deeper than any real schema — per-round eager checkpoints measured
    * 2-3x slower. */
  private val compactEvery = 8

  /** Discovery plus the exact key count and max(key) per table. Both
    * fall out of the per-frame action (or, for driver-built frames, the
    * held rows): the count gates broadcasts and IS the manifest (keys
    * are the declared primary key, so key count == row count), the max
    * IS the sequence capture — so manifest/sequences consumers cost zero
    * extra Spark jobs.
    *
    * @param priorKeys / @param priorCounts / @param priorMaxes a previous
    *   discovery's closed key state to extend incrementally */
  private def discover(
      roots: Seq[SliceRoot],
      priorKeys: Map[String, DataFrame] = Map.empty,
      priorCounts: Map[String, Long] = Map.empty,
      priorMaxes: Map[String, Long] = Map.empty)
      : (Map[String, DataFrame], Map[String, Long], Map[String, Long]) = {
    // discovery runs under the narrow profile (graft.Profiles): it
    // shuffles key columns only (a reduction of the row data), a round
    // chains several exchanges whose per-task overhead dominates once key
    // sets are small relative to the cluster, and AQE has nothing to
    // learn at runtime (key counts gate the broadcast hints explicitly).
    // The scope is refcounted, so independent discoveries may run
    // concurrently (slice_diff overlaps its two root cohorts).
    graft.Profiles.narrow(SparkSession.active) {
      discoverLoop(roots, priorKeys, priorCounts, priorMaxes)
    }
  }

  private def discoverLoop(
      roots: Seq[SliceRoot],
      priorKeys: Map[String, DataFrame],
      priorCounts: Map[String, Long],
      priorMaxes: Map[String, Long])
      : (Map[String, DataFrame], Map[String, Long], Map[String, Long]) = {
    val spark = SparkSession.active
    val types = collection.concurrent.TrieMap.empty[(String, Seq[String]), StructType]
    def typesOf(t: String, cols: Seq[String]): StructType =
      types.getOrElseUpdate((t, cols), loadTable(t).select(cols.map(col): _*).schema)
    def local(t: String, cols: Seq[String], rows: Iterable[Row]): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, typesOf(t, cols))
    def keyOf(t: String)(row: Row): Row = Row.fromSeq(row.toSeq.take(keyCols(t).size))

    // per table: HELD key tuples (in the table's key types), DISTRIBUTED
    // key generations and the persisted aug frames backing them
    // (unpersisted on compaction)
    val held = collection.mutable.Map.empty[String, collection.mutable.HashSet[Row]]
    var spread = Map.empty[String, Vector[DataFrame]]
    var genBases = Map.empty[String, Vector[DataFrame]]
    var counts = Map.empty[String, Long].withDefaultValue(0L) ++ priorCounts
    var maxes = Map.empty[String, Long] ++ priorMaxes
    var frontier = Map.empty[String, Rel]
    priorKeys.foreach { case (t, k) => k.queryExecution.analyzed match {
      case _: LocalRelation => // a held prior: collecting local data runs no job
        held(t) = collection.mutable.HashSet.from(k.collect().toSeq.map(keyOf(t)))
      case _ => spread += t -> Vector(k)
    }}
    def seenOf(t: String): Option[DataFrame] =
      (held.get(t).filter(_.nonEmpty).map(local(t, keyCols(t), _)) ++
        spread.getOrElse(t, Vector.empty)).reduceOption(_ union _)
    def asFrame(t: String, cols: Seq[String], r: Rel): Frame = r match {
      case Held(rows) => Frame(local(t, cols, rows), small = true)
      case f: Frame   => f
    }

    /** Values of `cols` of `t`'s frontier, renamed to `tt`'s columns `to`:
      * distinct, null-free, in `tt`'s column types. */
    def valsOf(t: String, from: Rel, cols: Seq[String], tt: String, to: Seq[String]): Rel =
      from match {
        case Held(rows) =>
          val idx = cols.map(augCols(t).indexOf)
          val conv = typesOf(t, cols).zip(typesOf(tt, to))
            .map { case (a, b) => Slicer.tryCast(a.dataType, b.dataType) }
          Held(rows.iterator.map(r => idx.map(r.get))
            .filterNot(_.contains(null))
            .map(_.zip(conv).map { case (v, c) => c(v) })
            .filterNot(_.contains(null))
            .map(Row.fromSeq).distinct.toVector)
        case Frame(df, small) =>
          Frame(df.select(cols.map(col): _*).na.drop("any").distinct().toDF(to: _*), small)
      }

    /** Candidate aug rows of target `tt` reached through its columns `jc`
      * carrying the FK value set `vals`; `forward` = a child frontier
      * pulling its parents. */
    def candidate(tt: String, jc: Seq[String], vals: Rel, forward: Boolean): Rel = {
      val keyRef = jc == keyCols(tt) // join lands on the target's primary key
      // keys already discovered can't be fresh: drop the seen keys FIRST
      // — on the driver while every seen key of `tt` is held, else by an
      // anti-join (AQE is off, see discover(); the win is the
      // semi-join's smaller build side)
      val fresh = if (!keyRef) vals else vals match {
        case Held(rows) if !spread.contains(tt) =>
          val seen = held.getOrElse(tt, collection.mutable.HashSet.empty[Row])
          Held(rows.filterNot(seen))
        case _ => seenOf(tt) match {
          case None => vals
          case Some(seen) =>
            val Frame(v, small) = asFrame(tt, jc, vals)
            Frame(v.join(if (counts(tt) <= broadcastKeyLimit) broadcast(seen) else seen,
              jc, "left_anti"), small)
        }
      }
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
      else fresh match {
        case Held(vs) if vs.isEmpty => fresh // every value seen: no scan
        case _ =>
          // the scan: a semi-join against the values (held ones as a
          // broadcast LocalRelation)
          val Frame(v, small) = asFrame(tt, jc, fresh)
          Frame(loadTable(tt).join(if (small) broadcast(v) else v, jc, "left_semi")
            .select(augCols(tt).map(col): _*), small = false)
      }
    }

    /** `rows` of a frame of `tt` (columns augCols(tt), types `schema`) in
      * `tt`'s own column types; a row whose key the cast loses drops. */
    def conform(tt: String, schema: StructType, rows: Seq[Row]): Seq[Row] = {
      val conv = schema.zip(typesOf(tt, augCols(tt)))
        .map { case (a, b) => Slicer.tryCast(a.dataType, b.dataType) }
      val nk = keyCols(tt).size
      rows.map(r => Row.fromSeq(conv.indices.map(i => if (r.isNullAt(i)) null else conv(i)(r.get(i)))))
        .filterNot(r => (0 until nk).exists(r.isNullAt))
    }

    def maxKey(tt: String, rows: Seq[Row]): Option[Long] = {
      val c = Slicer.castLong(typesOf(tt, keyCols(tt)).head.dataType)
      rows.iterator.map(r => c(r.get(0))).collect { case v: Long => v }.maxOption
    }

    // frames persisted by this round's actions, registered for release
    // after the round (see advance)
    val persisted = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

    /** One action over a fresh frame: count, max(first key cast to
      * long) and, while `tt` stays within broadcastKeyLimit discovered
      * rows, the rows themselves (each partition ships at most its share
      * of the room, see [[CollectUpTo]]). A frame too big to hold stays
      * persisted for the next round to expand. */
    def measure(tt: String, df: DataFrame): (Rel, Long, Option[Long]) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      persisted.add(p)
      val r = p.agg(count(lit(1)), max(col(keyCols(tt).head).cast("long")),
          Slicer.collectUpTo(struct(p.columns.toSeq.map(col): _*),
            broadcastKeyLimit - counts(tt)))
        .collect().head
      val n = r.getLong(0)
      if (r.isNullAt(2))
        (Frame(p, small = n <= broadcastKeyLimit), n, if (r.isNullAt(1)) None else Some(r.getLong(1)))
      else {
        p.unpersist(false)
        val rows = conform(tt, p.schema, r.getSeq[Row](2))
        (Held(rows), rows.size.toLong, maxKey(tt, rows))
      }
    }

    /** `tt`'s fresh frontier from the round's candidates: the distinct
      * candidate rows whose key is not yet discovered, with count and
      * max. Driver work while every candidate and seen key of `tt` is
      * held; otherwise one action on the candidate frames (a second,
      * anti-joining in Spark, only if they turn out too big to hold). */
    def settle(tt: String, cands: Seq[Rel]): (Rel, Long, Option[Long]) = {
      val heldRows = cands.collect { case Held(rows) => rows }.flatten
      val frames = cands.collect { case Frame(df, _) => df.select(augCols(tt).map(col): _*) }
      def inSpark(dfs: Seq[DataFrame]): (Rel, Long, Option[Long]) = {
        val cand = (dfs ++ Option.when(heldRows.nonEmpty)(local(tt, augCols(tt), heldRows)))
          .reduce(_ union _).distinct()
        measure(tt, seenOf(tt).fold(cand)(seen => cand.join(seen, keyCols(tt), "left_anti")))
      }
      def onDriver(rows: Seq[Row]): (Rel, Long, Option[Long]) = {
        val seen = held.getOrElse(tt, collection.mutable.HashSet.empty[Row])
        val fresh = rows.distinct.filterNot(r => seen(keyOf(tt)(r)))
        val rel = if (counts(tt) + fresh.size <= broadcastKeyLimit) Held(fresh)
          else asFrame(tt, augCols(tt), Held(fresh))
        (rel, fresh.size.toLong, maxKey(tt, fresh))
      }
      if (spread.contains(tt)) inSpark(frames)
      else if (frames.isEmpty) onDriver(heldRows)
      else measure(tt, frames.reduce(_ union _)) match {
        case (Held(rows), _, _) => onDriver(heldRows ++ rows)
        case (big: Frame, _, _) =>
          val out = inSpark(Seq(big.df))
          big.df.unpersist(false)
          out
      }
    }

    var round = 0

    /** Settle every target's candidates into the next frontier and fold
      * it into the discovered state. The targets' actions run side by
      * side on [[graft.Par]]'s bounded per-call pool, each under the job
      * description `slice/round-<k>/<table>` (actions are only
      * sequential because a driver calls them sequentially; the planning
      * gaps between them dominated the r14 round). */
    def advance(cands: Seq[(String, Seq[Rel])]): Unit = {
      val t0 = System.nanoTime()
      val k = round
      round += 1
      val settled =
        try graft.Par.each(cands) { case (tt, rels) =>
          spark.sparkContext.setJobDescription(s"slice/round-$k/$tt")
          tt -> settle(tt, rels)
        } finally {
          // session-lifetime discovery state is family-scoped: the cache
          // manager holds persisted frames forever unless unpersisted, so
          // every generation registers for release (double-unpersist is a
          // harmless no-op). Registered here, on the calling thread, where
          // CacheBook's thread-local build context attaches them to a
          // memo under construction.
          persisted.asScala.foreach(p => graft.CacheBook.keep(p.sparkSession, "slice")(p))
          persisted.clear()
        }
      frontier = Map.empty
      settled.foreach {
        case (tt, (rel, n, mx)) if n > 0 =>
          frontier += tt -> rel
          counts += tt -> (counts(tt) + n)
          mx.foreach(m => maxes += tt -> math.max(maxes.getOrElse(tt, Long.MinValue), m))
          rel match {
            case Held(rows) =>
              held.getOrElseUpdate(tt, collection.mutable.HashSet.empty) ++= rows.map(keyOf(tt))
            case Frame(df, _) =>
              val bases = genBases.getOrElse(tt, Vector.empty) :+ df
              val keysV = spread.getOrElse(tt, Vector.empty) :+
                df.select(keyCols(tt).map(col): _*)
              if (keysV.size < compactEvery) {
                genBases += tt -> bases
                spread += tt -> keysV
              } else {
                // compact: one checkpointed frame replaces the generation
                // stack, bounding plan width on very deep FK graphs. The
                // live frontier frame stays persisted (the next round
                // still expands it); it is released on the NEXT compaction.
                val merged = keysV.reduce(_ union _).localCheckpoint(true)
                graft.CacheBook.keep(merged.sparkSession, "slice")(merged)
                bases.filterNot(_ eq df).foreach(_.unpersist())
                genBases += tt -> Vector(df)
                spread += tt -> Vector(merged)
              }
          }
        case (_, (Frame(df, _), _, _)) => df.unpersist()
        case _ => ()
      }
      // operational visibility only; no behavior change
      if (sys.env.contains("GRAFT_SLICE_DEBUG"))
        System.err.println(f"[slicer] round: ${(System.nanoTime() - t0) / 1e9}%.2fs " +
          s"fresh=${settled.collect { case (t, (r, n, _)) if n > 0 =>
            s"$t:$n${if (r.isInstanceOf[Held]) "(held)" else ""}" }.mkString(",")}")
    }

    // seed: root conditions (multi-root unions on the same table dedup
    // through the same set difference as everything else); when
    // extending, seeds already covered by the prior slice drop out here
    advance(roots.groupBy(_.table).toSeq.map { case (t, rs) =>
      val cond = rs.map(r => s"(${r.condition})").mkString(" OR ")
      t -> Seq(Frame(loadTable(t).filter(expr(cond)).select(augCols(t).map(col): _*),
        small = false))
    })

    while (frontier.nonEmpty) {
      // gather candidate keys per adjacent table from every live frontier
      val candidates = collection.mutable.LinkedHashMap.empty[String, Vector[Rel]]
      def add(tt: String, c: Rel): Unit =
        candidates(tt) = candidates.getOrElse(tt, Vector.empty) :+ c
      frontier.foreach { case (t, rel) =>
        graph.refsFrom(t).foreach { r => // forward: child -> parent
          add(r.refTable, candidate(r.refTable, r.refColumns,
            valsOf(t, rel, r.columns, r.refTable, r.refColumns), forward = true))
        }
        graph.refsTo(t).foreach { r => // reverse: parent -> children
          add(r.table, candidate(r.table, r.columns,
            valsOf(t, rel, r.refColumns, r.table, r.columns), forward = false))
        }
      }
      advance(candidates.toSeq)
    }
    val tables = held.collect { case (t, ks) if ks.nonEmpty => t }.toSet ++ spread.keySet
    (tables.map(t => t -> seenOf(t).get).toMap, counts, maxes)
  }

  /** Run discovery ONCE; everything (rows, manifest, sequences) derives
    * from the discovered key sets and their already-known counts/maxes. */
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

/** A completed discovery: per-table key sets (DataFrames of key columns
  * only: a LocalRelation of the driver-held keys, persisted or
  * checkpointed distributed generations, or the union of both) plus the key counts/maxes the BFS
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
