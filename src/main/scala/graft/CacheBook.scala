package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle registry for memoized and persisted relations — the one
  * memo mechanism of the query families.
  *
  * A family builds its expensive relations once per (session, corpus)
  * and shares them with every query that reads them; a cache with no
  * release is an executor-memory leak across corpora in a long-lived
  * session. Two calls cover every site:
  *
  *  - [[memo]] — a relation (or scalar, or artifact path) that stays
  *    warm ACROSS query invocations. One build per key, even under
  *    concurrent callers; two keys build concurrently; a build that
  *    throws is retried by the next caller. Once the build succeeds the
  *    memo registers a NAMED release under its (scope, name) that evicts
  *    the cell, frees every frame the build kept and runs `onRelease`.
  *  - [[keep]] — registers the release of one persisted or checkpointed
  *    frame's blocks and returns the frame. Inside a memo build of the
  *    same (session, scope) the release attaches to the memo's name;
  *    elsewhere it is anonymous per-call state, freed only when its
  *    scope is.
  *
  * Scopes are the query-family prefixes ("d", "s", "slice", "x", ...).
  * A caller [[release]]s a scope once its last consumer has run (the
  * standalone CuratePipeline frees the "d" memos it built), and any
  * caller can [[releaseAll]] between corpora. Release both
  * frees the blocks and evicts the cell, so a later call rebuilds from
  * source instead of reading through a dead checkpoint (an unpersisted
  * localCheckpoint has no lineage to recompute from).
  *
  * Names make the memos observable: [[traced]] records which memos a
  * body read (PlanAudit and the plan-shape specs pair each with its
  * recorded build plan), and [[liveNamed]] lists the memos standing on
  * a session (perfbench reports how many outlive a request). A failed
  * build registers nothing: its kept frames are freed on the spot, so
  * no phantom name outlives it.
  */
object CacheBook {
  private final case class Entry(name: String, thunk: () => Unit)

  private val book =
    mutable.Map.empty[(SparkSession, String), mutable.ListBuffer[Entry]]

  /** Per-key build-once cell. The map monitor is held only to INSTALL a
    * cell; the build runs under the cell's own lazy-val lock, so two
    * keys build concurrently while one key builds exactly once. A build
    * that throws leaves the cell uninitialized and the next caller
    * retries. */
  private final class Cell(f: () => Any) { lazy val value: Any = f() }

  private val cells = mutable.Map.empty[(SparkSession, String, String, Any), Cell]

  // Active memo-access trace (at most one: traced is not reentrant). A
  // plain shared buffer — NOT a
  // ThreadLocal — because family builds fan out on driver threads and
  // those builds' accesses belong to the traced query.
  private var traceBuf: mutable.LinkedHashSet[(String, String)] = null

  /** A named build in progress: the releases registered on its thread
    * for the same (session, scope) collect here until it succeeds. Only
    * that thread ever sees it. */
  private final class Build(val s: SparkSession, val scope: String, val name: String) {
    val kept = mutable.ListBuffer.empty[Entry]
  }

  // Thread-local: concurrent builds each carry their own context on
  // their own thread.
  private val buildCtx = new ThreadLocal[List[Build]] {
    override def initialValue(): List[Build] = Nil
  }

  /** The value memoized under (scope, name, key) on `s`, built by
    * `build` on first use. See the object doc for the cell and release
    * contract; `onRelease` frees what the value itself holds outside
    * the block store (a store directory, an artifact path). */
  def memo[T](s: SparkSession, scope: String, name: String, key: Any)(
      build: => T): T =
    memo(s, scope, name, key, (_: T) => ())(build)

  /** [[memo]] whose release also runs `onRelease` on the value. */
  def memo[T](s: SparkSession, scope: String, name: String, key: Any,
      onRelease: T => Unit)(build: => T): T = {
    synchronized { if (traceBuf != null) traceBuf += ((scope, name)) }
    val k = (s, scope, name, key)
    val fresh = new Cell(() => {
      val (v, kept) = attached(s, scope, name)(build)
      val evict = Entry(name, () => {
        synchronized { cells.remove(k) }
        onRelease(v)
      })
      add(s, scope, evict :: kept)
      v
    })
    synchronized { cells.getOrElseUpdate(k, fresh) }.value.asInstanceOf[T]
  }

  /** Register the release of `df`'s blocks under `scope` and return
    * `df`. Pass the frame `persist` or `localCheckpoint` (eager or
    * lazy) returned: a checkpoint frame has its checkpointed RDD freed,
    * any other frame is unpersisted. */
  def keep(s: SparkSession, scope: String)(df: DataFrame): DataFrame = {
    val free: () => Unit = df.queryExecution.logical match {
      case lr: LogicalRDD => () => { lr.rdd.unpersist(false); () }
      case _ => () => { df.unpersist(false); () }
    }
    register(s, scope)(free)
    df
  }

  private def attached[T](s: SparkSession, scope: String, name: String)(
      body: => T): (T, List[Entry]) = {
    val b = new Build(s, scope, name)
    buildCtx.set(b :: buildCtx.get())
    try (body, b.kept.toList)
    catch { case e: Throwable => runAll(b.kept.toList); throw e }
    finally buildCtx.set(buildCtx.get().tail)
  }

  private def add(s: SparkSession, scope: String, es: List[Entry]): Unit =
    if (es.nonEmpty) synchronized {
      book.getOrElseUpdate((s, scope), mutable.ListBuffer.empty) ++= es
    }

  private def runAll(es: List[Entry]): Unit =
    es.foreach(e => try e.thunk() catch { case _: Throwable => () })

  /** Register an ANONYMOUS release thunk for `scope` on `s` — per-call
    * state with no cross-invocation warmth. Inside a named build for the
    * same (session, scope) it attaches to the build's name. The thunk
    * must be idempotent (release may race a session-wide releaseAll). */
  def register(s: SparkSession, scope: String)(thunk: () => Unit): Unit =
    buildCtx.get().find(b => (b.s eq s) && b.scope == scope) match {
      case Some(b) => b.kept += Entry(b.name, thunk); ()
      case None => add(s, scope, List(Entry("", thunk)))
    }

  /** Register a NAMED release thunk directly: it runs when its scope is
    * released, and [[liveNamed]] lists it until then. */
  def register(s: SparkSession, scope: String, name: String)(
      thunk: () => Unit): Unit = {
    require(name.nonEmpty, "named registration requires a non-empty name")
    add(s, scope, List(Entry(name, thunk)))
  }

  /** Run `body` with memo-access tracing active; returns (result,
    * accessed (scope, name) pairs in first-access order). Not reentrant:
    * PlanAudit and the plan-shape specs trace one query at a time. */
  def traced[T](body: => T): (T, Seq[(String, String)]) = {
    val buf = mutable.LinkedHashSet.empty[(String, String)]
    synchronized {
      require(traceBuf == null, "CacheBook.traced is not reentrant")
      traceBuf = buf
    }
    try { val r = body; (r, synchronized { traceBuf = null; buf.toSeq }) }
    catch { case e: Throwable => synchronized { traceBuf = null }; throw e }
  }

  /** Run and drop every thunk registered for (session, scope) — named
    * and anonymous alike (the family-boundary release). */
  def release(s: SparkSession, scope: String): Unit =
    runAll(synchronized { book.remove((s, scope)).map(_.toList).getOrElse(Nil) })

  /** Release every scope registered on the session. */
  def releaseAll(s: SparkSession): Unit = {
    val scopes = synchronized { book.keys.filter(_._1 eq s).map(_._2).toList }
    scopes.foreach(release(s, _))
  }

  /** Scopes currently holding registered caches for the session. */
  def liveScopes(s: SparkSession): Seq[String] =
    synchronized { book.keys.filter(_._1 eq s).map(_._2).toList.sorted }

  /** The NAMED memos currently live on the session, as (scope, name)
    * pairs; perfbench reports how many stand after a request. */
  def liveNamed(s: SparkSession): Set[(String, String)] = synchronized {
    book.iterator.collect { case ((sess, scope), es) if sess eq s =>
      es.iterator.filter(_.name.nonEmpty).map(e => (scope, e.name))
    }.flatten.toSet
  }

  // ---- memo build plans ------------------------------------------------
  // The family memos eagerly localCheckpoint (plan truncation — consumers
  // read a LogicalRDD leaf instead of re-planning and re-codegening the
  // build subtree). That hides the build's plan from consumers, so the
  // plan-shape invariants (PlanShapeSpec, AnnIndexStoreSpec) would lose
  // their teeth: memo builds record their FORMATTED executed plan here,
  // and the specs assert over query plan + touched build plans.
  private val buildPlans =
    mutable.Map.empty[(SparkSession, String, String), String]

  /** Record `df`'s formatted executed plan under (scope, name) and
    * return `df` — call on the pre-checkpoint build frame. */
  def recordBuildPlan(s: SparkSession, scope: String, name: String)(
      df: DataFrame): DataFrame = {
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    synchronized { buildPlans((s, scope, name)) = plan }
    df
  }

  /** The recorded build plan for (scope, name), or "" if none. */
  def buildPlan(s: SparkSession, scope: String, name: String): String =
    synchronized { buildPlans.getOrElse((s, scope, name), "") }

  /** Eagerly materialize a freshly-persisted relation — the SURVEY §4
    * rule as one audited helper: count() forces every partition into
    * the block store before any consumer reads it (a lazy persist lets
    * self-join branches and concurrent consumers race and compute the
    * build twice), and a failed materialization unpersists the partial
    * blocks so no unreleased cache leaks behind the exception. Returns
    * the input relation. */
  def materialize(df: DataFrame): DataFrame = {
    try df.count()
    catch { case e: Throwable => df.unpersist(false); throw e }
    df
  }

  /** Free the block-store data behind a `localCheckpoint` frame: the
    * checkpointed RDD hides under the plan's LogicalRDD leaves (plain
    * `unpersist()` on the Dataset does nothing — the cache manager never
    * saw it). Safe on non-checkpoint plans (no LogicalRDD leaf, no-op). */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}
