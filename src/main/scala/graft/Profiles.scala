package graft

import org.apache.spark.sql.SparkSession

/** Session execution profiles scoped around a body.
  *
  * The NARROW profile is the one every graft loop over key-sized
  * relations runs under: slice discovery's semi-join fixpoint, the
  * connected-components / label-propagation / k-core / seed-BFS graph
  * loops, the MMR greedy loop and the ANN beam walk. It pins
  *   - `spark.sql.shuffle.partitions` to [[NarrowWidth]]: the loop's
  *     relations are key- or label-table-sized, and a session width
  *     sized to the fact tables (DEPLOY.md: 8000) would fan each tiny
  *     round into thousands of tasks;
  *   - `spark.sql.adaptive.enabled` to false: every plan inside reads
  *     eager checkpoints or driver-measured key sets, so AQE has nothing
  *     to re-plan, yet it splits each round's one action into 3-4
  *     sequential query-stage jobs, and the loops are round-latency bound
  *     (A/B-measured: the label loops ran ~2x faster at identical results
  *     once each round was one job again).
  *
  * The scope is REFCOUNTED per session under one lock: the first
  * entrant records the session's two values and pins the profile, later
  * entrants only bump the count, and the last exit restores the
  * recorded values. Every entrant pins the same values, so overlapping
  * and nested scopes share one pin safely — a plain save/set/restore
  * per entrant does not: when two overlap, the second saves the first's
  * temporary values and, exiting last, leaves the session pinned for
  * every later query. This object is the only code that writes these
  * two keys on a caller's session (EagerPersistSpec holds that), so no
  * restore can capture another mechanism's temporary value.
  *
  * The pin is session-wide: a query that plans on the same session
  * while a narrow scope is open plans narrow too. Bodies therefore hold
  * no corpus-scale build — callers materialize their heavy inputs
  * before entering (Dedup.clusterLabels). */
object Profiles {
  /** The narrow profile's shuffle width. */
  val NarrowWidth = "8"

  private val WidthKey = "spark.sql.shuffle.partitions"
  private val AqeKey = "spark.sql.adaptive.enabled"

  /** Per session: (open scopes, recorded width, recorded AQE flag). */
  private val open = collection.mutable.Map.empty[SparkSession, (Int, String, String)]

  /** Run `body` with `spark` under the narrow profile (see the object
    * doc); the session's previous values return when the last open
    * scope on it exits, also when `body` throws. */
  def narrow[T](spark: SparkSession)(body: => T): T = {
    open.synchronized {
      open.get(spark) match {
        case Some((n, w, a)) => open(spark) = (n + 1, w, a)
        case None =>
          open(spark) = (1, spark.conf.get(WidthKey), spark.conf.get(AqeKey))
          spark.conf.set(WidthKey, NarrowWidth)
          spark.conf.set(AqeKey, "false")
      }
    }
    try body
    finally open.synchronized {
      val (n, w, a) = open(spark)
      if (n == 1) {
        open.remove(spark)
        spark.conf.set(WidthKey, w)
        spark.conf.set(AqeKey, a)
      } else open(spark) = (n - 1, w, a)
    }
  }
}
